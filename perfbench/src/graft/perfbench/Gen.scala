package graft.perfbench

/** Seeded input generation. The corpus is a Gaussian mixture: `clusters`
  * unit-variance centres in `dim` dimensions, each point its centre plus
  * isotropic noise of standard deviation `spread`. Clusters overlap enough
  * that an ivf index probing a few of its cells misses some true
  * neighbours, so recall@10 sits below 1 and can move. The centres are
  * one fixed layout and the workload seed draws the points: every seed
  * samples the same distribution, so index cells and buckets, and the
  * work an operation does, vary little from seed to seed. Every stream
  * (corpus, queries, operation sequence) has its own generator derived
  * from the workload seed, so adding draws to one stream never shifts
  * another. */
final class Mixture(layoutSeed: Long, val dim: Int, clusters: Int, spread: Double) {
  private val centres: Array[Array[Double]] = {
    val r = Gen.rng(layoutSeed, 0)
    Array.fill(clusters)(Array.fill(dim)(r.nextGaussian()))
  }

  def draw(r: java.util.Random): Array[Float] = {
    val c = centres(r.nextInt(clusters))
    Array.tabulate(dim)(i => (c(i) + spread * r.nextGaussian()).toFloat)
  }

  def draw(r: java.util.Random, n: Int): Array[Array[Float]] = Array.fill(n)(draw(r))
}

object Gen {
  val Dim = 64
  val Clusters = 96
  val Spread = 1.25

  /** Seed of the fixed centre layout. */
  val LayoutSeed = 1L

  val mixture: Mixture = new Mixture(LayoutSeed, Dim, Clusters, Spread)

  /** An independent generator for `stream` of workload `seed`. */
  def rng(seed: Long, stream: Int): java.util.Random =
    new java.util.Random(new java.util.SplittableRandom(seed * 1000003L + stream).nextLong())

  /** A chunk's text; its byte length counts toward the raw bytes ingested. */
  def text(chunkId: Long): String = s"chunk $chunkId"

  def docOf(chunkId: Long): Long = chunkId / 100
}

/** One serve-mixed client operation. */
sealed trait ServeOp { def kind: String }
object ServeOp {
  final case class Search(query: Array[Float]) extends ServeOp { def kind = "search" }
  /** `rows` = (chunk id, vector); about half new ids, half re-upserts. */
  final case class Upsert(rows: Seq[(Long, Array[Float])]) extends ServeOp { def kind = "upsert" }
  final case class Delete(ids: Seq[Long]) extends ServeOp { def kind = "delete" }
  case object Compact extends ServeOp { def kind = "compact" }
}

/** A set of live ids with uniform sampling and O(1) add/remove. */
final class LiveIds(initial: Seq[Long]) {
  private val ids = scala.collection.mutable.ArrayBuffer[Long](initial: _*)
  private val pos = scala.collection.mutable.HashMap[Long, Int]()
  ids.indices.foreach(i => pos(ids(i)) = i)

  def size: Int = ids.length
  def add(id: Long): Unit = if (!pos.contains(id)) { pos(id) = ids.length; ids += id }
  def remove(id: Long): Unit = pos.remove(id).foreach { i =>
    val last = ids.remove(ids.length - 1)
    if (last != id) { ids(i) = last; pos(last) = i }
  }
  /** `k` distinct live ids drawn uniformly with `r`. */
  def pick(r: java.util.Random, k: Int): Seq[Long] = {
    require(k <= ids.length, s"cannot pick $k of ${ids.length} live ids")
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    while (out.size < k) out += ids(r.nextInt(ids.length))
    out.toSeq
  }
}

/** The serve-mixed operation sequence, in decks of ten requests: seven
  * single-query searches, two upserts of [[ServeOps.UpsertRows]] rows (half
  * new ids, half re-upserts of live ids) and one delete of
  * [[ServeOps.DeleteRows]] live ids. The three writes land in seeded gaps
  * between searches, never first and never adjacent, so every deck has
  * the same shape: four searches on a warm snapshot memo and three that
  * directly follow a write, each write preceded by a search. A compaction
  * closes every deck, so the changelog length cycles instead of growing
  * with run length. The generator keeps its own live-id set, so the
  * sequence depends only on the seed and the initial ids, never on what
  * the store returns. */
final class ServeOps(seed: Long, mix: Mixture, initialIds: Seq[Long], lastId: Long)
    extends Iterator[ServeOp] {
  import ServeOps._
  private val r = Gen.rng(seed, 2)
  private val live = new LiveIds(initialIds)
  private var nextId = lastId
  private var deck: List[String] = Nil

  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val l = new java.util.ArrayList[T]()
    xs.foreach(l.add)
    java.util.Collections.shuffle(l, r)
    scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
  }

  /** Seven searches with the writes in three of the six inner gaps. */
  private def newDeck(): List[String] = {
    val gaps = shuffled(1 until Searches).take(Writes.length).sorted
    val writes = shuffled(Writes).iterator
    (0 until Searches).toList.flatMap(i => (if (gaps.contains(i)) List(writes.next()) else Nil) :+ "search") :+
      "compact"
  }

  def hasNext: Boolean = true

  def next(): ServeOp = {
    if (deck.isEmpty) deck = newDeck()
    val kind = deck.head
    deck = deck.tail
    kind match {
      case "search" => ServeOp.Search(mix.draw(r))
      case "upsert" =>
        val again = live.pick(r, UpsertRows / 2)
        val fresh = (0 until UpsertRows - again.length).map { _ => nextId += 1; nextId }
        fresh.foreach(live.add)
        ServeOp.Upsert((fresh ++ again).map(id => id -> mix.draw(r)))
      case "delete" =>
        val ids = live.pick(r, DeleteRows)
        ids.foreach(live.remove)
        ServeOp.Delete(ids)
      case _ => ServeOp.Compact
    }
  }
}

object ServeOps {
  val UpsertRows = 8
  val DeleteRows = 4
  val Searches = 7
  val Writes: Seq[String] = Seq("upsert", "upsert", "delete")
}
