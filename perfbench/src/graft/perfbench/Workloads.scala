package graft.perfbench

import java.io.File

import scala.collection.mutable

import graft.api.GraftDb

/** What a workload run hands back: its end-to-end metrics, the
  * workload-specific figures behind them, and what the traced run's layer
  * metrics need (the corpus for the probes, the store for the sources
  * layer). */
final case class Outcome(e2e: Seq[(String, Double, String)],
                         detail: Seq[(String, Double, String)],
                         corpus: Array[Array[Float]],
                         root: File,
                         userBytes: Long,
                         chunkLogFiles: Seq[Int],
                         readsAfterWrite: Int,
                         reads: Int)

object Workloads {
  val Dim: Int = Gen.Dim
  val K = 10
  val Centroids = 64
  val NProbes = 4
  val TrainIters = 3

  def byName(name: String): Harness => Outcome = name match {
    case "bulk-search" => h => new BulkSearch(h).run()
    case "serve-mixed" => h => new ServeMixed(h).run()
    case "ingest-build" => h => new IngestBuild(h).run()
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rows(lib: Long, vs: Iterable[(Long, Array[Float])]): Seq[(Long, Long, Long, String, Array[Float])] =
    vs.map { case (id, v) => (lib, Gen.docOf(id), id, Gen.text(id), v) }.toSeq

  def userBytes(ids: Iterable[Long]): Long = ids.iterator.map(id => Store.rawBytes(Dim, Gen.text(id))).sum

  /** Hits must equal the exact top-k (ids, ranks and 4-dp scores). */
  def checkExact(h: Harness, what: String, got: Seq[(Long, Double)], exact: Seq[(Long, Double)]): Unit =
    h.check(got == exact, s"$what: hits $got differ from exact top-$K $exact")

  def chunkLogFiles(root: String): Int = Store.parquetFiles(new File(root, "chunks_log"))
}

/** Read-only batch analytics: one flat, one ivf (trained, standing index)
  * and one lsh (standing key table) library over the same corpus; each
  * operation is one searchAll of a [[BulkSearch.Q]]-query frame, cycling
  * flat → ivf → lsh. The snapshot memo stays warm throughout. */
final class BulkSearch(h: Harness) {
  import BulkSearch._
  import Workloads._

  private val mix = Gen.mixture
  private val corpus = mix.draw(Gen.rng(h.seed, 1), N)
  private val frames = { val r = Gen.rng(h.seed, 3); Array.fill(Frames)(mix.draw(r, Q)) }
  private val families = Seq("flat" -> 1L, "ivf" -> 2L, "lsh" -> 3L)

  def run(): Outcome = {
    val root = h.freshRoot("bulk-search")
    val ids = corpus.indices.map(_.toLong)
    val results = mutable.Map[(String, Int), Map[Long, Seq[(Long, Double)]]]()
    val chunkFiles = mutable.ArrayBuffer[Int]()
    val (db, frameDfs) = h.timedSetup {
      val db = h.api("open")(new GraftDb(h.spark, root))
      families.foreach { case (ty, lib) => h.api("createLibrary")(db.createLibrary(lib, ty, Dim, ty)) }
      // one batch fills all three libraries
      h.api("upsertChunks")(db.upsertChunks(families.flatMap { case (_, lib) => rows(lib, ids.zip(corpus)) }))
      h.api("trainIndex")(db.trainIndex(2L, Centroids, TrainIters))
      h.api("buildIndex")(db.buildIndex(2L))
      h.api("buildLshIndex")(db.buildLshIndex(3L))
      val dfs = frames.map(h.frame)
      // warm-up cycles keep the first batches' code generation, class
      // loading and JIT compilation out of the window
      for (c <- 0 until WarmCycles; (ty, lib) <- families)
        results((ty, c % Frames)) = h.searchAll(db, s"searchAll.$ty", lib, dfs(c % Frames), K, NProbes)
      (db, dfs)
    }
    var i = 0
    h.window(() => {
      val (ty, lib) = families(i % families.length)
      val f = (i / families.length) % Frames
      if (h.tracer.enabled) chunkFiles += chunkLogFiles(root)
      h.op(s"search.$ty")(h.searchAll(db, s"searchAll.$ty", lib, frameDfs(f), K, NProbes))
        .foreach(r => results((ty, f)) = r)
      i += 1
    }, () => i % families.length == 0)

    // checks and recall, outside the timed window
    val byId = ids.zip(corpus)
    val recalls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    for (f <- 0 until Frames; flat <- results.get(("flat", f))) {
      h.check(flat.size == Q && flat.values.forall(_.length == K),
        s"flat frame $f returned ${flat.size} queries, expected $Q with $K hits each")
      (0 until CheckQueries).foreach { q =>
        checkExact(h, s"flat frame $f query $q", flat.getOrElse(q.toLong, Nil),
          Exact.topK(frames(f)(q), byId, K))
      }
      for (ty <- Seq("ivf", "lsh"); got <- results.get((ty, f)); q <- 0 until Q) {
        val exact = flat.getOrElse(q.toLong, Nil).map(_._1)
        recalls.getOrElseUpdate(ty, mutable.ArrayBuffer()) +=
          Exact.recall(got.getOrElse(q.toLong, Nil).map(_._1), exact)
      }
    }
    val recall = recalls.map { case (ty, rs) => ty -> rs.sum / rs.length }
    val med = families.map { case (ty, _) => ty -> h.median(s"search.$ty") }.toMap
    Outcome(
      e2e = Seq(
        ("op_p50_ms", Stats.geomean(med.values.toSeq), "ms"),
        // queries per second of a median flat → ivf → lsh cycle: medians,
        // so one slow batch does not move it
        ("read_qps", families.length * Q * 1000.0 / med.values.sum, "1/s"),
        ("recall_at_10", recall("ivf"), "ratio")),
      detail = families.map { case (ty, _) => (s"${ty}_qps", Q * 1000.0 / med(ty), "1/s") } ++ Seq(
        ("ivf_recall_at_10", recall("ivf"), "ratio"),
        ("lsh_recall_at_10", recall("lsh"), "ratio")),
      corpus = corpus,
      root = new File(root),
      userBytes = 3 * userBytes(ids),
      chunkLogFiles = chunkFiles.toSeq,
      readsAfterWrite = 0,
      reads = i)
  }
}

object BulkSearch {
  val N = 20000
  val Q = 256
  /** Distinct query frames cycled through the window. */
  val Frames = 4
  /** Queries per flat frame checked against the driver-side exact top-k. */
  val CheckQueries = 8
  /** flat → ivf → lsh cycles run in the set-up, before the window. */
  val WarmCycles = 2
}

/** The interactive facade: one ivf library with a standing index, driven
  * by the seeded [[ServeOps]] sequence. Every write invalidates the
  * snapshot memo and appends a log file, so the fold, log reads and
  * per-job scheduling dominate while the kernels idle. */
final class ServeMixed(h: Harness) {
  import ServeMixed._
  import Workloads._

  private val mix = Gen.mixture
  private val corpus = mix.draw(Gen.rng(h.seed, 1), N)

  def run(): Outcome = {
    val root = h.freshRoot("serve-mixed")
    val model = mutable.HashMap[Long, Array[Float]]()
    corpus.indices.foreach(i => model(i.toLong) = corpus(i))
    val chunkFiles = mutable.ArrayBuffer[Int]()
    var userBytes = Workloads.userBytes(model.keys)
    val warmR = Gen.rng(h.seed, 5)
    def search(db: GraftDb, q: Array[Float]): Seq[(Long, Double)] =
      Harness.hits(h.api("search")(db.search(Lib, q, k = K, nProbes = NProbes).collect()))

    val db = h.timedSetup {
      val db = h.api("open")(new GraftDb(h.spark, root))
      h.api("createLibrary")(db.createLibrary(Lib, "serve", Dim, "ivf"))
      h.api("upsertChunks")(db.upsertChunks(rows(Lib, model.toSeq.sortBy(_._1))))
      h.api("trainIndex")(db.trainIndex(Lib, Centroids, TrainIters))
      h.api("buildIndex")(db.buildIndex(Lib))
      // warm every request path once: search, upsert, search-after-write,
      // delete, and a search again, as each deck starts on a warm memo
      search(db, mix.draw(warmR))
      val warm = (N.toLong until N.toLong + ServeOps.UpsertRows).map(id => id -> mix.draw(warmR))
      h.api("upsertChunks")(db.upsertChunks(rows(Lib, warm)))
      search(db, mix.draw(warmR))
      val gone = warm.take(ServeOps.DeleteRows).map(_._1)
      h.api("deleteChunksBatch")(db.deleteChunksBatch(Lib, gone))
      search(db, mix.draw(warmR))
      model ++= warm
      gone.foreach(model.remove)
      userBytes += Workloads.userBytes(warm.map(_._1))
      db
    }

    val ops = new ServeOps(h.seed, mix, model.keys.toSeq.sorted, model.keys.max)
    var afterWrite = false
    var deckDone = false
    var reads = 0
    var readsAfterWrite = 0
    def checkHits(q: Array[Float], got: Seq[(Long, Double)]): Unit = {
      h.check(got.length == K, s"search returned ${got.length} hits, expected $K")
      got.foreach { case (id, score) =>
        model.get(id) match {
          case None => h.check(false, s"search returned chunk $id, which is not live")
          case Some(v) =>
            val want = Exact.round4(Exact.cosine(q, v))
            h.check(score == want, s"chunk $id scored $score, expected $want")
        }
      }
    }
    h.window(() => {
      val op = ops.next()
      deckDone = op == ServeOp.Compact
      op match {
        case ServeOp.Search(q) =>
          if (h.tracer.enabled) chunkFiles += chunkLogFiles(root)
          val kind = if (afterWrite) "search.after_write" else "search.warm"
          h.op(kind)(search(db, q)).foreach { got =>
            reads += 1
            if (afterWrite) readsAfterWrite += 1
            checkHits(q, got)
          }
          afterWrite = false
        case ServeOp.Upsert(vs) =>
          h.op("upsert")(h.api("upsertChunks")(db.upsertChunks(rows(Lib, vs)))).foreach { _ =>
            model ++= vs
            userBytes += Workloads.userBytes(vs.map(_._1))
          }
          afterWrite = true
        case ServeOp.Delete(ids) =>
          h.op("delete")(h.api("deleteChunksBatch")(db.deleteChunksBatch(Lib, ids)))
            .foreach(_ => ids.foreach(model.remove))
          afterWrite = true
        case ServeOp.Compact =>
          h.op("compact")(h.api("compact")(db.compact())).foreach { _ =>
            val n = h.tracer.untraced(db.stats(Lib).collect().head.getAs[Long]("n_chunks"))
            h.check(n == model.size, s"after compact stats() has $n chunks, the model ${model.size}")
          }
          afterWrite = true
      }
    }, () => deckDone)

    // recall over a larger query set than the window's searches, untimed
    val probe = mix.draw(Gen.rng(h.seed, 7), RecallQ)
    val probeHits = h.tracer.untraced(h.searchAll(db, "searchAll.ivf", Lib, h.frame(probe), K, NProbes))
    val recalls = probe.indices.map { q =>
      val got = probeHits.getOrElse(q.toLong, Nil)
      checkHits(probe(q), got)
      Exact.recall(got.map(_._1), Exact.topK(probe(q), model, K).map(_._1))
    }

    val med = RequestKinds.map(k => k -> h.median(k)).toMap
    val searches = h.samples("search.warm") ++ h.samples("search.after_write")
    Outcome(
      e2e = Seq(
        ("op_p50_ms", Stats.geomean(med.values.toSeq), "ms"),
        // searches per second at the median latency of each kind, weighted
        // as a deck mixes them: 4 warm searches to 3 after a write
        ("read_qps", ServeOps.Searches * 1000.0 / (
          (ServeOps.Searches - ServeOps.Writes.length) * med("search.warm") +
            ServeOps.Writes.length * med("search.after_write")), "1/s"),
        ("recall_at_10", recalls.sum / recalls.length, "ratio")),
      detail = Seq(
        ("search_p50_ms", Stats.median(searches.toSeq), "ms"),
        ("search_warm_p50_ms", med("search.warm"), "ms"),
        ("search_after_write_p50_ms", med("search.after_write"), "ms"),
        ("upsert_p50_ms", med("upsert"), "ms"),
        ("delete_p50_ms", med("delete"), "ms")) ++
        Seq("search" -> searches, "upsert" -> h.samples("upsert")).flatMap { case (k, xs) =>
          Stats.tail(xs.toSeq).toSeq.flatMap(t => Seq(
            (s"${k}_tail_ms", t.value, "ms"), (s"${k}_tail_pct", t.pct, "%"), (s"${k}_tail_n", t.n.toDouble, "count")))
        } ++
        h.samples.get("compact").map(s => ("compact_s", Stats.median(s.toSeq) / 1000, "s")).toSeq,
      corpus = corpus,
      root = new File(root),
      userBytes = userBytes,
      chunkLogFiles = chunkFiles.toSeq,
      readsAfterWrite = readsAfterWrite,
      reads = reads)
  }
}

object ServeMixed {
  val N = 20000
  val Lib = 1L
  val RequestKinds: Seq[String] = Seq("search.warm", "search.after_write", "upsert", "delete")
  /** Queries of the untimed recall probe after the window. */
  val RecallQ = 256
}

/** Index maintenance: an ivf and an lsh library over the same corpus. Each
  * cycle churns [[IngestBuild.ChurnShare]] of the live rows (deletes and
  * inserts the same number, so live size holds), retrains and rebuilds
  * both standing indexes, and compacts. */
final class IngestBuild(h: Harness) {
  import IngestBuild._
  import Workloads._

  private val mix = Gen.mixture
  private val corpus = mix.draw(Gen.rng(h.seed, 1), N)
  private val probes = mix.draw(Gen.rng(h.seed, 3), ProbeQ)

  def run(): Outcome = {
    val root = h.freshRoot("ingest-build")
    val model = mutable.HashMap[Long, Array[Float]]()
    corpus.indices.foreach(i => model(i.toLong) = corpus(i))
    val live = new LiveIds(model.keys.toSeq.sorted)
    val r = Gen.rng(h.seed, 4)
    var nextId = N.toLong
    var userBytes = 2 * Workloads.userBytes(model.keys)
    var rowsIngested = 0L
    val spaceAmps = mutable.ArrayBuffer[Double]()
    val recalls = mutable.ArrayBuffer[Double]()
    val chunkFiles = mutable.ArrayBuffer[Int]()
    var reads = 0

    val (db, probeDf) = h.timedSetup {
      val db = h.api("open")(new GraftDb(h.spark, root))
      Libs.foreach { case (ty, lib) =>
        h.api("createLibrary")(db.createLibrary(lib, ty, Dim, ty))
        h.api("upsertChunks")(db.upsertChunks(rows(lib, model.toSeq.sortBy(_._1))))
      }
      build(db)
      val df = h.frame(probes)
      h.searchAll(db, "searchAll.ivf", IvfLib, df, K, NProbes)
      (db, df)
    }

    h.window { () =>
      val n = (N * ChurnShare).toInt
      val victims = live.pick(r, n)
      val fresh = (0 until n).map { _ => nextId += 1; nextId -> mix.draw(r) }
      fresh.grouped(Batch).foreach { batch =>
        Libs.foreach { case (_, lib) =>
          h.op("upsert")(h.api("upsertChunks")(db.upsertChunks(rows(lib, batch))))
            .foreach(_ => rowsIngested += batch.length)
        }
        batch.foreach { case (id, v) => model(id) = v; live.add(id) }
      }
      victims.grouped(Batch).foreach { batch =>
        Libs.foreach { case (_, lib) => h.op("delete")(h.api("deleteChunksBatch")(db.deleteChunksBatch(lib, batch))) }
        batch.foreach { id => model.remove(id); live.remove(id) }
      }
      userBytes += 2 * Workloads.userBytes(fresh.map(_._1))
      h.op("build")(build(db))
      def probe(): Option[Map[Long, Seq[(Long, Double)]]] = {
        if (h.tracer.enabled) chunkFiles += chunkLogFiles(root)
        reads += 1
        h.op("read")(h.searchAll(db, "searchAll.ivf", IvfLib, probeDf, K, NProbes))
      }
      val before = probe()
      h.op("compact")(h.api("compact")(db.compact()))
      val after = probe()
      for (b <- before; a <- after)
        h.check(a == b, "probe hits changed across compact()")
      before.foreach { b =>
        probes.indices.foreach { q =>
          recalls += Exact.recall(b.getOrElse(q.toLong, Nil).map(_._1), Exact.topK(probes(q), model, K).map(_._1))
        }
      }
      spaceAmps += Store.spaceAmp(new File(root), 2 * Workloads.userBytes(model.keys))
    }

    val med = CycleKinds.map(h.median)
    val upsertMs = h.samples("upsert").sum
    Outcome(
      e2e = Seq(
        ("op_p50_ms", Stats.geomean(med), "ms"),
        ("read_qps", ProbeQ * 1000.0 / h.median("read"), "1/s"),
        ("recall_at_10", recalls.sum / recalls.length, "ratio")),
      detail = Seq(
        ("ingest_rows_per_s", rowsIngested * 1000.0 / upsertMs, "1/s"),
        ("build_s", h.median("build") / 1000, "s"),
        ("compact_s", h.median("compact") / 1000, "s"),
        ("space_amp", Stats.median(spaceAmps.toSeq), "ratio")),
      corpus = corpus,
      root = new File(root),
      userBytes = userBytes,
      chunkLogFiles = chunkFiles.toSeq,
      readsAfterWrite = reads,
      reads = reads)
  }

  /** Retrain and rebuild both standing indexes. */
  private def build(db: GraftDb): Unit = {
    h.api("trainIndex")(db.trainIndex(IvfLib, Centroids, TrainIters))
    h.api("buildIndex")(db.buildIndex(IvfLib))
    h.api("buildLshIndex")(db.buildLshIndex(LshLib))
  }
}

object IngestBuild {
  val N = 20000
  val ChurnShare = 0.05
  val Batch = 500
  val ProbeQ = 32
  val IvfLib = 1L
  val LshLib = 2L
  val Libs: Seq[(String, Long)] = Seq("ivf" -> IvfLib, "lsh" -> LshLib)
  val CycleKinds: Seq[String] = Seq("upsert", "delete", "build", "compact")
}
