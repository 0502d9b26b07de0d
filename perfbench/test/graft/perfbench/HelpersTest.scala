package graft.perfbench

import java.io.{File, FileOutputStream}
import java.nio.file.Files

/** Tests of the benchmark's own helpers; no Spark session. Run with
  * `python3 perfbench/test.py`. Exits non-zero when any check fails. */
object HelpersTest {
  private var failures = 0
  private var checks = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    if (!passed) { failures += 1; println(s"FAIL $name") } else println(s"ok   $name")
  }

  def main(args: Array[String]): Unit = {
    tailRule()
    seeds()
    selfTime()
    spaceAmp()
    println(s"$checks checks, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def tailRule(): Unit = {
    def ramp(n: Int) = (1 to n).map(_.toDouble).reverse
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("no tail below 20 samples: even p50 would have fewer than 10 beyond it") {
      Stats.tail(ramp(19)).isEmpty && Stats.tail(Nil).isEmpty
    }
    check("20 samples give p50 with exactly 10 beyond") {
      Stats.tail(ramp(20)).contains(Stats.Tail(50.0, 10.0, 20))
    }
    check("the highest ladder percentile with at least 10 samples beyond it is chosen") {
      Stats.tail(ramp(40)).contains(Stats.Tail(75.0, 30.0, 40)) &&
        Stats.tail(ramp(99)).contains(Stats.Tail(75.0, 75.0, 99)) &&
        Stats.tail(ramp(100)).contains(Stats.Tail(90.0, 90.0, 100)) &&
        Stats.tail(ramp(200)).contains(Stats.Tail(95.0, 190.0, 200)) &&
        Stats.tail(ramp(1000)).contains(Stats.Tail(99.0, 990.0, 1000))
    }
    check("the tail value is an observed sample with 10 or more samples above it") {
      (20 to 400).forall { n =>
        val t = Stats.tail(ramp(n)).get
        ramp(n).count(_ > t.value) >= Stats.MinBeyond
      }
    }
  }

  private def seeds(): Unit = {
    def corpus(seed: Long) = Gen.mixture.draw(Gen.rng(seed, 1), 50)
    def ops(seed: Long, n: Int): Seq[String] = {
      new ServeOps(seed, Gen.mixture, 0L until 100L, 99L).take(n).map {
        case ServeOp.Search(q) => "search " + q.mkString(",")
        case ServeOp.Upsert(rs) => "upsert " + rs.map { case (id, v) => s"$id:${v.mkString(",")}" }.mkString(";")
        case ServeOp.Delete(ids) => "delete " + ids.mkString(",")
        case ServeOp.Compact => "compact"
      }.toSeq
    }
    def same(a: Array[Array[Float]], b: Array[Array[Float]]) =
      a.length == b.length && a.indices.forall(i => a(i).sameElements(b(i)))
    check("the same seed gives an identical corpus") { same(corpus(7), corpus(7)) }
    check("another seed gives another corpus") { !same(corpus(7), corpus(8)) }
    check("the same seed gives an identical operation sequence") { ops(7, 200) == ops(7, 200) }
    check("another seed gives another operation sequence") { ops(7, 200) != ops(8, 200) }
    check("each deck holds 7 searches, 2 upserts, 1 delete, then a compaction") {
      ops(7, 220).grouped(11).forall { deck =>
        deck.count(_.startsWith("search")) == 7 && deck.count(_.startsWith("upsert")) == 2 &&
          deck.count(_.startsWith("delete")) == 1 && deck.last == "compact"
      }
    }
    check("every write has a search on each side, so 3 of 7 searches follow a write") {
      (1L to 20L).forall { seed =>
        ops(seed, 220).grouped(11).forall { deck =>
          val kinds = deck.map(_.takeWhile(_ != ' '))
          kinds.indices.forall(i => kinds(i) == "search" || kinds(i) == "compact" ||
            (i > 0 && kinds(i - 1) == "search" && kinds(i + 1) == "search"))
        }
      }
    }
    check("deletes only name live ids and upserts mix new and live ids") {
      val live = scala.collection.mutable.Set[Long]((0L until 100L): _*)
      new ServeOps(3, Gen.mixture, 0L until 100L, 99L).take(500).forall {
        case ServeOp.Delete(ids) => val ok = ids.forall(live); ids.foreach(live.remove); ok
        case ServeOp.Upsert(rs) =>
          val (again, fresh) = rs.map(_._1).partition(live)
          rs.foreach(r => live += r._1)
          again.length == ServeOps.UpsertRows / 2 && fresh.length == ServeOps.UpsertRows / 2
        case _ => true
      }
    }
  }

  private def selfTime(): Unit = {
    check("no children: self time is the whole span") { Trace.selfNs(0, 100, Nil) == 100 }
    check("overlapping children are covered once") {
      Trace.selfNs(0, 100, Seq((10L, 30L), (20L, 50L))) == 60
    }
    check("nested and disjoint children") {
      Trace.selfNs(0, 100, Seq((10L, 40L), (15L, 20L), (60L, 70L))) == 60
    }
    check("children are clipped to the parent") {
      Trace.selfNs(0, 100, Seq((-20L, 10L), (90L, 130L), (200L, 300L))) == 80
    }
    check("concurrent children covering the parent leave no self time") {
      Trace.selfNs(0, 100, Seq((0L, 60L), (40L, 100L), (50L, 55L))) == 0
    }
    check("touching children merge without double counting") {
      Trace.selfNs(0, 100, Seq((10L, 20L), (20L, 30L))) == 80
    }
  }

  private def spaceAmp(): Unit = {
    val root = Files.createTempDirectory(new File("perfbench/target").toPath, "walker").toFile
    def put(path: String, bytes: Int): Unit = {
      val f = new File(root, path)
      f.getParentFile.mkdirs()
      val out = new FileOutputStream(f)
      try out.write(new Array[Byte](bytes)) finally out.close()
    }
    try {
      put("chunks_log/part-0.parquet", 100)
      put("ivf_index/lib=1/part-0.parquet", 50)
      put("archive/gen=3/chunks_log/part-0.parquet", 1000)
      put("ivf_index_archive/lib=1/gen=2/part-0.parquet", 400)
      put("chunks_log/archive/note", 10) // only top-level areas are history
      check("the walker skips archive/ and the index archives") { Store.bytes(root, Store.isHistory) == 160 }
      check("history bytes are exactly the skipped areas") { Store.historyBytes(root) == 1400 }
      check("space_amp divides live bytes by raw bytes") { Store.spaceAmp(root, 80) == 2.0 }
      check("parquet files are counted, other files not") { Store.parquetFiles(new File(root, "chunks_log")) == 1 }
    } finally Harness.deleteTree(root)
  }
}
