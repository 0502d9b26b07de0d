package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.GraftDb

/** What one workload run shares: the session, the tracer, the closed-loop
  * window and its samples, and the output checks. One client thread. */
final class Harness(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                    val seconds: Int, val cores: Int, val workDir: File) {
  import spark.implicits._

  /** Window latencies (ms) per operation kind; in a traced run split by
    * whether the operation was traced, for the tracing overhead. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val tracedSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val untracedSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer[String]()
  /** Per traced window op: (kind, bytes read, bytes written) through the FS. */
  val opIo = mutable.ArrayBuffer[(String, Long, Long)]()
  var windowStartNs = 0L
  var windowEndNs = 0L
  /** Seconds the set-up took; -1 until it has run. */
  var setupS = -1.0

  def check(ok: Boolean, msg: => String): Unit = if (!ok) {
    if (problems.length < 20) problems += msg
    System.err.println(s"perfbench: CHECK FAILED: $msg")
  }

  /** A fresh, empty store root under the run's work directory. */
  def freshRoot(name: String): String = {
    val f = new File(workDir, name)
    Harness.deleteTree(f)
    f.getAbsolutePath
  }

  /** One GraftDb call, as an api span. */
  def api[T](name: String)(body: => T): T = tracer(name, "api")(body)

  /** searchAll over a query frame, its deferred action included. */
  def searchAll(db: GraftDb, span: String, lib: Long, qs: DataFrame, k: Int,
                nProbes: Int): Map[Long, Seq[(Long, Double)]] =
    api(span) {
      db.searchAll(lib, qs, k = k, nProbes = nProbes)
        .select("qid", "rank", "chunk_id", "score").collect()
    }.groupBy(_.getLong(0)).map { case (q, rows) =>
      q -> rows.sortBy(_.getLong(1)).map(r => r.getLong(2) -> r.getDouble(3)).toSeq
    }

  def frame(qs: Array[Array[Float]]): DataFrame =
    qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qvec")

  private val tries = mutable.HashMap[String, Int]()

  /** Runs one window operation, closed loop: timed, and in a traced run
    * traced and untraced in turn per kind, so every kind run twice has
    * both. A thrown operation counts as failed and contributes no latency
    * sample. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val n = tries.getOrElse(kind, 0)
    tries(kind) = n + 1
    val traced = tracer.enabled && n % 2 == 0
    val io0 = if (traced) Store.fsBytes() else (0L, 0L)
    val t0 = System.nanoTime()
    try {
      val r = if (traced) tracer(kind, "op")(body) else tracer.untraced(body)
      val ms = (System.nanoTime() - t0) / 1e6
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
      if (tracer.enabled)
        (if (traced) tracedSamples else untracedSamples).getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
      if (traced) {
        val io1 = Store.fsBytes()
        opIo += ((kind, io1._1 - io0._1, io1._2 - io0._2))
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: operation $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Repeats `step` until the window has lasted `seconds` and `ready`
    * holds (the workload's unit of work, a cycle or a deck, is complete);
    * at least once, and never past three times `seconds`. */
  def window(step: () => Unit, ready: () => Boolean = () => true): Unit = {
    System.gc() // set-up garbage is collected before, not during, the window
    windowStartNs = System.nanoTime()
    val deadline = windowStartNs + seconds * 1000000000L
    val cap = windowStartNs + 3 * seconds * 1000000000L
    def more = { val now = System.nanoTime(); now < deadline || (!ready() && now < cap) }
    do step() while (more)
    windowEndNs = System.nanoTime()
  }

  /** Runs and times the workload's set-up, once. */
  def timedSetup[T](body: => T): T = {
    require(setupS < 0, "the set-up runs once")
    val t0 = System.nanoTime()
    val r = tracer("setup", "setup")(body)
    setupS = (System.nanoTime() - t0) / 1e9
    r
  }

  def median(kind: String): Double = Stats.median(samples(kind).toSeq)
}

object Harness {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.sortBy(_.getAs[Long]("rank")).map(r => r.getAs[Long]("chunk_id") -> r.getAs[Double]("score")).toSeq
}
