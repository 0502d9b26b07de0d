package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints a detail line, then as its last line the result object. With
  * `--trace 0` the result carries the end-to-end metrics; with `--trace 1`
  * the per-layer metrics, and the spans go to perfbench/target/traces/.
  * A failed output check prints `correct: false` without metrics and exits
  * with code 1. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val run = Workloads.byName(workload)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val base = new File("perfbench/target").getAbsoluteFile
    val workDir = new File(base, s"work/$workload-$seed-${ProcessHandle.current().pid()}")
    workDir.mkdirs()

    val clock0 = (System.currentTimeMillis(), System.nanoTime())
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    graft.Graft.init(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, trace)
    val h = new Harness(spark, tracer, seed, seconds, cores, workDir)
    val io0 = Store.fsBytes()
    val out = try run(h) catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        println(Json.obj(Seq("correct" -> "false", "attempted" -> math.max(1, h.attempted).toString,
          "failed" -> math.max(1, h.failed).toString, "metrics" -> "{}")))
        spark.stop()
        Harness.deleteTree(workDir)
        sys.exit(1)
    }
    val io1 = Store.fsBytes()
    h.samples.foreach { case (k, xs) =>
      System.err.println(s"perfbench: $k latencies (ms): ${xs.map(x => f"$x%.0f").mkString(" ")}")
    }
    val setupS = sessionS + h.setupS
    var detail = ("setup_s", setupS, "s") +: ("session_s", sessionS, "s") +: out.detail
    val metrics =
      if (!trace) ("setup_s", setupS, "s") +: out.e2e
      else {
        val probes = Probes.run(h, out.corpus)
        listener.awaitQuiet()
        val layers = new Layers(h, listener.snapshot, clock0, out, io1._2 - io0._2)
        layers.writeSpans(new File(base, s"traces/$workload-seed$seed.json"))
        detail ++= layers.detail
        probes ++ layers.metrics
      }
    val bad = metrics.filterNot(m => java.lang.Double.isFinite(m._2)).map(_._1)
    bad.foreach(m => h.check(false, s"metric $m is not a finite number"))
    val correct = h.problems.isEmpty
    println(Json.obj(Seq("workload" -> Json.str(workload), "detail" -> metricsJson(detail))))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> (if (correct) metricsJson(metrics) else "{}"))))
    System.out.flush()
    spark.stop()
    Harness.deleteTree(workDir)
    sys.exit(if (correct) 0 else 1)
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.filter(m => java.lang.Double.isFinite(m._2)).map { case (name, v, unit) =>
      name -> Json.obj(Seq("value" -> v.toString, "unit" -> Json.str(unit)))
    })
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
