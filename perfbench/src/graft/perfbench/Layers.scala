package graft.perfbench

import java.io.{File, PrintWriter}

/** The traced run's per-layer metrics, computed once at the end from the
  * recorded spans and the listener's jobs. Jobs hang under the span whose
  * job group they carried; a span's self time is its wall time minus what
  * its child spans and jobs cover. */
final class Layers(h: Harness, jobs: Seq[JobListener#Job], clock0: (Long, Long),
                   out: Outcome, bytesWritten: Long) {
  private type Job = JobListener#Job
  private val spans = h.tracer.recorded
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private def toNs(epochMs: Long): Long = clock0._2 + (epochMs - clock0._1) * 1000000L

  private def spanOf(j: Job): Option[Int] =
    Option(j.group).filter(_.startsWith(Trace.GroupPrefix))
      .flatMap(_.stripPrefix(Trace.GroupPrefix).toIntOption)
  private val jobsOf: Map[Int, Seq[Job]] =
    jobs.flatMap(j => spanOf(j).map(_ -> j)).groupMap(_._1)(_._2)

  private def directJobs(id: Int): Seq[Job] = jobsOf.getOrElse(id, Nil)
  private def subtreeJobs(id: Int): Seq[Job] =
    directJobs(id) ++ children.getOrElse(id, Nil).flatMap(c => subtreeJobs(c.id))
  private def jobInterval(j: Job): (Long, Long) = (toNs(j.startMs), toNs(math.max(j.endMs, j.startMs)))

  def selfNs(s: Span): Long =
    Trace.selfNs(s.startNs, s.endNs,
      children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++ directJobs(s.id).map(jobInterval))

  private def apiClass(name: String): String =
    if (name == "search" || name.startsWith("searchAll")) "read"
    else if (Set("upsertChunks", "deleteChunksBatch", "createLibrary")(name)) "write"
    else "maint"

  private def callStats(prefix: String, calls: Seq[Span]): Seq[(String, Double, String)] =
    if (calls.isEmpty) Nil
    else Seq(
      (s"$prefix.calls", calls.length.toDouble, "count"),
      (s"$prefix.ms_p50", Stats.median(calls.map(_.durNs / 1e6)), "ms"),
      (s"$prefix.jobs_per_call", calls.map(c => subtreeJobs(c.id).length).sum.toDouble / calls.length, "count"),
      (s"$prefix.driver_ms", Stats.median(calls.map(selfNs(_) / 1e6)), "ms"))

  private val apiSpans = spans.filter(_.kind == "api")
  private val opSpans = spans.filter(_.kind == "op")
  private val windowJobs = opSpans.flatMap(s => subtreeJobs(s.id))

  /** Per-entry-point and per-op-kind breakdowns, for the detail line. */
  def detail: Seq[(String, Double, String)] =
    apiSpans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (n, ss) => callStats(s"api.$n", ss) } ++
      opSpans.groupBy(_.name).toSeq.sortBy(_._1).map { case (kind, ss) =>
        (s"spark.$kind.jobs_per_op", ss.map(s => subtreeJobs(s.id).length).sum.toDouble / ss.length, "count")
      }

  def metrics: Seq[(String, Double, String)] = {
    val api = Seq("read", "write", "maint").flatMap { c =>
      val calls = apiSpans.filter(s => apiClass(s.name) == c)
      require(calls.nonEmpty, s"no traced $c calls")
      callStats(s"api.$c", calls)
    } :+ ("api.after_write_share", out.readsAfterWrite.toDouble / math.max(1, out.reads), "ratio")

    val nOps = math.max(1, opSpans.length).toDouble
    def perOp(name: String, f: Job => Double, unit: String) =
      (s"spark.${name}_per_op", windowJobs.map(f).sum / nOps, unit)
    val opWallNs = opSpans.map(_.durNs).sum.toDouble
    val spark = Seq(
      perOp("jobs", _ => 1.0, "count"),
      perOp("stages", _.stages.toDouble, "count"),
      perOp("tasks", _.tasks.toDouble, "count"),
      perOp("task_cpu_ms", _.cpuNs / 1e6, "ms"),
      perOp("task_run_ms", _.runMs.toDouble, "ms"),
      perOp("sched_delay_ms", _.schedDelayMs.toDouble, "ms"),
      perOp("shuffle_bytes", _.shuffleBytes.toDouble, "bytes"),
      ("spark.spill_bytes", windowJobs.map(_.spillBytes).sum.toDouble, "bytes"),
      ("spark.failed_tasks", jobs.map(_.failedTasks).sum.toDouble, "count"),
      ("spark.cpu_util", windowJobs.map(_.cpuNs).sum / (opWallNs * h.cores), "ratio"),
      perOp("unattributed_jobs",
        j => if (j.desc == null || !j.desc.startsWith("graftdb:")) 1.0 else 0.0, "count"),
      ("spark.ungrouped_jobs", jobs.count(j => spanOf(j).isEmpty && j.group != Trace.Untraced).toDouble, "count"))

    val io = h.opIo
    val nIo = math.max(1, io.length).toDouble
    val sources = Seq(
      ("sources.bytes_read_per_op", io.map(_._2).sum / nIo, "bytes"),
      ("sources.bytes_written_per_op", io.map(_._3).sum / nIo, "bytes"),
      ("sources.chunk_log_files",
        if (out.chunkLogFiles.isEmpty) Double.NaN else out.chunkLogFiles.sum.toDouble / out.chunkLogFiles.length, "count"),
      ("sources.write_amp", bytesWritten.toDouble / out.userBytes, "ratio"),
      ("sources.archive_bytes", Store.historyBytes(out.root).toDouble, "bytes"))

    val ratios = h.tracedSamples.keys.toSeq.filter(h.untracedSamples.contains).map { k =>
      Stats.median(h.tracedSamples(k).toSeq) / Stats.median(h.untracedSamples(k).toSeq)
    }
    val traceM = Seq(
      ("trace.spans", (spans.length + jobs.length).toDouble, "count"),
      ("trace.overhead_share", if (ratios.isEmpty) Double.NaN else Stats.geomean(ratios) - 1, "ratio"))
    api ++ spark ++ sources ++ traceM
  }

  /** All spans, jobs included as children of the span that issued them,
    * with self times; written once, at the end of the run. */
  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val origin = (spans.map(_.startNs) ++ Seq(Long.MaxValue)).min
    def rel(ns: Long) = ((ns - origin) / 1e6).toString
    val spanRows = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "kind" -> Json.str(s.kind), "start_ms" -> rel(s.startNs), "dur_ms" -> (s.durNs / 1e6).toString,
        "self_ms" -> (selfNs(s) / 1e6).toString))
    }
    val jobRows = jobs.map { j =>
      val (s, e) = jobInterval(j)
      Json.obj(Seq("id" -> Json.str(s"job-${j.id}"), "parent" -> spanOf(j).getOrElse(-1).toString,
        "name" -> Json.str(Option(j.desc).getOrElse("")), "kind" -> Json.str("job"),
        "group" -> Json.str(Option(j.group).getOrElse("")),
        "start_ms" -> rel(s), "dur_ms" -> ((e - s) / 1e6).toString, "tasks" -> j.tasks.toString,
        "task_cpu_ms" -> (j.cpuNs / 1e6).toString))
    }
    val w = new PrintWriter(f, "UTF-8")
    try w.println(Json.arr(spanRows ++ jobRows)) finally w.close()
  }
}
