package graft.perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Execution-layer counters read from Spark's listener bus. Each job is
  * kept with the job group that was set when it was submitted, so the
  * benchmark can attribute it to the span that issued it; task metrics are
  * summed per job. Events arrive on the listener thread, so every access is
  * synchronized. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val desc: String, val startMs: Long) {
    var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var schedDelayMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = scala.collection.mutable.HashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val j = new Job(e.jobId, props.map(_.getProperty("spark.jobGroup.id")).orNull,
      props.map(_.getProperty("spark.job.description")).orNull, e.time)
    j.stages = e.stageIds.length
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // time the task waited: its wall time minus running and (de)serializing
        val info = e.taskInfo
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)

  /** Blocks until every started job has ended, so totals are final. */
  def awaitQuiet(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.exists(_.endMs < 0))
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events of the last stage
  }
}
