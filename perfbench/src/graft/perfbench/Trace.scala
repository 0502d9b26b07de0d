package graft.perfbench

import org.apache.spark.SparkContext

/** One traced interval. `kind` is the layer: op (a workload operation),
  * api (one GraftDb call), probe (a kernel/operator probe), setup, or job
  * (a Spark job, recorded by [[JobListener]]). `parent` is the enclosing
  * span's id, -1 at the top. Times are nanoseconds on one clock. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {
  /** Job group the benchmark sets for the innermost open span; the job
    * listener maps a job back to its span through it. GraftDb only sets the
    * job *description*, so the group survives its calls, and threads graft
    * starts inside a call inherit it. */
  val GroupPrefix = "perfbench:"
  val Untraced: String = GroupPrefix + "untraced"

  /** `durNs` minus the part of [start, end) covered by the union of the
    * children's intervals. Children may overlap each other (graft runs
    * artifact writes as concurrent jobs) and may stick out of the parent
    * (listener timestamps), so they are clipped and merged first. */
  def selfNs(startNs: Long, endNs: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, startNs), math.min(e, endNs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (endNs - startNs) - covered
  }
}

/** In-memory span recorder for the single client thread. Disabled, it is a
  * pass-through: no spans, no job groups. Enabled, every span also sets the
  * Spark job group so jobs can be attributed to it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var suspended = false

  private def currentGroup: String = Option(sc.getLocalProperty("spark.jobGroup.id")).orNull

  def apply[T](name: String, kind: String)(body: => T): T =
    if (!enabled || suspended) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = currentGroup
      stack = id :: stack
      sc.setLocalProperty("spark.jobGroup.id", Trace.GroupPrefix + id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        stack = stack.tail
        spans += Span(id, parent, name, kind, t0, t1)
      }
    }

  /** Runs `body` with tracing suspended: no spans, and a job group that
    * marks its jobs as deliberately untraced rather than unattributed. */
  def untraced[T](body: => T): T =
    if (!enabled || suspended) body
    else {
      val prev = currentGroup
      sc.setLocalProperty("spark.jobGroup.id", Trace.Untraced)
      suspended = true
      try body finally { suspended = false; sc.setLocalProperty("spark.jobGroup.id", prev) }
    }

  def recorded: Seq[Span] = spans.toSeq
}
