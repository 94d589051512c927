package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call the benchmark made into a layer: `layer` names the layer
  * (`construct`, `plan`, `execute`, `http`, `api`, `collection`,
  * `embed`), `op` the line or request type. Times are wall-clock
  * milliseconds, the clock Spark stamps its events with. */
final case class Span(id: Int, layer: String, op: String, group: String,
                      startMs: Long, endMs: Long, wallS: Double)

/** One Spark job, attributed to the span that caused it (or none). */
final case class JobRec(jobId: Int, timeMs: Long, group: Option[String],
                        stages: Seq[Int], var span: Option[Int] = None,
                        var byWindow: Boolean = false)

/** One finished task with the counters the layer metrics sum. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         gcMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, inputRows: Long)

/** Records spans around the benchmark's calls and the Spark jobs and
  * tasks they cause.
  *
  * A job is attributed to the span whose job group it carries. Spark's
  * job group is a thread-local property that is copied only into
  * threads created after it is set, so jobs submitted from a pool
  * thread created earlier (the HTTP handler pool, or a driver thread
  * pool that submits independent cuts concurrently) carry no group or
  * a stale one. Those jobs fall back to the span whose time window
  * holds the job's start; a job that matches no span, or more than one,
  * is counted as unattributed. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spansBuf = ArrayBuffer[Span]()
  private val jobsBuf = ArrayBuffer[JobRec]()
  private val tasksBuf = ArrayBuffer[TaskRec]()
  private var nextId = 0

  /** Run `body` inside a span; its Spark jobs carry the span's group. */
  def span[T](layer: String, op: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val group = s"perfbench-$id"
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    sc.setJobGroup(group, s"$layer $op", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      val s = Span(id, layer, op, group, startMs, System.currentTimeMillis(), wall)
      synchronized { spansBuf += s }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    synchronized { jobsBuf += JobRec(e.jobId, e.time, group, e.stageIds) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0)
      else TaskRec(e.stageId, i.launchTime, i.finishTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.recordsRead)
    synchronized { tasksBuf += rec }
  }

  /** Waits for every event posted so far, then attributes jobs. */
  def snapshot(): Trace = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val spans = spansBuf.toVector
      val byGroup = spans.map(s => s.group -> s.id).toMap
      jobsBuf.foreach { j =>
        if (j.span.isEmpty) {
          // a group is trusted only inside its span's window: a pool
          // thread keeps the group it inherited when it was created
          j.group.flatMap(byGroup.get).filter(id => spans.exists(s =>
            s.id == id && s.startMs <= j.timeMs && j.timeMs <= s.endMs)) match {
            case Some(id) => j.span = Some(id)
            case None =>
              val inWindow = spans.filter(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs)
              if (inWindow.size == 1) { j.span = Some(inWindow.head.id); j.byWindow = true }
          }
        }
      }
      Trace(spans, jobsBuf.map(_.copy()).toVector, tasksBuf.toVector)
    }
  }
}

/** What a [[Tracer]] saw, with the sums the layer metrics need. */
final case class Trace(spans: Vector[Span], jobs: Vector[JobRec], tasks: Vector[TaskRec]) {
  private lazy val stageSpan: Map[Int, Int] =
    jobs.sortBy(-_.jobId).flatMap(j => j.span.toSeq.flatMap(s => j.stages.map(_ -> s))).toMap

  def spanIds(p: Span => Boolean): Set[Int] = spans.filter(p).map(_.id).toSet

  def jobsOf(ids: Set[Int]): Int = jobs.count(_.span.exists(ids))

  def tasksOf(ids: Set[Int]): Vector[TaskRec] =
    tasks.filter(t => stageSpan.get(t.stageId).exists(ids))

  /** The `operators.*` figures of the given execution spans: their
    * wall time, and the jobs and tasks they caused. */
  def operatorMetrics(ids: Set[Int]): Map[String, Double] = {
    val ts = tasksOf(ids)
    Map(
      "operators.execute_s" -> spans.filter(sp => ids(sp.id)).map(_.wallS).sum,
      "operators.execute_jobs" -> jobsOf(ids).toDouble,
      "operators.tasks" -> ts.size.toDouble,
      "operators.task_s" -> ts.map(t => t.finishMs - t.launchMs).sum / 1000.0,
      "operators.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "operators.shuffle_read_mb" -> ts.map(_.shuffleReadBytes).sum / 1048576.0,
      "operators.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / 1048576.0,
      "operators.input_rows" -> ts.map(_.inputRows).sum.toDouble)
  }

  /** Jobs started inside [t0, t1] that no span claims. */
  def unattributed(t0: Long, t1: Long): Int =
    jobs.count(j => j.span.isEmpty && j.timeMs >= t0 && j.timeMs <= t1)

  /** Task-busy seconds inside [t0, t1] and the seconds of that window
    * in which no task ran. */
  def busyAndGap(t0: Long, t1: Long): (Double, Double) = {
    val iv = tasks.map(t => (math.max(t.launchMs, t0), math.min(t.finishMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    val busy = iv.map { case (a, b) => b - a }.sum / 1000.0
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (busy, math.max(0L, (t1 - t0) - covered) / 1000.0)
  }
}
