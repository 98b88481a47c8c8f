package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval: a call, or a layer boundary inside a call.
  * Times are epoch milliseconds with sub-millisecond digits, so they
  * line up with Spark's task launch and finish times. */
final case class Span(id: Int, parent: Int, call: Int, name: String,
    start: Double, end: Double, gcMs: Long) {
  def seconds: Double = (end - start) / 1e3
}

/** Records spans in memory. With `traced` on it also tags every Spark
  * job with the current call id and layer name (thread-local job
  * properties, which Spark carries into broadcast and adaptive-stage
  * threads), and a [[JobRecorder]] collects the jobs and tasks. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val recorder: Option[JobRecorder] =
    if (traced) { val r = new JobRecorder; sc.addSparkListener(r); Some(r) }
    else None
  private var nextId = 0

  /** Runs `body` as span `name` of call `call` under `parent`; the span
    * is recorded even when `body` throws. Returns the body's value and
    * the span. */
  def span[T](name: String, call: Int, parent: Int)(
      body: Int => T): (T, Span) = {
    nextId += 1
    val id = nextId
    val prevCall = sc.getLocalProperty(JobRecorder.CallKey)
    val prevLayer = sc.getLocalProperty(JobRecorder.LayerKey)
    if (traced) {
      sc.setLocalProperty(JobRecorder.CallKey, call.toString)
      sc.setLocalProperty(JobRecorder.LayerKey, name)
    }
    val gc0 = Host.gcMs()
    val t0 = nowMs()
    var out: Option[T] = None
    try { out = Some(body(id)); (out.get, record(id, parent, call, name, t0, gc0)) }
    finally {
      if (out.isEmpty) record(id, parent, call, name, t0, gc0)
      if (traced) {
        sc.setLocalProperty(JobRecorder.CallKey, prevCall)
        sc.setLocalProperty(JobRecorder.LayerKey, prevLayer)
      }
    }
  }

  private def record(id: Int, parent: Int, call: Int, name: String,
      t0: Double, gc0: Long): Span = {
    val s = Span(id, parent, call, name, t0, nowMs(), Host.gcMs() - gc0)
    spans += s
    s
  }

  /** Spans as JSON lines. */
  def spansJsonl: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"call":${s.call},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"gc_ms":${s.gcMs}}"""
  }.mkString("", "\n", "\n")
}

object JobRecorder {
  val CallKey = "perfbench.call"
  val LayerKey = "perfbench.layer"
  /** Call id of a job submitted outside every span. */
  val Untagged: Int = Int.MinValue
  final case class Job(id: Int, call: Int, layer: String, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long)
}

/** Collects every job (with the call and layer it was submitted under)
  * and every finished task. Listener events arrive asynchronously; read
  * the queues only after the session has stopped, which drains the
  * listener bus. */
final class JobRecorder extends SparkListener {
  import JobRecorder._
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.add(Job(e.jobId, prop(CallKey).map(_.toInt).getOrElse(Untagged),
      prop(LayerKey).getOrElse("none"), e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null)
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
  }
}

/** Rolls jobs and tasks up onto the (call, layer) spans they ran under. */
final class Rollup(rec: JobRecorder) {
  import JobRecorder._
  private val jobs = rec.jobs.asScala.toVector
  private val stageOwner: Map[Int, (Int, String)] =
    jobs.sortBy(_.id).reverse
      .flatMap(j => j.stages.map(_ -> (j.call, j.layer))).toMap
  private val tasksBy: Map[(Int, String), Vector[Task]] =
    rec.tasks.asScala.toVector.groupBy(t =>
      stageOwner.getOrElse(t.stage, (Untagged, "none")))

  def jobsOf(call: Int, layer: String): Int =
    jobs.count(j => j.call == call && j.layer == layer)
  def tasksOf(call: Int, layer: String): Vector[Task] =
    tasksBy.getOrElse((call, layer), Vector.empty)
  def unattributedJobs: Int = jobs.count(_.call == Untagged)

  /** Seconds of `s` during which no task of its call and layer ran. */
  def idleSeconds(s: Span): Double = {
    val iv = tasksOf(s.call, s.name)
      .map(t => (math.max(t.launchMs.toDouble, s.start),
        math.min(t.finishMs.toDouble, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, (s.end - s.start) - covered) / 1e3
  }
}
