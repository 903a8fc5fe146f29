package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is 0 at a request's root; `req` groups the
  * spans of one request (0 = outside any request, e.g. set-up). A probe
  * span is a call made only to measure a layer; it runs outside the
  * request span so the request stays comparable with an untraced run. */
final case class Span(id: Int, parent: Int, req: Long, name: String,
    startNs: Long, endNs: Long, probe: Boolean = false) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it its children
    * cover (overlapping children count once). */
  def selfNs(span: Span, all: Seq[Span]): Long =
    span.durNs - unionNs(
      all.filter(_.parent == span.id).map(c => (c.startNs, c.endNs)),
      span.startNs, span.endNs)
}

/** In-memory span recorder driven by the single client thread. When off,
  * `span` is a plain call: no clock reads, no allocation. Spark jobs join
  * the tree through [[JobListener]]: each request sets the SparkContext
  * local property [[Tracer.ReqProperty]], which every job it launches
  * carries. */
final class Tracer(var on: Boolean, sc: SparkContext) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var req = 0L

  def spans: Seq[Span] = buf.toSeq

  /** Run `f` as request `id`: its root span is `name`, every span opened
    * inside it shares the request id. */
  def request[T](id: Long, name: String)(f: => T): T =
    if (!on) f
    else {
      req = id
      sc.setLocalProperty(Tracer.ReqProperty, id.toString)
      try span(name)(f)
      finally {
        sc.setLocalProperty(Tracer.ReqProperty, null)
        req = 0L
      }
    }

  /** A span around a call made only to measure a layer: it runs outside
    * any request, under its own request id so its Spark jobs are kept
    * apart from the request's. */
  def probe[T](id: Long, name: String)(f: => T): T =
    if (!on) f
    else {
      sc.setLocalProperty(Tracer.ReqProperty, id.toString)
      try record(name, id, probe = true)(f)
      finally sc.setLocalProperty(Tracer.ReqProperty, null)
    }

  def span[T](name: String)(f: => T): T =
    if (!on) f else record(name, req, probe = false)(f)

  private def record[T](name: String, r: Long, probe: Boolean)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      buf += Span(id, parent, r, name, t0, System.nanoTime(), probe)
      stack = stack.tail
    }
  }

  /** The recorded spans plus each Spark job as a child of the innermost
    * span covering the job's start — of the job's own request, or, for a
    * job launched without the request property, of any non-probe span
    * (the client is one thread, so a job inside a request is its). */
  def withJobs(jobs: Seq[JobListener.Job]): Seq[Span] = {
    var id = nextId
    val jobSpans = jobs.flatMap { j =>
      val owners = buf.filter(s => s.req != 0 &&
        (if (j.req != 0) s.req == j.req else !s.probe) &&
        s.startNs <= j.startNs && j.startNs <= s.endNs)
      owners.sortBy(_.durNs).headOption.map { p =>
        id += 1
        Span(id, p.id, p.req, s"spark.job.${j.id}", j.startNs, j.endNs, p.probe)
      }
    }
    buf.toSeq ++ jobSpans
  }
}

object Tracer {
  val ReqProperty = "perfbench.req"
}

/** Records every Spark job (interval, request id) and sums task metrics
  * per job. Event times are wall-clock millis; they are mapped onto the
  * `System.nanoTime` axis the tracer uses through one offset taken at
  * registration. The listener bus delivers events on one thread, so the
  * per-job sums need no locking; readers drain the bus first. */
final class JobListener extends SparkListener {
  import JobListener._

  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + nanoOffset

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val perJob = new java.util.concurrent.ConcurrentHashMap[Int, Tasks]()

  private def reqOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.ReqProperty)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, reqOf(e.properties), toNs(e.time), Long.MaxValue))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endNs = toNs(e.time)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => tasks(j).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
      val t = tasks(j)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  private def tasks(job: Int): Tasks = perJob.computeIfAbsent(job, _ => new Tasks)

  def allJobs: Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.id)
  }

  /** Task figures summed over `jobIds`. */
  def tasksOf(jobIds: Seq[Int]): Tasks = {
    val sum = new Tasks
    jobIds.flatMap(j => Option(perJob.get(j))).foreach { t =>
      sum.stages += t.stages; sum.tasks += t.tasks; sum.cpuNs += t.cpuNs
      sum.gcMs += t.gcMs; sum.shuffleWriteBytes += t.shuffleWriteBytes
      sum.spillBytes += t.spillBytes; sum.inputBytes += t.inputBytes
    }
    sum
  }
}

object JobListener {
  final case class Job(id: Int, req: Long, startNs: Long, endNs: Long)

  final class Tasks {
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
  }
}
