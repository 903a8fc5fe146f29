package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** One timed operation. `cls` is the request class the metrics group by
  * (selective, broad, verb, commit); `layers` holds the traced per-layer
  * figures (empty when tracing is off). */
final case class Rec(id: Long, cls: String, kind: String, wallMs: Double,
    traced: Boolean, layers: Map[String, Double])

/** Drives one closed-loop client: every operation runs on the calling
  * thread, is timed from the API call until its result is in hand, and is
  * counted as attempted; a thrown exception or a failed output check
  * counts it as failed. Output checks run outside the timed region.
  *
  * With `traceRun`, a [[JobListener]] is registered and, while
  * `tracer.on`, each operation records spans and derives its per-layer
  * figures. */
final class Harness(val spark: SparkSession, traceRun: Boolean) {
  val listener: Option[JobListener] =
    if (!traceRun) None
    else {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }
  val tracer = new Tracer(false, spark.sparkContext)

  val recs = ArrayBuffer.empty[Rec]
  val failures = ArrayBuffer.empty[String]
  private var attemptedN = 0
  private val failedIds = mutable.Set.empty[Long]
  private var nextReq = 0L

  def attempted: Int = attemptedN
  def failed: Int = failedIds.size

  /** Count operation `id` failed (at most once) and keep the reason. */
  def fail(id: Long, why: String): Unit = {
    if (failedIds.add(id)) failures += why
    if (failures.length <= 20) System.err.println(s"[perfbench] check failed: $why")
  }

  /** Assert an output property of operation `rec`. */
  def check(rec: Rec, ok: Boolean, why: => String): Boolean = {
    if (!ok) fail(rec.id, s"${rec.cls}/${rec.kind}: $why")
    ok
  }

  /** An untimed operation whose output is checked (a set-up step or a
    * final verification): counted as attempted. */
  def verify(what: String)(ok: => Boolean): Boolean = {
    attemptedN += 1
    nextReq += 1
    val id = nextReq
    val r = try ok catch { case NonFatal(e) => fail(id, s"$what: $e"); false }
    if (!r) fail(id, what)
    r
  }

  /** A DataFrame-returning call (search, knn, registry operator): the
    * build span covers the API call, then — traced only — `spark.plan`
    * forces the physical plan, and `spark.exec` collects. */
  def dfOp(cls: String, kind: String, buildSpan: String)(
      mk: => DataFrame): Option[(Array[Row], Rec)] =
    run(cls, kind) { id =>
      var df: DataFrame = null
      val rows = tracer.request(id, s"request.$cls") {
        df = tracer.span(buildSpan)(mk)
        if (tracer.on) tracer.span("spark.plan")(df.queryExecution.executedPlan)
        tracer.span("spark.exec")(df.collect())
      }
      (rows, Option(df), rows.length.toLong, buildSpan)
    }

  /** A call returning a plain value (count, commit, merge); its only
    * span is `span`. */
  def callOp[T](cls: String, kind: String, span: String)(f: => T): Option[(T, Rec)] =
    run(cls, kind) { id =>
      val v = tracer.request(id, s"request.$cls")(tracer.span(span)(f))
      (v, None, 1L, span)
    }

  private def run[T](cls: String, kind: String)(
      body: Long => (T, Option[DataFrame], Long, String)): Option[(T, Rec)] = {
    attemptedN += 1
    nextReq += 1
    val id = nextReq
    val t0 = System.nanoTime()
    try {
      val (v, df, resultRows, buildSpan) = body(id)
      val wallMs = (System.nanoTime() - t0) / 1e6
      val layers =
        if (tracer.on) layerFigures(id, df, resultRows, buildSpan) else Map.empty[String, Double]
      val rec = Rec(id, cls, kind, wallMs, tracer.on, layers)
      recs += rec
      Some((v, rec))
    } catch {
      case NonFatal(e) =>
        fail(id, s"$cls/$kind threw: $e")
        None
    }
  }

  /** Run a call made only to measure a layer, outside any request,
    * returning its wall in ms (traced runs only). */
  def probe[T](ofReq: Long, name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = tracer.probe(-ofReq, name)(f)
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Spark jobs of request `id`: those carrying its id, plus jobs without
    * one that started inside its root span. */
  private def jobsOf(id: Long, root: Span): Seq[JobListener.Job] =
    listener.toSeq.flatMap(_.allJobs).filter(j => j.req == id ||
      (j.req == 0 && j.startNs >= root.startNs && j.startNs <= root.endNs))

  private def layerFigures(id: Long, df: Option[DataFrame], resultRows: Long,
      buildSpan: String): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val mine = tracer.spans.filter(s => s.req == id && !s.probe)
    val root = mine.find(_.parent == 0).get
    def dur(name: String): Double =
      mine.find(_.name == name).map(_.durNs / 1e6).getOrElse(0.0)
    val jobs = jobsOf(id, root)
    val build = mine.find(_.name == buildSpan).get
    val buildJobs = jobs.filter(j => j.startNs >= build.startNs && j.startNs <= build.endNs)
    val t = listener.get.tasksOf(jobs.map(_.id))
    val jobMs = Spans.unionNs(jobs.map(j => (j.startNs, j.endNs)), root.startNs, root.endNs) / 1e6
    val scan = df.map(PlanStats.of).getOrElse(PlanStats.Empty)
    Map(
      "wall_ms" -> root.durNs / 1e6,
      "build_ms" -> dur(buildSpan),
      "plan_ms" -> dur("spark.plan"),
      "exec_ms" -> dur("spark.exec"),
      "job_ms" -> jobMs,
      "driver_only_ms" -> (root.durNs / 1e6 - jobMs),
      "jobs" -> jobs.size.toDouble,
      "build_jobs" -> buildJobs.size.toDouble,
      "build_tasks" -> listener.get.tasksOf(buildJobs.map(_.id)).tasks.toDouble,
      "stages" -> t.stages.toDouble,
      "tasks" -> t.tasks.toDouble,
      "task_cpu_ms" -> t.cpuNs / 1e6,
      "task_gc_ms" -> t.gcMs.toDouble,
      "shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
      "spill_bytes" -> t.spillBytes.toDouble,
      "input_bytes" -> t.inputBytes.toDouble,
      "scan_files" -> scan.files,
      "scan_bytes" -> scan.bytes,
      "scan_rows" -> scan.rows,
      "rows_read_per_result" -> scan.rows / math.max(1L, resultRows),
      "exchanges" -> scan.exchanges)
  }

  private val probeFigs = ArrayBuffer.empty[(String, Map[String, Double])]
  private val seen = mutable.Set.empty[String]

  /** Layer figures measured by probes after an operation of class `cls`. */
  def addProbe(cls: String, figs: Map[String, Double]): Unit = probeFigs += ((cls, figs))

  /** True the first time `key` is passed. */
  def firstTime(key: String): Boolean = seen.add(key)

  /** Records of class `cls` (traced or untraced as asked). */
  def of(cls: String, traced: Boolean = false): Seq[Rec] =
    recs.filter(r => r.cls == cls && r.traced == traced).toSeq

  /** A layer figure over the traced operations (and their probes) of the
    * given classes: the median for times, the mean for counts and ratios;
    * 0 when no operation recorded it. */
  def layer(key: String, classes: String*): Double = {
    val xs = recs.filter(r => r.traced && classes.contains(r.cls)).flatMap(_.layers.get(key)) ++
      probeFigs.filter(p => classes.contains(p._1)).flatMap(_._2.get(key))
    if (xs.isEmpty) 0.0
    else if (key.endsWith("_ms")) Stats.median(xs.toSeq) else Stats.mean(xs.toSeq)
  }
}

/** Scan and exchange figures read from an executed plan (AQE's final plan
  * included): files and bytes the file scans report, rows they produced,
  * shuffle exchanges. */
final case class PlanStats(files: Double, bytes: Double, rows: Double,
    exchanges: Double)

object PlanStats extends AdaptiveSparkPlanHelper {
  val Empty: PlanStats = PlanStats(0, 0, 0, 0)

  def of(df: DataFrame): PlanStats = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    PlanStats(
      scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum,
      exchanges.size.toDouble)
  }
}
