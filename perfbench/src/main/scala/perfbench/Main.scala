package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** A reported figure with its unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int,
    note: String = "")

/** What a workload hands back besides the harness records: fixture build
  * walls (one per build), commit walls, indexing throughput, the wall of
  * its own verb, and figures only it measures. */
final case class Outcome(fixtureMs: Seq[Double], commitMs: Seq[Double],
    docsPerS: Double, verbMs: Double, details: Seq[Metric])

/** One run's settings and the measurement loop shared by the workloads. */
final class Ctx(val h: Harness, val seed: Long, val seconds: Int,
    val trace: Boolean, workDir: Path) {

  def dir(name: String): Path = Files.createDirectories(workDir.resolve(name))

  var digestStats: ((Long, Long, Int), (Long, Long, Int)) = ((0, 0, 0), (0, 0, 0))

  /** Call `step` until `seconds` have passed, at least once. A traced run
    * alternates untraced and traced steps (at least three, so a cold first
    * step is never the only untraced one); comparing the two sets at the
    * same warmth gives the tracing overhead. */
  def measure(step: () => Unit): Unit = {
    val d0 = graft.engine.Catalog.digestCacheStats
    val end = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < (if (trace) 3 else 1) || System.nanoTime() < end) {
      if (i % 2 == 1) traced(step()) else step()
      i += 1
    }
    digestStats = (d0, graft.engine.Catalog.digestCacheStats)
  }

  /** Run `f` with tracing on (traced runs only). */
  def traced[T](f: => T): T = {
    h.tracer.on = trace
    try f finally h.tracer.on = false
  }

  private def walls(cls: String, traced: Boolean): Seq[Double] =
    h.of(cls, traced).map(_.wallMs)

  def n(cls: String, traced: Boolean = false): Int = walls(cls, traced).length

  /** The kind-balanced latency of class `cls`: the mean, over the class's
    * request kinds, of each kind's median untraced wall (NaN with no
    * samples). The kinds of a class differ in cost by up to 5×, so a
    * median over all requests falls in a gap between kinds; every kind
    * weighs the same here, and every sample counts. */
  def typical(cls: String): Double = {
    val byKind = h.of(cls).groupBy(_.kind).values.map(rs => Stats.median(rs.map(_.wallMs))).toSeq
    if (byKind.isEmpty) Double.NaN else Stats.mean(byKind)
  }

  /** Median untraced wall over every request of class `cls`. */
  def p50(cls: String): Double = {
    val w = walls(cls, traced = false)
    if (w.isEmpty) Double.NaN else Stats.median(w)
  }

  /** The tail rule over the untraced walls of `classes`. */
  def tailOf(classes: Seq[String]): (Double, Double, Int) = {
    val w = classes.flatMap(walls(_, traced = false))
    if (w.isEmpty) (Double.NaN, 0, 0) else Stats.tail(w)
  }

  /** Mean per-request tracing cost: for each request kind, the traced
    * median wall minus the untraced one (without the kind's first, cold
    * call when there are more), weighted by traced request count. */
  def traceOverheadMs: Double = {
    val byKind = h.recs.filter(_.cls != "warmup").groupBy(r => (r.cls, r.kind))
    val diffs = byKind.values.toSeq.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      val ref = if (u.length > 1) u.tail else u
      if (t.isEmpty || ref.isEmpty) None
      else Some((t.length.toDouble,
        Stats.median(t.map(_.wallMs).toSeq) - Stats.median(ref.map(_.wallMs).toSeq)))
    }
    if (diffs.isEmpty) Double.NaN else diffs.map(d => d._1 * d._2).sum / diffs.map(_._1).sum
  }
}

/** Runs one workload in one JVM and prints its metrics; the last stdout
  * line is the JSON summary.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out DIR --run-id ID [--git-commit C] [--source-sha S] */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "log_search" -> LogSearch.run,
    "corpus_pipeline" -> CorpusPipeline.run)

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  def endToEnd(c: Ctx, o: Outcome, sessionMs: Double): Seq[Metric] = Seq(
    Metric("setup_s", (sessionMs + Stats.median(o.fixtureMs)) / 1000, "s", o.fixtureMs.length,
      "session once, then the median fixture build"),
    Metric("search_selective_ms", c.typical("selective"), "ms", c.n("selective"),
      "mean over kinds of the kind's median"),
    Metric("search_broad_ms", c.typical("broad"), "ms", c.n("broad"),
      "mean over kinds of the kind's median"),
    Metric("commit_p50_ms", Stats.median(o.commitMs), "ms", o.commitMs.length),
    Metric("index_docs_per_s", o.docsPerS, "docs/s", o.commitMs.length),
    Metric("verb_ms", o.verbMs, "ms", c.n("verb")))

  /** The per-layer metrics every traced run reports (BENCHMARK.json). */
  def perLayer(c: Ctx, sessionMs: Double, o: Outcome): Seq[Metric] = {
    val h = c.h
    def m(name: String, key: String, unit: String, classes: String*) =
      Metric(name, h.layer(key, classes: _*), unit, classes.map(c.n(_, traced = true)).sum)
    val search = Seq("selective", "broad")
    Seq("selective", "broad").flatMap(cls => Seq(
      m(s"searcher.build_ms.$cls", "build_ms", "ms", cls),
      m(s"spark.plan_ms.$cls", "plan_ms", "ms", cls),
      m(s"spark.exec_ms.$cls", "exec_ms", "ms", cls),
      m(s"driver.only_ms.$cls", "driver_only_ms", "ms", cls),
      m(s"searcher.build_jobs.$cls", "build_jobs", "count", cls))) ++ Seq(
      m("searcher.prune_ms", "prune_ms", "ms", search: _*),
      m("searcher.splits_scanned_ratio", "splits_scanned_ratio", "fraction", search: _*),
      Metric("catalog.digest_cache_hit_ratio",
        Ingest.hitRatio(c.digestStats._1, c.digestStats._2), "fraction", 1),
      m("indexer.commit_job_ms", "job_ms", "ms", "commit"),
      m("indexer.commit_driver_ms", "driver_only_ms", "ms", "commit"),
      m("verb.call_ms", "build_ms", "ms", "verb"),
      m("driver.only_ms.verb", "driver_only_ms", "ms", "verb"),
      m("spark.task_cpu_ms.verb", "task_cpu_ms", "ms", "verb"),
      Metric("setup.session_ms", sessionMs, "ms", 1),
      Metric("setup.fixture_ms", Stats.median(o.fixtureMs), "ms", o.fixtureMs.length),
      Metric("trace.overhead_ms", c.traceOverheadMs, "ms",
        h.recs.count(r => r.traced && r.cls != "warmup")))
  }

  /** Every traced layer figure by class, beyond the declared ones. */
  def layerDetails(c: Ctx): Seq[Metric] = {
    val keys = Seq("wall_ms", "build_ms", "plan_ms", "exec_ms", "job_ms",
      "driver_only_ms", "jobs", "build_jobs", "build_tasks", "stages", "tasks",
      "task_cpu_ms", "task_gc_ms", "shuffle_write_bytes", "spill_bytes",
      "input_bytes", "scan_files", "scan_bytes", "rows_read_per_result",
      "exchanges", "useful_split_ratio", "split_bytes_per_doc")
    for {
      cls <- Seq("selective", "broad", "verb", "commit", "fresh", "merge")
      if c.n(cls, traced = true) > 0
      k <- keys
    } yield Metric(s"layer.$cls.$k", c.h.layer(k, cls),
      if (k.endsWith("_ms")) "ms" else if (k.endsWith("bytes")) "bytes" else "count",
      c.n(cls, traced = true))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val run = Workloads.getOrElse(workload, sys.error(
      s"unknown workload '$workload' (want one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val runId = arg("run-id")
    val outDir = Path.of(arg("out"))
    val base = Artifacts.baseName(workload, seed, cores, trace, runId)
    val artifact = outDir.resolve(s"$base.json")
    // refuse before any work, not after it
    require(!Files.exists(artifact), s"refusing to overwrite $artifact")

    val spark = graft.Graft.session(cores)
    val sessionMs = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime).toDouble
    val h = new Harness(spark, trace)
    val c = new Ctx(h, seed, seconds, trace, Path.of(arg("work")))
    val o = run(c)

    val e2e = endToEnd(c, o, sessionMs)
    val layers = if (trace) perLayer(c, sessionMs, o) else Nil
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    val details = Seq(
      Metric("error_rate", h.failed.toDouble / math.max(1, h.attempted), "fraction", h.attempted),
      Metric("search_selective_p50_ms", c.p50("selective"), "ms", c.n("selective")),
      Metric("search_broad_p50_ms", c.p50("broad"), "ms", c.n("broad")),
      Metric("jvm.heap_peak_mb", heapPeakMb, "MB", 1),
      Metric("jvm.gc_ms", ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum.toDouble, "ms", 1)) ++ o.details ++
      (if (!trace) Nil else Seq(
        Metric("query.parse_compile_ms", h.layer("parse_compile_ms", "selective", "broad"), "ms",
          c.n("selective", traced = true) + c.n("broad", traced = true)),
        Metric("catalog.manifest_read_ms", h.layer("manifest_read_ms", "selective", "broad"), "ms",
          c.n("selective", traced = true) + c.n("broad", traced = true)))) ++
      (if (trace) layerDetails(c) else Nil)
    val reported = if (trace) layers else e2e
    val correct = h.failed == 0 && h.attempted > 0 && reported.forall(m => !m.value.isNaN)

    for (m <- e2e ++ layers ++ details)
      println(f"${m.name}%-40s ${m.value}%14.4f ${m.unit}%-9s n=${m.n}%d ${m.note}")
    h.failures.take(20).foreach(f => println(s"FAILED: $f"))

    def ms(xs: Seq[Metric]) = xs.map(m => ListMap("name" -> m.name, "value" -> m.value,
      "unit" -> m.unit, "n" -> m.n, "note" -> m.note))
    val env = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "run_id" -> runId, "cores" -> cores,
      "session" -> s"graft.Graft.session($cores), no extra conf",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "git_commit" -> a.getOrElse("git-commit", ""),
      "source_sha256" -> a.getOrElse("source-sha", ""))
    if (trace) {
      val spans = h.tracer.withJobs(h.listener.get.allJobs)
      val lines = spans.map(s => Json.render(ListMap("id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> Spans.selfNs(s, spans), "probe" -> s.probe)))
      Artifacts.writeNew(outDir.resolve(s"$base.spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    Artifacts.writeNew(artifact, Json.render(ListMap(
      "env" -> env,
      "correct" -> correct, "attempted" -> h.attempted, "failed" -> h.failed,
      "failures" -> h.failures.toSeq,
      "end_to_end" -> ms(e2e), "per_layer" -> ms(layers), "details" -> ms(details),
      "requests" -> h.recs.map(r => ListMap("id" -> r.id, "cls" -> r.cls, "kind" -> r.kind,
        "wall_ms" -> r.wallMs, "traced" -> r.traced, "layers" -> r.layers)))) + "\n")
    println(s"artifact: $artifact")

    spark.stop()
    println(Json.render(ListMap("correct" -> correct, "attempted" -> h.attempted,
      "failed" -> h.failed, "metrics" -> ListMap(reported.map(m =>
        m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*))))
  }
}
