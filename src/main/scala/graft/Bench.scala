package graft

import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}

/** Benchmark main: one JSON line with per-query steady-state seconds.
  *
  * Each query runs once untimed (JIT + codegen + parquet footer warmup —
  * the first action in a fresh JVM otherwise pays ~10s that has nothing to
  * do with the query; the warmup also populates
  * [[graft.queries.FixtureMemo]], so timed iterations of the serving
  * rows measure the probe/rank operator, not their deterministic
  * trained-fixture construction — the r16-verdict train-vs-serve cost
  * split), then three times timed, reporting the MEDIAN — a
  * single eviction-driven recompute storm or GC stall cannot land on one
  * query and misreport it by an order of magnitude (the round-2 lesson).
  * Queries run in name order so the report is stable run-to-run.
  *
  * Next to wall seconds, each query reports PROCESS CPU seconds (the
  * whole-JVM `OperatingSystemMXBean` counter delta — in local mode every
  * executor thread lives in this JVM, so the delta is the query's actual
  * compute): wall time on a shared box inflates under a co-located
  * process while CPU cycles consumed stay flat.
  *
  * This main only times. Whether a change regressed is decided by
  * paired, alternating `perfbench/run.py` runs of the parent and the
  * change (README, "State of the engine"); the cross-round adjudicators
  * that once read these artifacts are in history
  * (`git show 4a71c24:src/main/scala/graft/tools/BenchDiff.scala`). */
object Bench {

  /** One query's report: medians over the successful timed runs. */
  final case class Measure(wall: Double, cpu: Double)

  /** Median of the successful runs (−1 when every run failed): one
    * transient failure must not discard the valid measurements. */
  def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)

  /** Time one query: three runs, medians over the ones that succeeded. */
  def measure(run: () => Option[(Double, Double)]): Measure = {
    val ok = Seq(run(), run(), run()).flatten
    Measure(med(ok.map(_._1)), med(ok.map(_._2)))
  }

  /** Default per-query output file: the CPU count and the sf directory's
    * last path component are in the name, so an 8-core run cannot
    * clobber the 32-core run's file (nor sf0.01 clobber sf0.1). */
  def defaultOutPath(cpus: String, sfDir: String): String =
    s"bench_out_c${cpus}_${Paths.get(sfDir).getFileName}.json"

  /** Write `content` to `path` — or, when that file exists, to the first
    * free `<stem>.<n><ext>` (n = 1, 2, …) — never overwriting a bench
    * artifact. `CREATE_NEW` makes the free-name check and the write one
    * atomic step. Returns the path actually written. */
  def writeNew(path: String, content: String): String = {
    val dot = path.lastIndexOf('.')
    val (stem, ext) =
      if (dot > path.lastIndexOf('/')) path.splitAt(dot) else (path, "")
    Iterator.from(0).map(n => if (n == 0) path else s"$stem.$n$ext")
      .find { p =>
        try {
          Files.writeString(Paths.get(p), content, StandardOpenOption.CREATE_NEW)
          true
        } catch { case _: FileAlreadyExistsException => false }
      }.get
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the product session, so the bench times the configuration the
    // oracle certifies
    val spark = Graft.session(cpus.toInt, "graft-bench")

    // optional positional args name specific queries to bench in
    // isolation, without the full run's GC/cleaner bleed in the cpu column
    val only = args.toSet
    val ordered = SparkEntry.queries.toList.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup FAILED for $name: $e")
      }
    }
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val results = ordered.map { case (name, fn) =>
      def once(): Option[(Double, Double)] = {
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(((System.nanoTime() - t0) / 1e9,
            (osBean.getProcessCpuTime - c0) / 1e9))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] query FAILED: $name: $e")
          None
        }
      }
      name -> measure(once _)
    }
    def field(f: Measure => Double): String = results
      .map { case (k, m) => "\"" + k + "\":" + f(m) }.mkString("{", ",", "}")
    val qs = field(_.wall)
    val cs = field(_.cpu)
    // A failed query must not shrink total (the regression would read as a
    // speedup): report the failure count explicitly and poison the headline
    // value so a BENCH-vs-BASELINE diff flags it.
    val failed = results.count(_._2.wall < 0)
    val total =
      if (failed > 0) -1.0 else results.map(_._2.wall).sum
    val cpuTotal =
      if (failed > 0) -1.0 else results.map(_._2.cpu).sum
    val sf = Graft.jsonString(sfDir)
    val full = s"""{"metric":"total_full","value":$total,"unit":"sec","failed":$failed,"cpu_total":$cpuTotal,"queries":$qs,"cpu":$cs,"sf":$sf}"""
    // r21 (verdict #1): the driver's stdout capture keeps only the LAST
    // 2000 chars, and the full per-query line above has grown to ~25 KB —
    // every BENCH_r*.json on record holds a line truncated mid-JSON
    // (`parsed: null` for five straight rounds). The full JSON therefore
    // ALSO goes to a file (SPARK_GRAFT_BENCH_OUT, default [[defaultOutPath]]
    // — the per-query record), and the LAST
    // stdout line is a compact summary guaranteed to sit complete inside
    // the capture window. The 172-entry queries map cannot fit there even
    // at 2-decimal precision (~4 KB serialized vs a ~1.9 KB budget), so
    // the compact line carries the totals and points at the file; no
    // query is dropped from the bench — the full line (printed above,
    // metric "total_full") and the file both carry all of them.
    println(full)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      defaultOutPath(cpus, sfDir))
    val written =
      try Graft.jsonString(writeNew(outPath, full + "\n"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: $e")
        "null"
      }
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"cpu_total":$cpuTotal,"n_queries":${results.size},"queries_file":$written,"sf":$sf}""")
    spark.stop()
  }
}
