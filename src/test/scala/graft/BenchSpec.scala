package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates for the bench storm detector (r17 verdict #3): the r17 seal
  * committed an 8.09 s row whose same-box A/B truth was ~1.3 s —
  * median-of-3 cannot reject a storm spanning all three iterations, so
  * the artifact must carry its own adjudication (per-query min/max +
  * a `flapped` annotation + refresh iterations). */
class BenchSpec extends AnyFunSuite {

  private def runs(xs: (Double, Double)*): () => Option[(Double, Double)] = {
    val it = xs.iterator
    () => if (it.hasNext) Some(it.next()) else None
  }

  test("a planted sleep-storm on one iteration trips the spread detector " +
      "and the refresh runs repair the median") {
    var calls = 0
    val storm = () => { calls += 1
      // iteration 2 sleeps (eviction storm); the rest are calm
      Some(if (calls == 2) (0.9, 0.1) else (0.1, 0.1)) }
    val m = Bench.measure(storm, prior = None)
    assert(m.flapped, m)
    assert(calls == 5, "2 refresh iterations expected")
    assert(m.wall == 0.1, s"refreshed median must read calm: $m")
    assert(m.wallMin == 0.1 && m.wallMax == 0.9, m)
  }

  test("a SUSTAINED storm (all three iterations slow, cpu flat vs the " +
      "prior seal) is flagged even though the spread is tight") {
    // the exact r17 dedup_cluster_canon shape: wall 6x the prior seal,
    // cpu unchanged — a spread check alone cannot see it
    val m = Bench.measure(
      runs((8.0, 4.1), (8.1, 4.1), (8.0, 4.1), (8.2, 4.1), (8.1, 4.1)),
      prior = Some((1.2, 4.0)))
    assert(m.flapped, s"sustained storm must be annotated: $m")
    assert(m.wall > 7.0, "the median stays honest — the flag adjudicates")
  }

  test("a real regression (wall AND cpu both up) is NOT flagged as flap") {
    val m = Bench.measure(
      runs((8.0, 24.0), (8.1, 24.5), (8.0, 24.2)),
      prior = Some((1.2, 4.0)))
    assert(!m.flapped,
      s"cpu moved with wall — regression, not contention: $m")
    assert(m.wall > 7.0)
  }

  test("a prior seal WITHOUT a cpu column cannot flag the vs-prior rule: " +
      "a genuine 2x regression with cpu also up stays un-annotated") {
    // readPrior fills a missing cpu with -1.0; treating that as "cpu
    // flat" would annotate this real regression as a flap, BenchDiff
    // would void its wall evidence, and a wall-only artifact pair would
    // mask it entirely (r18 advice) — absence of cpu evidence must fall
    // back to spread-only detection, not convict contention
    val m = Bench.measure(
      runs((8.0, 24.0), (8.1, 24.5), (8.0, 24.2)),
      prior = Some((1.2, -1.0)))
    assert(!m.flapped,
      s"missing prior cpu must not satisfy the cpu-flat clause: $m")
    // and the spread rule still works without prior cpu
    val spread = Bench.measure(
      runs((0.4, 0.2), (8.0, 0.2), (0.4, 0.2), (0.4, 0.2), (0.4, 0.2)),
      prior = Some((0.4, -1.0)))
    assert(spread.flapped, s"spread detection must survive: $spread")
  }

  test("calm runs pay no extra iterations and no annotation") {
    var calls = 0
    val calm = () => { calls += 1; Some((0.50 + 0.01 * calls, 1.0)) }
    val m = Bench.measure(calm, prior = Some((0.5, 1.0)))
    assert(!m.flapped && calls == 3, s"$m after $calls calls")
  }

  test("sub-50ms rows are exempt from the spread check (scheduler noise)") {
    val m = Bench.measure(
      runs((0.004, 0.01), (0.030, 0.01), (0.005, 0.01)), prior = None)
    assert(!m.flapped, m)
  }

  test("readPrior parses a seal line and survives a missing file") {
    val p = java.nio.file.Files.createTempFile("bench-prior", ".json")
    java.nio.file.Files.write(p,
      """{"metric":"total","value":2.0,"queries":{"q1":1.5,"q2":0.5},"cpu":{"q1":3.0,"q2":1.0}}"""
        .getBytes("UTF-8"))
    val prior = Bench.readPrior(p.toString)
    assert(prior == Map("q1" -> (1.5, 3.0), "q2" -> (0.5, 1.0)))
    assert(Bench.readPrior("/nonexistent/prior.json").isEmpty)
  }

  test("two writes to the same default output path produce two files") {
    val dir = java.nio.file.Files.createTempDirectory("bench-out")
    val name = Bench.defaultOutPath("8", "/data/sf0.1/")
    assert(name == "bench_out_c8_sf0.1.json", name)
    val path = dir.resolve(name).toString
    val first = Bench.writeNew(path, "run 1\n")
    val second = Bench.writeNew(path, "run 2\n")
    assert(first == path)
    assert(second == dir.resolve("bench_out_c8_sf0.1.1.json").toString)
    def read(p: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    assert(read(first) == "run 1\n" && read(second) == "run 2\n",
      "the second write must not clobber the first")
  }
}
