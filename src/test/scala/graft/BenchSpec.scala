package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates for the bench timer: the median rule and artifacts that never
  * overwrite each other. */
class BenchSpec extends AnyFunSuite {

  private def runs(xs: Option[(Double, Double)]*): () => Option[(Double, Double)] = {
    val it = xs.iterator
    () => it.next()
  }

  test("measure reports the median of the successful runs, leaves a " +
      "failed run out, and reports -1 when every run fails") {
    val all = Bench.measure(runs(Some((0.3, 3.0)), Some((0.1, 1.0)),
      Some((0.2, 2.0))))
    assert(all == Bench.Measure(0.2, 2.0), all)
    // one failure: the median of the two survivors (the upper one, as
    // `med` picks for an even count), not -1 and not counting the failure
    val oneFailed = Bench.measure(runs(Some((0.1, 1.0)), None,
      Some((0.5, 5.0))))
    assert(oneFailed == Bench.Measure(0.5, 5.0), oneFailed)
    val allFailed = Bench.measure(runs(None, None, None))
    assert(allFailed == Bench.Measure(-1.0, -1.0), allFailed)
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

  test("a misspelled query name fails loudly instead of benching nothing") {
    val e = intercept[IllegalArgumentException](Bench.main(Array("knn_ivff")))
    assert(e.getMessage.contains("unknown query name(s): knn_ivff"), e.getMessage)
    // the selector all three mains share: comma lists, empty segments
    // dropped, name order, every entry when nothing is named
    assert(SparkEntry.select(Seq("q_term_search,knn_ivf", "")).map(_._1) ==
      List("knn_ivf", "q_term_search"))
    assert(SparkEntry.select(Nil).map(_._1) == SparkEntry.queries.keys.toList.sorted)
    intercept[IllegalArgumentException](SparkEntry.select(Seq("q_term_search,nope")))
  }
}
