package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files}

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0, 10)))
    val shuffled = new scala.util.Random(3).shuffle((1 to 40).map(_.toDouble))
    assert(Stats.tail(shuffled) == ((30.0, 75.0, 10)))
    // exactly ten beyond the value, none of them equal to it
    assert(shuffled.count(_ > Stats.tail(shuffled)._1) == 10)
  }

  test("with ten samples or fewer the tail falls back to the maximum") {
    assert(Stats.tail(Seq(5.0, 1.0, 3.0)) == ((5.0, 100.0, 0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((10.0, 100.0, 0)))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == ((1.0, 100.0 / 11, 10)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    val root = Span(1, 0, 7, "request", 0, 100)
    val spans = Seq(root,
      Span(2, 1, 7, "a", 10, 30),
      Span(3, 1, 7, "b", 20, 50), // overlaps a: counted once
      Span(4, 1, 7, "c", 80, 120), // runs past the parent: clipped at 100
      Span(5, 2, 7, "grandchild", 12, 14), // not a direct child of root
      Span(6, 0, 8, "other request", 0, 100))
    assert(Spans.selfNs(root, spans) == 100 - 40 - 20)
    assert(Spans.selfNs(spans(1), spans) == 20 - 2)
    assert(Spans.selfNs(spans(5), spans) == 100)
  }

  test("union of intervals merges overlaps and touching ends") {
    assert(Spans.unionNs(Seq((0L, 10L), (10L, 20L), (5L, 15L)), 0, 100) == 20)
    assert(Spans.unionNs(Seq((0L, 10L), (30L, 40L)), 5, 35) == 10)
    assert(Spans.unionNs(Nil, 0, 10) == 0)
  }

  test("the same seed generates byte-identical inputs") {
    def logBytes(seed: Long) =
      (0 until 3).flatMap(b => Gen.logBatch(seed, b, 200).map(_.json)).mkString("\n")
    assert(logBytes(5) == logBytes(5))
    assert(logBytes(5) != logBytes(6))

    def vecBytes(seed: Long) = Gen.clusteredVectors(seed, 50, 8, 4).zipWithIndex
      .map { case (v, i) => Gen.vectorJson(i, v) }.mkString("\n")
    assert(vecBytes(5) == vecBytes(5))
    assert(vecBytes(5) != vecBytes(6))

    def corpusBytes(seed: Long) =
      Gen.permutedReplicas(seed, Gen.baseDocs(seed, 40), 3).mkString("\n") +
        Gen.embeddings(seed, 30, 8).map { case (i, v, l) => s"$i ${v.mkString(",")} $l" }.mkString
    assert(corpusBytes(5) == corpusBytes(5))
    assert(corpusBytes(5) != corpusBytes(6))
  }

  test("a log batch is time-ordered, inside its window, and alone holds its rare tokens") {
    val batches = (0 until 4).map(b => Gen.logBatch(9, b, 300))
    for ((batch, b) <- batches.zipWithIndex) {
      val ts = batch.map(_.ts)
      assert(ts == ts.sorted)
      assert(ts.forall(t => t >= Gen.T0 + b * Gen.BatchSpanS && t < Gen.T0 + (b + 1) * Gen.BatchSpanS))
      assert(batch.map(_.reqId) == (b * 300L until (b + 1) * 300L))
      for (t <- 0 until Gen.RareTokensPerBatch) {
        val tok = Gen.rareToken(b, t)
        assert(batch.exists(_.tokens(tok)))
        assert(batches.zipWithIndex.forall { case (o, ob) => ob == b || !o.exists(_.tokens(tok)) })
      }
    }
  }

  test("replica 0 keeps the base text; other replicas are ciphered with disjoint ids") {
    val base = Gen.baseDocs(2, 20)
    val reps = Gen.permutedReplicas(2, base, 3)
    assert(reps.take(20) == base)
    assert(reps.map(_.docId).distinct.length == 60)
    assert(reps(20).text != base.head.text && reps(20).text.length == base.head.text.length)
    assert(Gen.permutation(2, 1).sorted == "abcdefghijklmnopqrstuvwxyz")
  }

  test("an artifact is never overwritten") {
    val dir = Files.createTempDirectory("perfbench-artifacts")
    val p = dir.resolve(Artifacts.baseName("log_search", 1, 4, trace = false, "r1") + ".json")
    Artifacts.writeNew(p, "first")
    assertThrows[FileAlreadyExistsException](Artifacts.writeNew(p, "second"))
    assert(new String(Files.readAllBytes(p), StandardCharsets.UTF_8) == "first")
    // the name carries workload, seed, cores, trace flag and run id
    assert(p.getFileName.toString == "log_search-seed1-c4-trace0-r1.json")
  }

  test("exact top-k accepts only the true top-k, allowing ties at the boundary") {
    val truth = Array(1 -> 0.9, 2 -> 0.8, 3 -> 0.7, 4 -> 0.7, 5 -> 0.1)
    assert(Ingest.sameTopK(Seq(1, 2, 3), truth, 3))
    assert(Ingest.sameTopK(Seq(2, 1, 4), truth, 3))
    assert(!Ingest.sameTopK(Seq(1, 3, 4), truth, 3))
    assert(!Ingest.sameTopK(Seq(1, 2, 5), truth, 3))
    assert(!Ingest.sameTopK(Seq(1, 2), truth, 3))
  }

  test("json rendering escapes strings and keeps key order") {
    val m = scala.collection.immutable.ListMap("b" -> "q\"\\\n", "a" -> Seq[Any](1, 2.5), "n" -> Double.NaN)
    assert(Json.render(m) == """{"b":"q\"\\\n","a":[1,2.5],"n":null}""")
  }
}
