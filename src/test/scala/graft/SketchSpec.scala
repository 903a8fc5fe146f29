package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sketch
import graft.queries.SketchQueries

/** Gates for the sketch tier ([[graft.ops.Sketch]]): the merge laws that
  * make a sketch a sketch (per-split partials combine without revisiting
  * rows), the error guarantees the literature promises, and the
  * determinism the oracle gate relies on. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def li = Graft.table(spark, sf, "lineitem")
    .select(col("l_returnflag").as("grp"),
      col("l_orderkey").cast("string").as("k"),
      col("l_orderkey"))

  test("HLL registers merge by max: two half-corpus sketches == whole-corpus sketch") {
    val whole = Sketch.hllRegisters(li, col("grp"), col("k"))
    val halves = Seq(0, 1).map { p =>
      Sketch.hllRegisters(li.where(pmod(col("l_orderkey"), lit(2)) === p),
        col("grp"), col("k"))
    }
    val merged = halves.reduce(_ unionByName _)
      .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
    assert(whole.exceptAll(merged).isEmpty && merged.exceptAll(whole).isEmpty,
      "register tables must be identical under split-then-merge")
  }

  test("HLL estimate lands within 3 standard errors of exact distinct per group") {
    val rep = SketchQueries.sketch_hll(spark, sf).collect()
    assert(rep.length == 4) // A, N, R, __all__
    val sigma3 = 3.0 * 1.04 / math.sqrt(Sketch.HllBuckets)
    rep.foreach { r =>
      val est = r.getAs[Long]("est_distinct").toDouble
      val exact = r.getAs[Long]("exact_distinct").toDouble
      assert(math.abs(est - exact) / exact < sigma3,
        s"grp=${r.getString(0)}: est $est vs exact $exact beyond 3 sigma")
    }
  }

  test("CMS counters merge by sum and never undercount any key") {
    import spark.implicits._
    val tf = Seq(("aa", 10L), ("bb", 7L), ("cc", 5L), ("dd", 1L)).toDF("k", "cnt")
    val d = 4; val w = 8 // tiny grid => forced collisions
    val whole = Sketch.cmsCounters(tf, col("k"), col("cnt"), d, w)
    val halves = Seq(tf.limit(2), tf.exceptAll(tf.limit(2)))
      .map(Sketch.cmsCounters(_, col("k"), col("cnt"), d, w))
    val merged = halves.reduce(_ unionByName _)
      .groupBy(col("d"), col("c")).agg(sum(col("cell")).as("cell"))
    assert(whole.exceptAll(merged).isEmpty && merged.exceptAll(whole).isEmpty,
      "counter grids must be additive under split-then-merge")
    val est = Sketch.cmsEstimate(whole, tf, col("k"), d, w)
      .withColumnRenamed("k", "probe_k")
      .join(tf, col("probe_k") === tf("k")).select(col("est_cnt"), col("cnt"))
      .collect()
    est.foreach(r => assert(r.getLong(0) >= r.getLong(1),
      "CMS point estimates must never undercount"))
  }

  test("sketch_cms_topk estimates bound true counts and respect the epsilon guarantee") {
    val rows = SketchQueries.sketch_cms_topk(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalMass = rows.map(_.getAs[Long]("true_cnt")).sum // lower bound on N
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0L, "CMS never undercounts")
    }
    // e/w * N with N >= the top-20 mass; the real N is larger, so this is
    // a loose sanity ceiling rather than the tight guarantee
    val grid = rows.map(_.getAs[Long]("est_cnt")).max
    assert(grid < totalMass * 10, s"estimates implausibly large: $grid")
  }

  test("sketch_cms_hh honors the heavy-hitter contract: no missed HH, bounded overcount") {
    val rows = SketchQueries.sketch_cms_hh(spark, sf).collect()
    assert(rows.nonEmpty, "fixture must surface at least one heavy hitter")
    val thresh = rows.head.getAs[Long]("thresh")
    val bound = rows.head.getAs[Long]("overcount_bound")
    assert(rows.head.getAs[Long]("width") == 1024L,
      "grid width must be the constant depth/phi, independent of corpus mass")
    // completeness: every key whose TRUE count clears phi*N must be
    // reported (CMS never undercounts, so est >= true >= thresh)
    val reported = rows.map(_.getAs[String]("key")).toSet
    val trueHh = Graft.table(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokenizeDefault(
        col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= thresh).collect().map(_.getAs[String]("tok"))
    assert(trueHh.nonEmpty, "fixture must hold true heavy hitters")
    trueHh.foreach(k => assert(reported.contains(k), s"missed heavy hitter $k"))
    // the measured contract: overcount on every reported key within the
    // phi*N/depth expectation budget on this fixture
    rows.foreach { r =>
      val oc = r.getAs[Long]("overcount")
      assert(oc >= 0L, "CMS never undercounts")
      assert(oc <= bound,
        s"key=${r.getAs[String]("key")} overcount $oc beyond bound $bound")
    }
  }

  test("HLL register construction is deterministic across runs") {
    val a = SketchQueries.sketch_hll(spark, sf).collect().toSeq
    val b = SketchQueries.sketch_hll(spark, sf).collect().toSeq
    assert(a == b)
  }
  test("windowed HLL's __all__ roll-up equals registers built with no grouping at all") {
    // the invariant that makes per-window sketching sound: grouping is
    // transparent -- max-merging per-window registers must reproduce the
    // register table a single global pass would build
    val ev = Graft.events(spark, sf)
    val weekly = Sketch.hllRegisters(
      ev.select(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("grp"),
        col("event_id").cast("string").as("k")),
      col("grp"), col("k"))
    val rolled = weekly.groupBy(col("bucket")).agg(max(col("m")).as("m"))
    val global = Sketch.hllRegisters(
      ev.select(lit("g").as("grp"), col("event_id").cast("string").as("k")),
      col("grp"), col("k")).select(col("bucket"), col("m"))
    assert(rolled.exceptAll(global).isEmpty && global.exceptAll(rolled).isEmpty,
      "roll-up must be grouping-transparent")
  }

  test("linear-counting chooser: LC in the sparse regime, raw above it, near-exact at tiny n") {
    import spark.implicits._
    // 40 distinct keys: deep LC regime — LC must land within ±10% where
    // the raw sparse estimate is known-biased; and the regime column
    // must say which branch served
    val small = (0 until 40).flatMap(i => Seq.fill(3)(s"key$i"))
      .toDF("k").select(lit("g").as("grp"), col("k"))
    val rep = Sketch.hllEstimateCorrected(
      Sketch.hllRegisters(small, col("grp"), col("k"))).collect().head
    assert(rep.getAs[String]("regime") == "lc")
    val est = rep.getAs[Long]("est_distinct")
    assert(math.abs(est - 40L) <= 6, s"LC estimate $est for n=40")
    // 5,000 distinct keys: raw regime — est_distinct must BE est_raw
    val big = (0 until 5000).map(i => s"key$i")
      .toDF("k").select(lit("g").as("grp"), col("k"))
    val rep2 = Sketch.hllEstimateCorrected(
      Sketch.hllRegisters(big, col("grp"), col("k"))).collect().head
    assert(rep2.getAs[String]("regime") == "raw")
    assert(rep2.getAs[Long]("est_distinct") == rep2.getAs[Long]("est_raw"))
  }

  test("cmsAutoWidth: power of two strictly past total/64, floored at 256") {
    assert(Sketch.cmsAutoWidth(0L) == 256)
    assert(Sketch.cmsAutoWidth(64L * 255) == 256)
    assert(Sketch.cmsAutoWidth(64L * 256) == 512) // t=256 -> strictly past
    assert(Sketch.cmsAutoWidth(26665L) == 512)    // the sf0.01 census
    assert(Sketch.cmsAutoWidth(265704L) == 8192)  // the sf0.1 census
    // matches the oracle text: 1 << length(bin(t))
    for (t <- Seq(1L, 2L, 3L, 255L, 256L, 257L, 4095L, 4096L)) {
      val w = Sketch.cmsAutoWidth(t * 64)
      assert(w > t && w <= 2 * math.max(t, 128), s"t=$t w=$w")
    }
  }

  test("rho matches an independent bit-twiddling reference on random hashes") {
    import spark.implicits._
    // h64 yields 60 bits; rho = leading zeros of the low 52 bits + 1.
    // Reference: Long.numberOfLeadingZeros(r) - 11 (the top 12 bits of a
    // 52-bit value are always zero in a 64-bit long), 53 when r = 0.
    val rnd = new scala.util.Random(42)
    val hs = Seq.fill(2000)(math.abs(rnd.nextLong()) % (1L << 60)) :+ 0L :+
      (1L << 52) :+ ((1L << 52) - 1) :+ 1L
    val got = hs.toDF("h")
      .select(col("h"), (col("h") % (1L << 52)).as("r"))
      .select(col("h"),
        when(col("r") === 0, lit(53L))
          .otherwise(lit(53L) - length(bin(col("r")))).as("rho"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hs.foreach { h =>
      val r = h % (1L << 52)
      val want = if (r == 0) 53L
        else (java.lang.Long.numberOfLeadingZeros(r) - 11).toLong
      assert(got(h) == want, s"h=$h r=$r: got ${got(h)} want $want")
    }
  }

  test("HDR buckets match an independent bit-twiddling reference and contain their value") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vs = (Seq.fill(2000)(math.abs(rnd.nextLong()) % 1000000L) ++
      Seq(0L, 1L, 15L, 16L, 17L, 255L, 256L, 1L << 40)).distinct
    val got = Sketch.hdrBuckets(vs.toDF("v").select(lit("g").as("grp"), col("v")),
        col("grp"), col("v"))
      .collect().map(r => r.getLong(1)).toSet
    val want = vs.map { v =>
      if (v <= 0) 0L
      else {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
        1L + e * Sketch.HdrSub + (((v - (1L << e)) * Sketch.HdrSub) >> e)
      }
    }.toSet
    assert(got == want, s"bucket sets differ: ${got.diff(want)} vs ${want.diff(got)}")
    // every bucket's [lower, upper) reconstruction contains its value
    vs.filter(_ >= 1).foreach { v =>
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val s = ((v - (1L << e)) * Sketch.HdrSub) >> e
      val lower = (1L << e) + (s * (1L << e)) / Sketch.HdrSub
      // octaves narrower than HdrSub collapse integer sub-bucket bounds
      // (width 0); the bucket is then exact, holding the single value
      val upper = math.max(
        (1L << e) + ((s + 1) * (1L << e)) / Sketch.HdrSub, lower + 1)
      assert(lower <= v && v < upper, s"v=$v outside [$lower, $upper)")
    }
  }

  test("HDR buckets merge by sum: split-then-merge == whole-corpus grid") {
    val docs = Graft.table(spark, sf, "documents")
      .select(col("source").as("grp"), length(col("text")).cast("long").as("v"),
        col("doc_id"))
    val whole = Sketch.hdrBuckets(docs, col("grp"), col("v"))
    val halves = Seq(0, 1).map { p =>
      Sketch.hdrBuckets(docs.where(pmod(col("doc_id"), lit(2)) === p),
        col("grp"), col("v"))
    }
    val merged = halves.reduce(_ unionByName _)
      .groupBy(col("grp"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    assert(whole.exceptAll(merged).isEmpty && merged.exceptAll(whole).isEmpty,
      "bucket grids must be additive under split-then-merge")
  }

  test("KMV sketches are closed under union and exact below k") {
    import spark.implicits._
    val k = 8
    val keys = (1 to 40).map(i => ("g", s"key$i")) ++
      (1 to 5).map(i => ("small", s"key$i"))
    val df = keys.toDF("grp", "k")
    val whole = Sketch.kmvSketch(df, col("grp"), col("k"), k)
    // closure: bottom-k of two half-sketches' union == bottom-k of the whole
    val halves = Seq(0, 1).map { p =>
      Sketch.kmvSketch(df.where(pmod(length(col("k")), lit(2)) === p),
        col("grp"), col("k"), k)
    }
    val g = Sketch.kmvMerge(
      halves.reduce(_ unionByName _).where(col("grp") === "g"), "g", k)
    val gWhole = whole.where(col("grp") === "g")
    assert(g.exceptAll(gWhole).isEmpty && gWhole.exceptAll(g).isEmpty,
      "union of partial sketches must equal the whole sketch")
    // below k the sketch IS the key set: estimate exact, intersection exact
    val est = Sketch.kmvEstimate(whole, k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("small") == 5L, s"below-k group must be exact: $est")
    val inter = Sketch.kmvIntersect(
      whole.where(col("grp") === "small"),
      Sketch.kmvSketch(Seq(("b", "key3"), ("b", "key4"), ("b", "keyX"))
        .toDF("grp", "k"), col("grp"), col("k"), k), k).collect().head
    assert(inter.getAs[Long]("est_union") == 6L &&
      inter.getAs[Long]("matched") == 2L &&
      inter.getAs[Long]("est_inter") == 2L,
      s"fully-retained sets intersect exactly: $inter")
  }

  test("sketch_quantile_hdr: midpoint estimates honor the 1/16 relative bound") {
    val rows = SketchQueries.sketch_quantile_hdr(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("est")
      val exact = r.getAs[Long]("exact_v")
      // est and the true order statistic share a bucket of width 2^e/16
      // with 2^e <= exact, so |est - exact| <= exact/16 (+1 for the
      // integer-midpoint floor)
      assert(math.abs(est - exact) <= exact / Sketch.HdrSub + 1,
        s"grp=${r.getString(0)} q=${r.getInt(1)}: est $est vs exact $exact")
    }
    // the __all__ roll-up (sum-merged from per-source grids) is present
    assert(rows.count(_.getString(0) == "__all__") == 3)
  }

  test("sketch_quantile_hdr: NULL text does not shift the exact order statistic") {
    // a temp copy of documents with every third doc's text NULL (spread
    // across sources); the exact tier must be the nearest-rank quantile
    // of the NON-null lengths, the same n the HDR estimate uses
    val dir = java.nio.file.Files.createTempDirectory("hdr-null").toString
    val docs = Graft.table(spark, sf, "documents")
      .withColumn("text",
        when(col("doc_id") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("text")))
    docs.write.parquet(s"$dir/documents.parquet")
    val lens = docs.where(col("text").isNotNull)
      .select(col("source"), length(col("text")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(lens.length < docs.count(), "the copy must carry NULL text")
    val byGrp = lens.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) } +
      ("__all__" -> lens.map(_._2))
    def nearestRank(xs: Array[Long], q: Int): Long =
      xs.sorted.apply((q * xs.length + 99) / 100 - 1)
    val rows = SketchQueries.sketch_quantile_hdr(spark, dir).collect()
    assert(rows.length == 3 * byGrp.size)
    rows.foreach { r =>
      val (g, q) = (r.getString(0), r.getInt(1))
      assert(r.getAs[Long]("exact_v") == nearestRank(byGrp(g), q),
        s"grp=$g q=$q")
    }
  }
}
