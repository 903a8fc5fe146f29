package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{AnnIndex, Catalog}

/** The vector tier's batched and single-query faces rank with one rule:
  * for every serving tier, spill factor and filter, `knnBatch` serves
  * each query the same documents in the same order as `knn`. The
  * calibration curve a fixed fixture trains to is pinned, so a change
  * to the served shortlist moves a number here. */
class AnnShortlistSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** 8-dim vectors loosely around four directions with a 5× norm
    * spread, from a fixed LCG — deterministic, and spread enough that
    * both the probe set and the quantized shortlists cut inside the
    * true neighbors. Every third title holds the token `keep` (the
    * filter's target). */
  private def docs(n: Int): Seq[String] = {
    var s = 12345L
    def next(): Double = {
      s = (s * 6364136223846793005L + 1442695040888963407L)
      ((s >>> 33) % 1000L).toDouble / 1000.0
    }
    (0 until n).map { i =>
      val scale = (i % 5) + 1
      val v = (0 until 8).map { j =>
        val base = if (j % 4 == i % 4) 0.5 else 0.0
        ((base + next()) * scale * 1000).round / 1000.0
      }
      val tag = if (i % 3 == 0) "keep" else "drop"
      s"""{"title": "$tag d$i", "emb": [${v.mkString(", ")}]}"""
    }
  }

  private def catalogWith(prefix: String, name: String, n: Int): (Catalog, String) =
    catalogOf(prefix, name, docs(n))

  private def catalogOf(prefix: String, name: String,
      lines: Seq[String]): (Catalog, String) = {
    val root = Files.createTempDirectory(prefix).toString
    val cat = new Catalog(root)
    cat.create(
      s"""version: 1
         |name: $name
         |path: /tmp/unused
         |schema:
         |  fields:
         |    - name: title
         |      type: !text
         |    - name: emb
         |      type: !number
         |        type: f64
         |      array: true
         |""".stripMargin)
    val in = Files.createTempFile("shortlist-docs", ".jsonl")
    Files.write(in, lines.mkString("\n").getBytes("UTF-8"))
    cli.Main.run(Array("index", name, in.toString), spark, cat, root)
    (cat, root)
  }

  private val queries: Seq[(String, Array[Float])] = Seq(
    "qa" -> Array(1.0f, 0.1f, 0.0f, 0.2f, 0.9f, 0.0f, 0.1f, 0.0f),
    "qb" -> Array(0.3f, 0.6f, 0.6f, 0.0f, 0.3f, 0.6f, 0.6f, 0.0f),
    "qc" -> Array(0.0f, 0.2f, 0.1f, 2.0f, 0.0f, 0.1f, 0.3f, 1.5f))

  test("knnBatch serves each query knn's documents in knn's order on " +
      "every tier, spill factor and filter") {
    val (cat, _) = catalogWith("graft-faceparity", "fpar", 120)
    val ann = new AnnIndex(spark, cat)
    val metaP = java.nio.file.Paths.get(cat.catalogRoot.stripPrefix("file:"),
      "indexes", "fpar", "ann", "emb", "META")
    import spark.implicits._
    val qs = queries.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "qv")
    // (tier label, train call, META rewrite)
    val tiers: Seq[(String, Int => Unit, String => String)] = Seq(
      ("exact", sp => ann.train("fpar", "emb", cells = 6, spill = sp), identity),
      ("residual pq", sp => ann.train("fpar", "emb", cells = 6, spill = sp,
        pq = 4), identity),
      ("sq8", sp => ann.train("fpar", "emb", cells = 6, spill = sp,
        sq8 = true), identity),
      // a residual layout whose META lost its pqres line serves through
      // the legacy single-LUT branch
      ("legacy raw pq", sp => ann.train("fpar", "emb", cells = 6, spill = sp,
        pq = 4), _.replace("pqres=1\n", "")))
    for ((label, trainAt, rewrite) <- tiers; spill <- Seq(1, 2)) {
      trainAt(spill)
      val body = new String(Files.readAllBytes(metaP), "UTF-8")
      Files.write(metaP, rewrite(body).getBytes("UTF-8"))
      if (label == "legacy raw pq")
        assert(!ann.pqResOf("fpar", "emb") && ann.pqOf("fpar", "emb") == 4)
      for (filter <- Seq(None, Some("title:keep"))) {
        val what = s"$label, spill=$spill, filter=$filter"
        val batch = ann.knnBatch("fpar", "emb", qs, k = 4, nProbe = 2,
            rerank = 8, filter = filter)
          .collect().map(r => (r.getString(0), r.getInt(1), r.getString(3)))
        queries.foreach { case (q, v) =>
          val single = ann.knn("fpar", "emb", v, k = 4, nProbe = 2,
            rerank = 8, filter = filter).collect().map(_.getString(1)).toSeq
          val mine = batch.filter(_._1 == q).sortBy(_._2).map(_._3).toSeq
          assert(single.length == 4, s"$what, $q: $single")
          assert(mine == single, s"$what, $q:\nbatch  $mine\nsingle $single")
          filter.foreach(_ => assert(single.forall(_.contains("keep")), what))
        }
      }
    }
    cat.drop("fpar")
  }

  test("a META claiming pq or sq8 without its model artifacts fails at " +
      "load, before a refresh appends code-less rows") {
    val (cat, root) = catalogWith("graft-claims", "claims", 40)
    val ann = new AnnIndex(spark, cat)
    val annRoot = java.nio.file.Paths.get(cat.catalogRoot.stripPrefix("file:"),
      "indexes", "claims", "ann", "emb")
    def dropArtifact(dir: String): Unit = {
      val p = annRoot.resolve(s"model/${ann.modelOf("claims", "emb").get}/$dir")
      assert(Files.exists(p), p)
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    }
    // a legacy raw-pq META (no pqres line) whose codebooks are gone: the
    // refresh used to append the new split's rows without codes
    ann.train("claims", "emb", cells = 3, pq = 4)
    val metaP = annRoot.resolve("META")
    Files.write(metaP, new String(Files.readAllBytes(metaP), "UTF-8")
      .replace("pqres=1\n", "").getBytes("UTF-8"))
    dropArtifact("codebooks")
    val more = Files.createTempFile("claims-more", ".jsonl")
    Files.write(more, docs(41).last.getBytes("UTF-8"))
    cli.Main.run(Array("index", "claims", more.toString), spark, cat, root)
    val noCb = intercept[Exception](ann.refresh("claims", "emb"))
    assert(noCb.getMessage.contains("claims pq but has no codebooks/"),
      noCb.getMessage)
    ann.train("claims", "emb", cells = 3, sq8 = true)
    dropArtifact("sq8")
    val noSq8 = intercept[Exception](ann.knn("claims", "emb",
      queries.head._2, k = 2, nProbe = 1).collect())
    assert(noSq8.getMessage.contains("claims sq8 but has no sq8/"),
      noSq8.getMessage)
    cat.drop("claims")
  }

  test("train --calibrate writes the pinned curve for the pq and sq8 tiers") {
    val (cat, root) = catalogWith("graft-calibgolden", "cgold", 200)
    val ann = new AnnIndex(spark, cat)
    def curve(tier: String*): Seq[(Int, Long, Long, Long)] = {
      cli.Main.run(Array("train", "cgold", "--field", "emb", "--cells", "8",
        "--spill", "2", "--calibrate") ++ tier, spark, cat, root)
      ann.readCalib("cgold", "emb").get
    }
    val pq = curve("--pq", "4")
    val sq8 = curve("--sq8")
    assert(pq == Seq((1, 812500L, 812500L, 812500L),
      (2, 925000L, 912500L, 925000L), (4, 1000000L, 850000L, 1000000L),
      (8, 1000000L, 800000L, 1000000L)), s"pq: $pq")
    assert(sq8 == Seq((1, 812500L, 812500L, 812500L),
      (2, 925000L, 925000L, 925000L), (4, 1000000L, 1000000L, 1000000L),
      (8, 1000000L, 1000000L, 1000000L)), s"sq8: $sq8")
    cat.drop("cgold")
  }

  test("train --calibrate writes no curve row above the trained cell count") {
    // 24 documents over 3 distinct vectors: the seed holds one centroid
    // per distinct vector, so --cells 8 trains 3 cells
    val lines = (0 until 24).map { i =>
      val v = Seq.tabulate(8)(j => if (j == i % 3) 1.0 else 0.0)
      s"""{"title": "t$i", "emb": [${v.mkString(", ")}]}"""
    }
    val (cat, _) = catalogOf("graft-calibcells", "ccells", lines)
    val ann = new AnnIndex(spark, cat)
    val (trained, _) = ann.train("ccells", "emb", cells = 8, calibrate = true)
    assert(trained == 3, s"trained $trained cells")
    val nprobes = ann.readCalib("ccells", "emb").get.map(_._1)
    assert(nprobes == Seq(1, 2, 3), s"curve nprobes: $nprobes")
    cat.drop("ccells")
  }
}
