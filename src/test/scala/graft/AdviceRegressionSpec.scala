package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Catalog, Indexer, Searcher}
import graft.functions.TimeParse

/** Regressions for the round-1 advisor findings:
  *  1. TimeParse keeps sub-millisecond precision (split pruning must never
  *     truncate a hi bound downward);
  *  2. prefix queries on whitespace-tokenized fields compare raw case;
  *  3. escaped value literals (`foo\:bar`) are unescaped before comparison;
  *  4. `parse_string: false` rejects string-typed JSON input (skip-doc);
  *  5. `stored: false` fields are filterable but not echoed in output.
  */
class AdviceRegressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withEngine[T](f: (Catalog, Indexer, Searcher) => T): T = {
    val root = Files.createTempDirectory("graft-advice").toString
    val cat = new Catalog(root)
    f(cat, new Indexer(spark, cat), new Searcher(spark, cat))
  }

  private def writeDocs(docs: String): String = {
    val p = Files.createTempFile("docs", ".json")
    Files.write(p, docs.trim.getBytes("UTF-8"))
    p.toString
  }

  test("TimeParse keeps microsecond precision for rfc3339 fractional seconds") {
    val got = TimeParse.parseFormat("2020-01-02T03:04:05.123456Z", "rfc3339")
    assert(got.contains(1577934245123456L))
    // bare (no-offset) fallback keeps micros too
    val bare = TimeParse.parseFormat("2020-01-02T03:04:05.123456", "rfc3339")
    assert(bare.contains(1577934245123456L))
  }

  test("prefix query on whitespace-tokenized field matches capitalized tokens") {
    withEngine { (cat, idx, search) =>
      cat.create(
        """version: 1
          |name: ws_test
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: msg
          |      type: !text
          |        indexed:
          |          tokenizer: whitespace
          |""".stripMargin)
      idx.indexFile("ws_test", writeDocs(
        """{"msg":"Error in pipeline"}
          |{"msg":"all lowercase here"}""".stripMargin))
      assert(search.search("ws_test", "msg:Error*", 5) ==
        Seq("""{"msg":"Error in pipeline"}"""))
      // lowercase prefix must NOT match the capitalized token (raw compare)
      assert(search.search("ws_test", "msg:error*", 5).isEmpty)
    }
  }

  test("escaped value literal compares unescaped (field:foo\\:bar)") {
    withEngine { (cat, idx, search) =>
      cat.create(
        """version: 1
          |name: esc_test
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: tag
          |      type: !text
          |        indexed:
          |          tokenizer: raw
          |""".stripMargin)
      idx.indexFile("esc_test", writeDocs("""{"tag":"foo:bar"}"""))
      assert(search.search("esc_test", """tag:foo\:bar""", 5) ==
        Seq("""{"tag":"foo:bar"}"""))
    }
  }

  test("parse_string false rejects string-typed JSON numbers (skip-doc)") {
    withEngine { (cat, idx, search) =>
      cat.create(
        """version: 1
          |name: ps_test
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: n
          |      type: !number
          |        type: i64
          |        parse_string: false
          |""".stripMargin)
      val split = idx.indexFile("ps_test", writeDocs(
        """{"n": 7}
          |{"n": "8"}""".stripMargin))
      // the string-typed doc is skipped entirely, the numeric one survives
      assert(split.exists(_.numDocs == 1))
      assert(search.search("ps_test", "n:7", 5) == Seq("""{"n":7}"""))
    }
  }

  test("fuzzy query term~N matches within edit distance on tokenized terms") {
    withEngine { (cat, idx, search) =>
      cat.create(
        """version: 1
          |name: fz_test
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: msg
          |      type: !text
          |""".stripMargin)
      idx.indexFile("fz_test", writeDocs(
        """{"msg":"the spark engine"}
          |{"msg":"a sprak typo here"}
          |{"msg":"completely different"}""".stripMargin))
      // distance 1 catches the transposition-as-two-edits? no: sprak->spark
      // is 2 edits (lev), so ~1 only matches the exact-ish token
      assert(search.search("fz_test", "msg:spark~1", 5) ==
        Seq("""{"msg":"the spark engine"}"""))
      // default ~ = distance 2 catches the typo as well
      assert(search.search("fz_test", "msg:spark~", 5).toSet ==
        Set("""{"msg":"the spark engine"}""", """{"msg":"a sprak typo here"}"""))
      // bare default-field fuzzy
      assert(search.search("fz_test", "spark~1", 5) ==
        Seq("""{"msg":"the spark engine"}"""))
    }
  }

  test("stored:false field is filterable but not echoed") {
    withEngine { (cat, idx, search) =>
      cat.create(
        """version: 1
          |name: st_test
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: secret
          |      type: !text
          |        stored: false
          |    - name: visible
          |      type: !text
          |""".stripMargin)
      idx.indexFile("st_test", writeDocs(
        """{"secret":"alpha","visible":"one"}
          |{"secret":"beta","visible":"two"}""".stripMargin))
      assert(search.search("st_test", "secret:alpha", 5) == Seq("""{"visible":"one"}"""))
    }
  }

  test("dynamic path with an embedded quote is a no-match, not a crash") {
    withEngine { (cat, idx, search) =>
      cat.create(
        """version: 1
          |name: quote_test
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: msg
          |      type: !text
          |""".stripMargin)
      idx.indexFile("quote_test", writeDocs(
        """{"msg":"hello", "it's": "tricky"}"""))
      // Spark's variant path grammar cannot express a key containing ';
      // the fielded query must return nothing (get_json_object behavior),
      // never throw INVALID_VARIANT_GET_PATH
      assert(search.search("quote_test", "it\\'s:tricky", 5).isEmpty)
      // the value is still reachable via the unfielded catch-all terms
      assert(search.search("quote_test", "tricky", 5).nonEmpty)
    }
  }

  test("dynamic-path numeric term matches canonicalized variant values") {
    withEngine { (cat, idx, search) =>
      cat.create(
        """version: 1
          |name: numlex_test
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: msg
          |      type: !text
          |""".stripMargin)
      idx.indexFile("numlex_test", writeDocs(
        """{"msg":"a", "extra": {"x": 1e3}}
          |{"msg":"b", "extra": {"x": 1.50}}
          |{"msg":"c", "extra": {"x": 58}}""".stripMargin))
      // variant stores 1e3 as the double 1000.0; the original lexeme must
      // still match by value
      assert(search.search("numlex_test", "extra.x:1e3 AND msg:a", 5).nonEmpty)
      assert(search.search("numlex_test", "extra.x:1000.0 AND msg:a", 5).nonEmpty)
      assert(search.search("numlex_test", "extra.x:1.50 AND msg:b", 5).nonEmpty)
      assert(search.search("numlex_test", "extra.x:1.5 AND msg:b", 5).nonEmpty)
      // integers keep exact token matching too
      assert(search.search("numlex_test", "extra.x:58", 5).nonEmpty)
      assert(search.search("numlex_test", "extra.x:59", 5).isEmpty)
    }
  }

  test("connectedComponents fails loudly when rounds cannot cover diameter") {
    import spark.implicits._
    // chain 1-2-...-8 has diameter 7; 2 rounds cannot converge
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      graft.ops.Dedup.connectedComponents(pairs, maxRounds = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // enough rounds: the whole chain resolves to canon 1
    val ok = graft.ops.Dedup.connectedComponents(pairs, maxRounds = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ok.forall(_._2 == 1L) && ok.length == 8)
  }

  test("cosine-pair ops reject a non-positive cell cap instead of silently degrading") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a cap <= 0 used to overflow ceil(cell_n/cap) so every row got a
    // unique salt and the op emitted near-zero pairs without failing
    val vecs = Seq((1L, Array(1.0f, 0.0f), 0L), (2L, Array(1.0f, 0.0f), 0L))
      .toDF("vid", "v", "cell")
    for (cap <- Seq(0, -1)) {
      val ex = intercept[IllegalArgumentException] {
        graft.ops.Dedup.embeddingCosine(vecs, col("vid"), col("v"), col("cell"),
          threshold = 0.9, maxCellSize = cap).collect()
      }
      assert(ex.getMessage.contains("maxCellSize"))
      val ex2 = intercept[IllegalArgumentException] {
        graft.ops.Dedup.semantic(vecs, col("vid"), col("v"), col("cell"),
          threshold = 0.9, maxCellSize = cap).collect()
      }
      assert(ex2.getMessage.contains("maxCellSize"))
    }
  }
  test("declared TOKENIZED dynamic_object paths: token match + split pruning via the owning digest") {
    withEngine { (cat, idx, s) =>
      // a dynamic_object whose tokenizer is default (not the reference's
      // raw default): path terms must token-match against the OWNING
      // column, and multi-split pruning must key on that field's digest
      cat.create(
        """version: 1
          |name: dyntok
          |path: /tmp/unused
          |schema:
          |  fields:
          |    - name: body
          |      type: !text
          |        tokenizer:
          |          type: default
          |    - name: meta
          |      type: !dynamic_object
          |        indexed:
          |          tokenizer: default
          |""".stripMargin)
      idx.indexFile("dyntok", writeDocs(
        """{"body": "first split", "meta": {"tag": "alpha beta", "n": 7}}
          |{"body": "first split too", "meta": {"tag": "alpha"}}"""
          .stripMargin))
      idx.indexFile("dyntok", writeDocs(
        """{"body": "second split", "meta": {"tag": "gamma delta"}}"""
          .stripMargin))
      // token match inside the declared field (value tokenizes)
      assert(s.searchDf("dyntok", "meta.tag:alpha", 10).count() == 2)
      assert(s.searchDf("dyntok", "meta.tag:delta", 10).count() == 1)
      assert(s.searchDf("dyntok", "meta.tag:missing", 10).count() == 0)
      // numeric value match at a path
      assert(s.searchDf("dyntok", "meta.n:7", 10).count() == 1)
      // pruning keyed on the owning digest must NOT drop the split that
      // holds the match (would return 0 if routed to the catch-all digest)
      assert(s.searchDf("dyntok", "meta.tag:gamma", 10).count() == 1)
      cat.drop("dyntok")
    }
  }

  test("HDR buckets saturate at the 2^58 cap instead of int64-overflowing") {
    // r12 advice: (v - 2^e)*16 overflows int64 for v >= 2^62 (and the
    // midpoint reconstruction with it), silently mis-bucketing extremes;
    // the documented domain is [0, 2^58] with saturation above.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(("g", 1L << 62), ("g", Long.MaxValue),
      ("g", (1L << 58) + 5L), ("g", 100L)).toDF("grp0", "v0")
    val bk = graft.ops.Sketch.hdrBuckets(df, col("grp0"), col("v0"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(bk.keys.forall(_ >= 0), s"no negative (overflowed) bucket ids: $bk")
    val capBucket = (1 + 58 * graft.ops.Sketch.HdrSub).toLong // v = 2^58, offset 0
    assert(bk(capBucket) == 3L,
      s"all three >= 2^58 values saturate into the cap bucket: $bk")
    val qs = graft.ops.Sketch.hdrQuantiles(
      graft.ops.Sketch.hdrBuckets(df, col("grp0"), col("v0")), Seq(50, 99))
      .collect()
    assert(qs.forall(_.getLong(4) > 0L),
      s"midpoint reconstruction stays positive under the cap: ${qs.mkString(";")}")
  }

  test("PQ ADC shortlist dedupes spill copies BEFORE the cut — the rerank " +
      "budget is not shrunk by spill") {
    // r12 advice: with spill > 1 and pq > 0 the limit(rerank) ran before
    // the (__epoch, __rid) dedup, so copies of one row occupied several
    // shortlist slots. 4 docs × spill=2 in 2 probed cells = 8 candidate
    // rows; a 4-slot shortlist must still surface all 4 DISTINCT docs.
    withEngine { (cat, idx, _) =>
      cat.create(
        """version: 1
          |name: pqspill
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
      idx.indexFile("pqspill", writeDocs(
        """{"title": "a", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "b", "emb": [0.9, 0.1, 0.0, 0.0]}
          |{"title": "c", "emb": [0.0, 0.0, 1.0, 0.0]}
          |{"title": "d", "emb": [0.0, 0.0, 0.9, 0.1]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      ann.train("pqspill", "emb", cells = 2, spill = 2, pq = 2)
      val hits = ann.knn("pqspill", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
        k = 4, nProbe = 2, rerank = 4).collect()
      assert(hits.length == 4, s"got ${hits.length}: ${hits.mkString("; ")}")
      assert(hits.map(_.getString(1)).distinct.length == 4,
        s"4 distinct docs through a 4-slot shortlist: ${hits.mkString("; ")}")
      cat.drop("pqspill")
    }
  }

  test("an uncommitted (crashed) refresh append is invisible to knn and " +
      "cleaned up by the next refresh") {
    // r12 advice: refresh appended data BEFORE publishing META, and a
    // crash between the two permanently double-served the appended docs.
    // Appends now land in an epoch directory queries ignore until META
    // references it; the next refresh deletes orphans before re-appending.
    withEngine { (cat, idx, _) =>
      cat.create(
        """version: 1
          |name: crashann
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
      idx.indexFile("crashann", writeDocs(
        """{"title": "a", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "b", "emb": [0.0, 0.0, 1.0, 0.0]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      ann.train("crashann", "emb", cells = 1)
      // simulate the torn refresh: an epoch-1 append exists on disk but
      // META still says epoch=0 (copy the committed epoch-0 directory)
      val dataDir = java.nio.file.Paths.get(
        cat.catalogRoot.stripPrefix("file:"),
        "indexes", "crashann", "ann", "emb", "data")
      val src = dataDir.resolve("__epoch=0")
      val dst = dataDir.resolve("__epoch=1")
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t): Unit
      }
      // invisible: every doc served exactly once despite the orphan copy
      val hits = ann.knn("crashann", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
        k = 4, nProbe = 1).collect()
      assert(hits.length == 2 &&
        hits.map(_.getString(1)).distinct.length == 2,
        s"orphan epoch must stay invisible: ${hits.mkString("; ")}")
      // the next refresh deletes the orphan before appending its epoch
      idx.indexFile("crashann", writeDocs(
        """{"title": "c", "emb": [0.9, 0.1, 0.0, 0.0]}"""))
      val (ns, nv) = ann.refresh("crashann", "emb")
      assert(ns == 1 && nv == 1L, s"refresh appends the new split: ($ns, $nv)")
      // the orphan's copied rows are gone: 2 trained + 1 appended = 3
      val total = ann.cellSizes("crashann", "emb").map(_._2).sum
      assert(total == 3L, s"orphan rows must be deleted, not re-served: $total")
      val after = ann.knn("crashann", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
        k = 6, nProbe = 1).collect()
      assert(after.length == 3 &&
        after.map(_.getString(1)).distinct.length == 3,
        s"old + new exactly once after the recovery refresh: ${after.mkString("; ")}")
      cat.drop("crashann")
    }
  }

  private val annYaml =
    """version: 1
      |name: %s
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: title
      |      type: !text
      |    - name: emb
      |      type: !number
      |        type: f64
      |      array: true
      |""".stripMargin

  private val hybridYaml =
    """version: 1
      |name: %s
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: title
      |      type: !text
      |    - name: body
      |      type: !text
      |    - name: emb
      |      type: !number
      |        type: f64
      |      array: true
      |""".stripMargin

  test("search postFilter is PURE filter context: it gates matches but " +
      "never reshuffles the BM25 ranking") {
    // r15 advice: knnHybrid ANDed --filter into the text query, so a
    // scoring filter clause (BM25 for terms) added per-doc score to the
    // text arm and re-ranked it before RRF fusion — inconsistent with
    // the vector arm, where the same filter is a score-free pre-filter.
    withEngine { (cat, idx, srch) =>
      cat.create(hybridYaml.format("pfann"))
      // a: strong on the QUERY term; b: weak on the query term but
      // saturated on the FILTER term — ANDing the filter into the query
      // would let b's body:common tf outscore a
      idx.indexFile("pfann", writeDocs(
        """{"title": "alpha alpha alpha alpha", "body": "common", "emb": [1.0, 0.0]}
          |{"title": "alpha beta beta beta", "body": "common common common common common common", "emb": [0.0, 1.0]}
          |{"title": "gamma", "body": "rare", "emb": [0.5, 0.5]}""".stripMargin))
      val plain = srch.search("pfann",
        graft.engine.SearchRequest("title:alpha", 2))
      val filtered = srch.search("pfann",
        graft.engine.SearchRequest("title:alpha", 2,
          postFilter = Some("body:common")))
      assert(plain == filtered,
        s"an all-candidates-matching filter must not re-rank: " +
          s"plain=$plain filtered=$filtered")
      assert(plain.head.contains("alpha alpha"),
        s"the query-term-heavy doc stays rank 1: $plain")
      // a filter that excludes the top doc serves the filtered PREFIX
      // of the unfiltered ranking — not a re-scored set
      val cut = srch.search("pfann",
        graft.engine.SearchRequest("title:alpha", 2,
          postFilter = Some("title:beta")))
      assert(cut.length == 1 && cut.head.contains("beta"),
        s"filter gates rows, ranking order preserved: $cut")
      cat.drop("pfann")
    }
  }

  test("ANN META publishes are a tick CAS, not a last-rename-wins overwrite") {
    // r13 advice: the stream's per-batch refresh and an operator-run
    // `train --compact` could race the same META through plain atomic
    // renames, double-serving or dropping a batch. META now carries a
    // monotone tick= and publishes through the manifest's commit-point
    // machinery: a writer expecting a stale tick is REFUSED.
    withEngine { (cat, idx, _) =>
      cat.create(annYaml.format("casann"))
      idx.indexFile("casann", writeDocs(
        """{"title": "a", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "b", "emb": [0.0, 0.0, 1.0, 0.0]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      ann.train("casann", "emb", cells = 1)
      val store = new graft.engine.ManifestStore(cat.catalogRoot,
        new org.apache.hadoop.conf.Configuration())
      val metaP = new org.apache.hadoop.fs.Path(
        s"${cat.catalogRoot}/indexes/casann/ann/emb/META")
      assert(store.readGen(metaP) == 1L,
        "a fresh train publishes tick=1 (key=value readGen fallback)")
      val cp = store.commitPoint(metaP)
      // a writer that read tick=0 before the train lost the race: refused
      assert(!cp.commit(1L, "tick=1\ncells=9\n".getBytes("UTF-8")),
        "a stale-tick publish must be refused, not last-rename-wins")
      assert(store.readString(metaP).get.contains("cells=1"),
        "the refused publish changed nothing")
      // maintenance ops bump the tick: refresh (even a no-op republish)
      ann.refresh("casann", "emb")
      assert(store.readGen(metaP) == 2L,
        "each maintenance publish advances the tick by one")
      cat.drop("casann")
    }
  }

  test("ANN maintenance ops exclude each other via the per-field advisory lock") {
    withEngine { (cat, idx, _) =>
      cat.create(annYaml.format("lockann"))
      idx.indexFile("lockann", writeDocs(
        """{"title": "a", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "b", "emb": [0.0, 0.0, 1.0, 0.0]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      ann.train("lockann", "emb", cells = 1)
      val lock = java.nio.file.Paths.get(
        cat.catalogRoot.stripPrefix("file:"),
        "indexes", "lockann", "ann", "emb", "maintenance.lock")
      assert(java.nio.file.Files.exists(lock),
        "train must have taken the maintenance lock")
      // hold the lock as a foreign maintenance writer; a refresh must
      // wait for release instead of interleaving its sweep/append/publish
      val ch = java.nio.channels.FileChannel.open(lock,
        java.nio.file.StandardOpenOption.WRITE)
      val fl = ch.lock()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fut = Future(ann.refresh("lockann", "emb"))
      Thread.sleep(500)
      assert(!fut.isCompleted,
        "refresh must block while another maintenance op holds the lock")
      fl.release(); ch.close()
      val (ns, _) = Await.result(fut, 2.minutes)
      assert(ns == 0, "nothing new to cover; the blocked refresh completes")
      cat.drop("lockann")
    }
  }

  test("single-query PQ shortlist cuts on the (adist, epoch, rid) total " +
      "order — ADC ties are deterministic run-to-run") {
    // r13 advice: orderBy(__adist).limit(rFetch) had no tie-break while
    // knnBatch pinned (adist, epoch, rid); boundary ties could differ
    // between tiers and across runs.
    withEngine { (cat, idx, _) =>
      cat.create(annYaml.format("tieann"))
      // two identical pairs -> two distinct PQ codes, each shared by two
      // rows: any rerank budget that splits a code group cuts on a tie
      idx.indexFile("tieann", writeDocs(
        """{"title": "a", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "b", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "c", "emb": [0.0, 0.0, 1.0, 0.0]}
          |{"title": "d", "emb": [0.0, 0.0, 1.0, 0.0]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      ann.train("tieann", "emb", cells = 1, pq = 2)
      def run() = ann.knn("tieann", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
        k = 3, nProbe = 1, rerank = 3)
        .collect().map(_.getString(1)).sorted.toSeq
      val first = run()
      (1 to 3).foreach { i =>
        assert(run() == first, s"run $i must cut the tied shortlist " +
          s"identically (total order), got vs $first")
      }
      cat.drop("tieann")
    }
  }

  test("knn tie-break sorts on the content HASH, not the rendered doc " +
      "JSON — determinism survives, the JSON renders only for winners") {
    // r15 advice: the determinism tie-break computed outputJson for
    // EVERY scored candidate as a sort key (full corpus on the brute
    // tier) — the engine's most expensive per-row projection in the
    // serve hot path. The total order now cuts on xxhash64 of the row
    // content; the doc JSON materializes after the k-cut.
    withEngine { (cat, idx, _) =>
      cat.create(annYaml.format("tbann"))
      // four distinct docs, two score-tied pairs: k=3 cuts ON a tie
      idx.indexFile("tbann", writeDocs(
        """{"title": "a", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "b", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "c", "emb": [0.0, 1.0, 0.0, 0.0]}
          |{"title": "d", "emb": [0.0, 1.0, 0.0, 0.0]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      val q = Array(1.0f, 0.0f, 0.0f, 0.0f)
      def run() = ann.knn("tbann", "emb", q, k = 3)
        .collect().map(_.getString(1)).toSeq
      val first = run()
      (1 to 3).foreach { i =>
        assert(run() == first,
          s"run $i must cut the score tie identically, got vs $first")
      }
      // plan shape: the ordering key is the hash; the JSON projection
      // sits ABOVE the cut, never in the sort
      val plan = ann.knn("tbann", "emb", q, k = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("xxhash64"),
        s"tie-break must be the content hash, plan:\n$plan")
      val orderSpec = plan.split("orderBy=\\[").lift(1).map(_.takeWhile(_ != ']'))
      assert(orderSpec.exists(!_.contains("json")),
        s"the sort key must not render JSON, orderBy: $orderSpec")
      // the batch face pins the same order through its window
      import spark.implicits._
      val qs = Seq((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("qid", "qv")
      def runBatch() = ann.knnBatch("tbann", "emb", qs, k = 3)
        .collect().map(r => (r.getInt(1), r.getString(3))).toSeq
      val b1 = runBatch()
      assert(b1.map(_._2).sorted == first.sorted,
        s"single-query and batch faces must serve the same tied cut: $b1 vs $first")
      assert(runBatch() == b1, "batch face must be deterministic")
      cat.drop("tbann")
    }
  }

  test("HDR buckets drop NULL values instead of saturating them into the " +
      "top bucket") {
    // r13 advice: least(value, HdrCap) SKIPS nulls in both engines, so a
    // NULL value (e.g. length(NULL text)) counted as a maximal
    // observation and inflated high quantiles.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(("g", Some(100L)), ("g", Some(200L)), ("g", None))
      .toDF("grp0", "v0")
    val bk = graft.ops.Sketch.hdrBuckets(df, col("grp0"), col("v0"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(bk.map(_._2).sum == 2L,
      s"the NULL row is not an observation: ${bk.mkString(";")}")
    val capBucket = (1 + 58 * graft.ops.Sketch.HdrSub).toLong
    assert(!bk.exists(_._1 == capBucket),
      s"NULL must not saturate into the 2^58 cap bucket: ${bk.mkString(";")}")
  }

  test("a retrain is STAGED: fresh epoch + fresh model dir, one META flip, " +
      "retired artifacts swept — crash debris never double-serves") {
    // r14 advice: train() used to overwrite data/ and sq8/ in place
    // BEFORE the META publish, so a lost train race on a lock-less
    // scheme left the surviving META referencing a rewritten layout.
    withEngine { (cat, idx, _) =>
      cat.create(annYaml.format("stgann"))
      idx.indexFile("stgann", writeDocs(
        """{"title": "a", "emb": [1.0, 0.0, 0.0, 0.0]}
          |{"title": "b", "emb": [0.0, 1.0, 0.0, 0.0]}
          |{"title": "c", "emb": [0.0, 0.0, 1.0, 0.0]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      val root = new org.apache.hadoop.fs.Path(
        s"${cat.catalogRoot}/indexes/stgann/ann/emb")
      val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())
      ann.train("stgann", "emb", cells = 1)
      val meta1 = new graft.engine.ManifestStore(cat.catalogRoot,
        new org.apache.hadoop.conf.Configuration())
        .readString(new org.apache.hadoop.fs.Path(root, "META")).get
      assert(meta1.contains("model=t1-"), meta1)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "centroids")),
        "no root-level (unstaged) model artifacts")
      // retrain with a different shape: new epoch, new model dir, old
      // one swept after the publish
      ann.train("stgann", "emb", cells = 2, sq8 = true)
      val meta2 = new graft.engine.ManifestStore(cat.catalogRoot,
        new org.apache.hadoop.conf.Configuration())
        .readString(new org.apache.hadoop.fs.Path(root, "META")).get
      assert(meta2.contains("model=t2-") && meta2.contains("epoch=1") &&
        meta2.contains("base=1"), meta2)
      val modelDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "model"))
        .map(_.getPath.getName).toSeq
      assert(modelDirs.length == 1 && modelDirs.head.startsWith("t2-"),
        s"retired model dir swept: $modelDirs")
      val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
        .map(_.getPath.getName).filter(_.startsWith("__epoch=")).toSeq
      assert(epochs == Seq("__epoch=1"),
        s"retired epoch swept, staged epoch served: $epochs")
      // the flipped index serves every doc exactly once through sq8
      val got = ann.knn("stgann", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
        k = 10, nProbe = 2, rerank = 8).collect()
      assert(got.length == 3, got.mkString("; "))
      // r15 advice — the sweep is TICK-BOUNDED: a model dir whose tick
      // is ABOVE the tick this train publishes may belong to a train
      // that started after the publish (the publish-vs-sweep window);
      // it must survive the sweep. A stale lower-tick dir (provably
      // CAS-doomed) is swept.
      val mdir = new org.apache.hadoop.fs.Path(root, "model")
      fs.mkdirs(new org.apache.hadoop.fs.Path(mdir, "t99-deadbeef"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(mdir, "t1-00000000"))
      ann.train("stgann", "emb", cells = 1)
      val afterSweep = fs.listStatus(mdir).map(_.getPath.getName).toSeq.sorted
      assert(afterSweep.exists(_ == "t99-deadbeef"),
        s"a higher-tick (possibly in-flight) model dir must survive: $afterSweep")
      assert(!afterSweep.exists(_ == "t1-00000000"),
        s"a consumed-tick model dir is provably doomed and swept: $afterSweep")
      assert(afterSweep.count(_.startsWith("t3-")) == 1,
        s"the just-published model dir is kept: $afterSweep")
      cat.drop("stgann")
    }
  }

  test("sq8 shortlist ranks by reconstructed COSINE, not inner product — " +
      "a huge-norm decoy cannot crowd out the true neighbor") {
    // r14 carried design note, closed r16: the asymmetric integer dot
    // orders by reconstructed inner product, so with rerank=1 a
    // large-norm low-cosine decoy would fill the whole shortlist and
    // the exact rerank never sees the true neighbor. The normalized
    // key (Sq8CosKey) cuts by reconstructed cosine instead.
    withEngine { (cat, idx, _) =>
      cat.create(annYaml.format("normann"))
      // q = [1,0,0,0]; t is cosine-1.0 with tiny norm; decoy d has 100×
      // the norm but cosine ~0.7 — its reconstructed INNER product
      // dwarfs t's
      idx.indexFile("normann", writeDocs(
        """{"title": "t", "emb": [0.1, 0.0, 0.0, 0.0]}
          |{"title": "d", "emb": [10.0, 10.0, 0.0, 0.0]}
          |{"title": "far", "emb": [0.0, 0.0, 0.1, 0.0]}""".stripMargin))
      val ann = new graft.engine.AnnIndex(spark, cat)
      ann.train("normann", "emb", cells = 1, sq8 = true)
      // rerank=1: the shortlist IS the answer's candidate set — only a
      // cosine-correct cut can surface t. Both serving faces.
      val got = ann.knn("normann", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
        k = 1, nProbe = 1, rerank = 1).collect()
      assert(got.length == 1 && got.head.getString(1).contains("\"title\":\"t\""),
        s"normalized sq8 cut must keep the true neighbor: ${got.mkString("; ")}")
      import spark.implicits._
      val qs = Seq((7L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("qid", "qv")
      val b = ann.knnBatch("normann", "emb", qs, k = 1, nProbe = 1,
        rerank = 1).collect()
      assert(b.length == 1 && b.head.getString(3).contains("\"title\":\"t\""),
        s"batch face agrees: ${b.mkString("; ")}")
      cat.drop("normann")
    }
  }

  test("readGen fails loudly on a corrupt JSON manifest and on a malformed " +
      "tick line; legacy tick-less sidecars still read as 0") {
    // r14 advice: the key=value fallback swallowed EVERY JSON parse
    // failure, so a corrupt manifest.json silently read as generation 0
    // (the next CAS would treat the store as empty). The fallback now
    // applies only to sidecar-shaped content (no '{').
    val root = Files.createTempDirectory("graft-readgen").toString
    val store = new graft.engine.ManifestStore(root,
      new org.apache.hadoop.conf.Configuration())
    def write(name: String, body: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$name")
      store.writeStringAtomic(p, body)
      p
    }
    // corrupt JSON (truncated manifest): loud, not gen 0
    val bad = write("manifest.json", """{"gen": 4, "splits": [""")
    intercept[Exception] { store.readGen(bad) }
    // intact JSON still reads its gen
    assert(store.readGen(write("ok.json", """{"gen": 7}""")) == 7L)
    // sidecar with tick= reads the tick
    assert(store.readGen(write("META", "tick=3\ncells=2\n")) == 3L)
    // legacy tick-less sidecar reads 0 (first CAS publish = create)
    assert(store.readGen(write("META0", "cells=2\ngen=1\n")) == 0L)
    // malformed tick line: loud, named cause — not a NumberFormatException
    // and not a silent 0
    val mal = intercept[IllegalStateException] {
      store.readGen(write("METAX", "tick=banana\n"))
    }
    assert(mal.getMessage.contains("malformed tick"), mal.getMessage)
    // r15 advice: dispatch is by FILE IDENTITY (*.json), not a content
    // sniff. (a) a sidecar whose VALUE contains '{' still takes the
    // benign key=value path; (b) a manifest truncated before its first
    // '{' — an empty file from a non-atomic writer — is loud, not gen 0
    assert(store.readGen(write("META2", "tick=5\nnote={odd}\n")) == 5L,
      "a '{' inside a sidecar value must not flip it onto the JSON path")
    val empty = intercept[IllegalStateException] {
      store.readGen(write("empty.json", ""))
    }
    assert(empty.getMessage.contains("generation 0"), empty.getMessage)
    intercept[Exception] { store.readGen(write("blank.json", "   \n")) }
  }

  private def vecCatalog(prefix: String, name: String): (Catalog, String) = {
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
    (cat, root)
  }

  private def vdoc(t: String, v: Seq[Double]): String =
    s"""{"title": "$t", "emb": [${v.mkString(", ")}]}"""

  test("tombstoneShare clamps the copy divisor to the cell count: spill " +
      "beyond nlist stores min(spill, nlist) copies (r17 advice)") {
    val (cat, root) = vecCatalog("graft-tombshare", "tshare")
    // the SAME doc in two separate splits — the --dedup merge retires
    // one copy on content identity, publishing exactly one tombstone
    val dup = vdoc("dup", Seq(1.0, 0.0, 0.0, 0.0))
    val fileA = writeDocs((dup +: (1 to 5).map(i =>
      vdoc(s"d$i", Seq(0.1 * i, 1.0, 0.05 * i, 0.0)))).mkString("\n"))
    val fileB = writeDocs(dup)
    graft.cli.Main.run(Array("index", "tshare", fileA), spark, cat, root)
    graft.cli.Main.run(Array("index", "tshare", fileB), spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    // spill=4 on a 2-cell model: nearest_cells emits min(4, 2) = 2
    // copies per row, so 7 logical rows store 14 physical ones
    ann.train("tshare", "emb", cells = 2, spill = 4)
    graft.cli.Main.run(Array("merge", "tshare", "--dedup"), spark, cat, root)
    val (t, n) = ann.tombstoneShare("tshare", "emb").get
    assert(t == 1L, s"one retired identity expected, got $t")
    // the raw-spill divisor read 14/4 = 3 logical rows — half the truth,
    // firing the streaming fold policy at half the configured share
    assert(n == 7L, s"7 logical rows expected, got $n")
    cat.drop("tshare")
  }

  test("--target-recall serves the brute tier on an untrained index and " +
      "yields to an explicit --nprobe (r17 advice)") {
    import spark.implicits._
    val (cat, root) = vecCatalog("graft-trbrute", "trbrute")
    val in = writeDocs((1 to 6).map(i =>
      vdoc(s"d$i", Seq(1.0 - 0.1 * i, 0.1 * i, 0.0, 0.0))).mkString("\n"))
    graft.cli.Main.run(Array("index", "trbrute", in), spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    // untrained: the brute tier is exact, so it meets any target
    // trivially — erroring here blocked a perfectly servable query
    val brute = ann.knn("trbrute", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f), 2,
      targetRecall = Some(0.9)).collect().map(_.getString(1)).toSeq
    assert(brute.length == 2 && brute.head.contains("\"d1\""),
      brute.mkString("; "))
    // explicit --nprobe alongside --target-recall, still untrained:
    // the documented "--nprobe wins" rule serves (brute, no model)
    val explicitNp = ann.knn("trbrute", "emb",
      Array(1.0f, 0.0f, 0.0f, 0.0f), 2, nProbe = 3,
      targetRecall = Some(0.9)).collect().map(_.getString(1)).toSeq
    assert(explicitNp == brute, s"$explicitNp vs $brute")
    // batch face: same outs
    val bq = Seq(("q", Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("qid", "qv")
    val b = ann.knnBatch("trbrute", "emb", bq, k = 2,
      targetRecall = Some(0.9)).collect()
    assert(b.length == 2, b.mkString("; "))
    // trained WITHOUT a curve: an explicit --nprobe still wins (the
    // loud error stays on the curve-lookup path only)
    ann.train("trbrute", "emb", cells = 2)
    val trained = ann.knn("trbrute", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      2, nProbe = 2, targetRecall = Some(0.9)).collect()
    assert(trained.length == 2, trained.mkString("; "))
    intercept[Exception] {
      ann.knn("trbrute", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f), 2,
        targetRecall = Some(0.9)).collect()
    }
    cat.drop("trbrute")
  }

  private def annDir(cat: Catalog, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(cat.catalogRoot.stripPrefix("file:"),
      "indexes", name, "ann", "emb")

  private def readFile(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  test("a legacy META (no tick/spill/base/knob/split lines, coverage in " +
      "a SPLITS sidecar) reads with its defaults and refreshes onto the " +
      "tick CAS") {
    val (cat, root) = vecCatalog("graft-legacymeta", "legann")
    val docs = Seq(vdoc("a", Seq(1.0, 0.0, 0.0, 0.0)),
      vdoc("b", Seq(0.0, 0.0, 1.0, 0.0)))
    graft.cli.Main.run(Array("index", "legann", writeDocs(docs.mkString("\n"))),
      spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    // the retrain serves epoch 1 from base 1 under a 2-iteration model,
    // so every dropped line below differs from its legacy default
    ann.train("legann", "emb", cells = 1, iterations = 2)
    ann.train("legann", "emb", cells = 1, iterations = 2)
    val dir = annDir(cat, "legann")
    val body = readFile(dir.resolve("META"))
    assert(body.contains("\nbase=1\n") && body.contains("\nepoch=1\n") &&
      body.contains("\ntiter=2\n"), body)
    val ids = body.split("\n").collect {
      case l if l.startsWith("split=") => l.stripPrefix("split=") }.toSeq
    assert(ids.length == 1, body)
    val dropped = Seq("tick=", "spill=", "base=", "reqcells=", "titer=", "split=")
    Files.write(dir.resolve("META"), body.split("\n")
      .filterNot(l => dropped.exists(l.startsWith)).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    Files.write(dir.resolve("SPLITS"), ids.mkString("", "\n", "\n").getBytes("UTF-8"))
    graft.cli.Main.run(Array("index", "legann",
      writeDocs(vdoc("c", Seq(0.9, 0.1, 0.0, 0.0)))), spark, cat, root)
    assert(ann.meta("legann", "emb").map(_._3).contains(1), "spill reads 1")
    assert(ann.epochSpan("legann", "emb") == ((0, 1)), "base reads 0")
    val (_, _, _, reqCells, iters) = ann.tierKnobs("legann", "emb")
    assert((reqCells, iters) == ((0, 4)), "pre-r17 knob defaults")
    // the sidecar's ids are covered: only the new split is appended
    val (ns, nv) = ann.refresh("legann", "emb")
    assert(ns == 1 && nv == 1L, s"refresh appends only the new split: ($ns, $nv)")
    val after = readFile(dir.resolve("META"))
    assert(after.startsWith("tick=1\n"), s"first CAS publish is tick 1: $after")
    assert(after.split("\n").count(_.startsWith("split=")) == 2, after)
    assert(ids.forall(id => after.contains(s"split=$id\n")), after)
    assert(!Files.exists(dir.resolve("SPLITS")), "the sidecar is retired")
    val hits = ann.knn("legann", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      k = 5, nProbe = 1).collect().map(_.getString(1))
    assert(hits.length == 3 && hits.distinct.length == 3, hits.mkString("; "))
    cat.drop("legann")
  }

  test("META byte format is pinned: golden body, parse/render round " +
      "trip, and an engine-written META re-renders byte-for-byte") {
    import graft.engine.AnnMeta
    val full = AnnMeta(tick = 7, cells = 12, gen = 42, spill = 2, epoch = 5,
      pq = 8, sq8 = true, pqRes = true, base = 3, model = Some("t7-abcdef01"),
      fit = Some(912345L), lastFit = Some(901234L), tomb = Some("t6-0badcafe"),
      reqCells = Some(0), trainIters = Some(6),
      splits = Set("s-b", "s-a", "s-c"))
    val golden = "tick=7\ncells=12\ngen=42\nspill=2\nepoch=5\npq=8\n" +
      "sq8=1\npqres=1\nbase=3\nmodel=t7-abcdef01\nfit=912345\n" +
      "lastfit=901234\ntomb=t6-0badcafe\nreqcells=0\ntiter=6\n" +
      "split=s-a\nsplit=s-b\nsplit=s-c\n"
    assert(AnnMeta.render(full) == golden)
    assert(AnnMeta.parse(golden) == full)
    val bare = AnnMeta(tick = 1, cells = 2, gen = 3, spill = 1, epoch = 0,
      pq = 0, splits = Set("x"))
    assert(AnnMeta.render(bare) ==
      "tick=1\ncells=2\ngen=3\nspill=1\nepoch=0\npq=0\nsplit=x\n")
    assert(AnnMeta.parse(AnnMeta.render(bare)) == bare)
    val (cat, root) = vecCatalog("graft-metagolden", "goldann")
    graft.cli.Main.run(Array("index", "goldann", writeDocs((1 to 6).map(i =>
      vdoc(s"d$i", Seq(1.0 - 0.1 * i, 0.1 * i, 0.0, 0.0))).mkString("\n"))),
      spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    val metaP = annDir(cat, "goldann").resolve("META")
    def rerenders(): Unit = {
      val body = readFile(metaP)
      assert(AnnMeta.render(AnnMeta.parse(body)) == body, body)
    }
    ann.train("goldann", "emb", cells = 2, spill = 2, sq8 = true)
    rerenders()
    graft.cli.Main.run(Array("index", "goldann",
      writeDocs(vdoc("n", Seq(0.5, 0.5, 0.0, 0.0)))), spark, cat, root)
    ann.refresh("goldann", "emb")
    val refreshed = readFile(metaP)
    assert(refreshed.contains("\nsq8=1\n") && refreshed.contains("\nfit=") &&
      refreshed.contains("\nlastfit="), refreshed)
    rerenders()
    cat.drop("goldann")
  }

  test("knn serves a settled META's model from the cache: one miss, then " +
      "a hit; a refresh publish misses again") {
    val (cat, root) = vecCatalog("graft-servecache", "scache")
    graft.cli.Main.run(Array("index", "scache", writeDocs((1 to 6).map(i =>
      vdoc(s"d$i", Seq(1.0 - 0.1 * i, 0.1 * i, 0.0, 0.0))).mkString("\n"))),
      spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    ann.train("scache", "emb", cells = 2)
    val metaP = new org.apache.hadoop.fs.Path(
      annDir(cat, "scache").resolve("META").toUri)
    val fs = metaP.getFileSystem(new org.apache.hadoop.conf.Configuration())
    // a META younger than the mtime granularity is never trusted from
    // the cache; age it instead of sleeping
    def settle(): Unit = fs.setTimes(metaP,
      System.currentTimeMillis() - 2 * Catalog.MtimeGranularityMs, -1L)
    def knn(): Unit = assert(ann.knn("scache", "emb",
      Array(1.0f, 0.0f, 0.0f, 0.0f), k = 2, nProbe = 1).collect().length == 2)
    def stats(): (Long, Long) = {
      val (h, m, _) = graft.engine.AnnIndex.servingCacheStats
      (h, m)
    }
    settle()
    val (h0, m0) = stats()
    knn()
    assert(stats() == ((h0, m0 + 1)), "the first call loads the model")
    knn()
    assert(stats() == ((h0 + 1, m0 + 1)), "an unchanged META hits")
    graft.cli.Main.run(Array("index", "scache",
      writeDocs(vdoc("n", Seq(0.5, 0.5, 0.0, 0.0)))), spark, cat, root)
    ann.refresh("scache", "emb")
    settle()
    val (h1, m1) = stats()
    knn()
    assert(stats() == ((h1, m1 + 1)), "a new publish misses")
    cat.drop("scache")
  }

  test("train logs neither a dropped broadcast hint nor an unpartitioned " +
      "window") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val (cat, root) = vecCatalog("graft-trainwarn", "twarn")
    graft.cli.Main.run(Array("index", "twarn", writeDocs((1 to 8).map(i =>
      vdoc(s"d$i", Seq(1.0 - 0.1 * i, 0.1 * i, 0.0, 0.0))).mkString("\n"))),
      spark, cat, root)
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("train-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage): Unit
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootLogger = ctx.getConfiguration.getRootLogger
    rootLogger.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      new graft.engine.AnnIndex(spark, cat).train("twarn", "emb", cells = 2)
      // one registry call per op whose global totals or top-k ranks
      // once ran through an unpartitioned window: Dsir.importanceScores
      // and the selection rank, Bpe.topPairs, Mixture.mixAllocation /
      // mixSchedule / mixEpochs / mixRealizeTwoPass / temperatureSample,
      // EpochShuffle's scheduled shard assignment, the hybrid RRF ranks
      Seq("pipe_dsir_select", "pipe_bpe_step", "pipe_mix_weights",
        "pipe_mix_schedule", "pipe_mix_epochs", "pipe_mix_realize_2pass",
        "pipe_temperature_sample", "pipe_mix_shard_schedule",
        "pipe_hybrid_rrf").foreach { q =>
        graft.queries.PipelineQueries.all(q)(spark, "/root/testdata/sf0.001")
          .collect()
      }
    } finally {
      rootLogger.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    val warned = logged.toArray.map(_.toString).filter(m =>
      m.contains("not part of a join relation") ||
        m.contains("No Partition Defined"))
    assert(warned.isEmpty, warned.mkString("\n"))
    cat.drop("twarn")
  }
}
