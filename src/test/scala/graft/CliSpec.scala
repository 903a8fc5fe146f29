package graft

import java.io.ByteArrayInputStream
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Catalog, Searcher}

/** Drives the CLI verb dispatch in-process — in particular the stdin
  * ingest path (`index <name> -` / no input arg), the one §2 source that
  * no other gate exercised (reference: `src/args.rs:51-56`,
  * `sources/buf_source.rs:25-28`). */
class CliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val configYaml =
    """version: 1
      |name: cli_test
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: n
      |      type: !number
      |        type: i64
      |    - name: body
      |      type: !text
      |""".stripMargin

  test("index with `-` spools stdin into a committed split") {
    val root = Files.createTempDirectory("graft-cli").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-config", ".yaml")
    Files.write(yaml, configYaml.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)
    assert(cat.exists("cli_test"))

    val docs = """{"n": 1, "body": "hello graft"}
                 |{"n": 2, "body": "second doc"}""".stripMargin
    val savedIn = System.in
    try {
      System.setIn(new ByteArrayInputStream(docs.getBytes("UTF-8")))
      cli.Main.run(Array("index", "cli_test", "-"), spark, cat, root)
    } finally System.setIn(savedIn)

    val splits = cat.liveSplits("cli_test")
    assert(splits.map(_.numDocs).sum == 2, s"got $splits")
    val search = new Searcher(spark, cat)
    assert(search.search("cli_test", "body:hello", 1) ==
      Seq("""{"body":"hello graft","n":1}"""))

    // the no-input-arg form reads stdin too (reference: omitted input)
    try {
      System.setIn(new ByteArrayInputStream("""{"n": 3, "body": "third"}""".getBytes("UTF-8")))
      cli.Main.run(Array("index", "cli_test"), spark, cat, root)
    } finally System.setIn(savedIn)
    assert(cat.liveSplits("cli_test").map(_.numDocs).sum == 3)
    assert(search.search("cli_test", "n:3", 1) == Seq("""{"body":"third","n":3}"""))
  }

  test("indexed: false dynamic_object is stored but unsearchable") {
    // reference parity: an unindexed json field stores and echoes its
    // value but no query can match through it — neither a path term into
    // the field nor a term on the field name, and the value never leaks
    // into the catch-all either (declared fields own their keys)
    val root = Files.createTempDirectory("graft-cli-unidx").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-unidx", ".yaml")
    Files.write(yaml,
      """version: 1
        |name: unidx
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: body
        |      type: !text
        |    - name: note
        |      type: !text
        |        indexed: false
        |    - name: score
        |      type: !number
        |        type: i64
        |        indexed: false
        |    - name: meta
        |      type: !dynamic_object
        |        indexed: false
        |""".stripMargin.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)
    val docs = """{"body": "searchable words", "note": "private words", "score": 7, "meta": {"service": "datanode", "zone": "east"}}
                 |{"body": "other doc", "note": "words too", "score": 9, "meta": {"service": "namenode"}}""".stripMargin
    val savedIn = System.in
    try {
      System.setIn(new ByteArrayInputStream(docs.getBytes("UTF-8")))
      cli.Main.run(Array("index", "unidx", "-"), spark, cat, root)
    } finally System.setIn(savedIn)
    val s = new Searcher(spark, cat)
    // stored + echoed (re-nested, sorted keys)
    assert(s.search("unidx", "body:searchable", 1) ==
      Seq("""{"body":"searchable words","meta":{"service":"datanode","zone":"east"},"note":"private words","score":7}"""))
    // indexed: false TEXT and NUMBER fields are equally unsearchable
    // (the reference hands its QueryParser only indexed fields) — but
    // never pollute the catch-all or other fields' matches
    assert(s.searchDf("unidx", "note:private", 10).count() == 0,
      "term on indexed:false text must match nothing")
    assert(s.searchDf("unidx", "note:priv*", 10).count() == 0)
    assert(s.searchDf("unidx", "note:\"private words\"", 10).count() == 0)
    assert(s.searchDf("unidx", "score:7", 10).count() == 0,
      "term on indexed:false number must match nothing")
    assert(s.searchDf("unidx", "score:[1 TO 10]", 10).count() == 0,
      "range on indexed:false number must match nothing")
    // the fieldless default expansion ignores unindexed fields: "words"
    // appears in both docs' note but only body hits count
    assert(s.searchDf("unidx", "words", 10).count() == 1,
      "default-field term must not search indexed:false fields")
    // unsearchable through every route: path term, field term, prefix
    assert(s.searchDf("unidx", "meta.service:datanode", 10).count() == 0,
      "path into an indexed:false dynamic_object must match nothing")
    assert(s.searchDf("unidx", "meta:datanode", 10).count() == 0,
      "term on an indexed:false dynamic_object must match nothing")
    assert(s.searchDf("unidx", "meta.service:data*", 10).count() == 0,
      "prefix into an indexed:false dynamic_object must match nothing")
    assert(s.searchDf("unidx", "meta.zone:[a TO z]", 10).count() == 0,
      "range into an indexed:false dynamic_object must match nothing")
    cat.drop("unidx")
  }

  test("pipeline verb runs curate -> dedup -> decontaminate -> shards e2e") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-pipe").toString
    // corpus: 40 keepable docs (distinct, quality-passing), one exact
    // duplicate pair, one too-short doc, one benchmark-contaminated doc
    val keepable = (0 until 40).map { i =>
      val words = (0 until 12).map(j => Seq("the", "quick", "brown", "fox",
        "jumps", "over", "lazy", "dog", s"w$i", s"x${(i + j) % 7}")((i + j) % 10))
      s"""{"id": $i, "text": "${words.mkString(" ")} of and to in is"}"""
    }
    val dup = """{"id": 100, "text": "the quick brown fox jumps over the lazy dog of and to in is"}
                |{"id": 101, "text": "the quick brown fox jumps over the lazy dog of and to in is"}""".stripMargin
    val short = """{"id": 102, "text": "too short"}"""
    val contaminated = """{"id": 103, "text": "the secret benchmark answer key is alpha beta gamma delta epsilon zeta of and to in"}"""
    Files.write(java.nio.file.Paths.get(s"$dir/corpus.jsonl"),
      (keepable ++ Seq(dup, short, contaminated)).mkString("\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/bench.jsonl"),
      """{"text": "the secret benchmark answer key is alpha beta gamma delta epsilon zeta of and to in"}"""
        .getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/pipe.yaml"),
      s"""input: $dir/corpus.jsonl
         |output: $dir/out
         |id_field: id
         |min_words: 5
         |benchmark: $dir/bench.jsonl
         |target_shard_size: 800
         |""".stripMargin.getBytes("UTF-8"))

    val root = Files.createTempDirectory("graft-cli2").toString
    cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
      new Catalog(root), root)

    // commit point + shard dirs landed
    assert(new java.io.File(s"$dir/out/manifest").exists())
    val data = spark.read.parquet(s"$dir/out/data")
    assert(data.select(col("shard")).distinct().count() > 1,
      "target_shard_size=800 must yield multiple shards")
    // 40 keepable + 1 dedup survivor; short + contaminated dropped
    val ids = data.select(col("doc_id")).collect().map(_.getString(0)).toSet
    assert(data.count() == 41, s"got ${data.count()} docs: $ids")
    assert(ids.contains("100") && !ids.contains("101"), "min-id dedup survivor")
    assert(!ids.contains("102") && !ids.contains("103"),
      "quality + decontamination drops")
    // payload rides into the shards; manifest attests the landed files
    assert(data.columns.contains("text"))
    val m = spark.read.parquet(s"$dir/out/manifest")
    assert(m.agg(org.apache.spark.sql.functions.sum(col("n_docs")))
      .first().getLong(0) == 41)
  }
  test("pipeline verb: quota and weighted-budget stages cap the corpus deterministically") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-pipe2").toString
    val docs = (0 until 30).map { i =>
      val words = (0 until 12).map(j => Seq("the", "quick", "brown", "fox",
        "jumps", "over", "lazy", "dog", s"w$i", s"x${(i + j) % 7}")((i + j) % 10))
      s"""{"id": $i, "src": "s${i % 3}", "text": "${words.mkString(" ")} of and to in is"}"""
    }
    Files.write(java.nio.file.Paths.get(s"$dir/corpus.jsonl"),
      docs.mkString("\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/pipe.yaml"),
      s"""input: $dir/corpus.jsonl
         |output: $dir/out
         |id_field: id
         |source_field: src
         |min_words: 5
         |domain_quota: 6
         |sample_k: 10
         |target_shard_size: 400
         |""".stripMargin.getBytes("UTF-8"))
    val root = Files.createTempDirectory("graft-cli3").toString
    cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
      new Catalog(root), root)
    val data = spark.read.parquet(s"$dir/out/data")
    // 30 docs -> quota 6 per 3 sources = 18 -> budget 10
    assert(data.count() == 10, s"got ${data.count()}")
    val ids1 = data.select(col("doc_id")).collect().map(_.getString(0)).toSet
    // deterministic: a rerun lands the identical survivor set
    cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
      new Catalog(root), root)
    val ids2 = spark.read.parquet(s"$dir/out/data")
      .select(col("doc_id")).collect().map(_.getString(0)).toSet
    assert(ids1 == ids2, "hash-keyed stages must reproduce across reruns")
    val m = spark.read.parquet(s"$dir/out/manifest")
    assert(m.agg(org.apache.spark.sql.functions.sum(col("n_docs")))
      .first().getLong(0) == 10)
  }
  test("pipeline verb: mix_weights realizes the training mixture — listed " +
      "sources cut at their token allocations, unlisted sources dropped") {
    import org.apache.spark.sql.functions.{col, sum, length}
    val dir = Files.createTempDirectory("graft-pipe4").toString
    // three sources with distinct doc bodies; s2 is NOT in the mixture
    val docs = (0 until 30).map { i =>
      val words = (0 until 12).map(j => Seq("the", "quick", "brown", "fox",
        "jumps", "over", "lazy", "dog", s"w$i", s"x${(i + j) % 7}")((i + j) % 10))
      s"""{"id": $i, "src": "s${i % 3}", "text": "${words.mkString(" ")} of and to in is"}"""
    }
    Files.write(java.nio.file.Paths.get(s"$dir/corpus.jsonl"),
      docs.mkString("\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/pipe.yaml"),
      s"""input: $dir/corpus.jsonl
         |output: $dir/out
         |id_field: id
         |source_field: src
         |min_words: 5
         |mix_weights:
         |  s0: 2
         |  s1: 1
         |target_shard_size: 400
         |""".stripMargin.getBytes("UTF-8"))
    val root = Files.createTempDirectory("graft-cli4").toString
    cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
      new Catalog(root), root)
    val data = spark.read.parquet(s"$dir/out/data")
    val bySrc = data.groupBy(col("source"))
      .agg(sum(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokenize(col("text"), "default"))
        .cast("long")).as("kept"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(!bySrc.contains("s2"), s"unlisted source must drop: $bySrc")
    assert(bySrc.keySet == Set("s0", "s1"), bySrc.toString)
    // the realized mixture obeys the spec: per-source kept tokens sit at
    // the weight*u allocation (u = min over floor(tokens_s / w_s)),
    // computed here from the post-curate/dedup survivors directly
    val surv = spark.read.json(s"$dir/corpus.jsonl")
      .where(col("src").isin("s0", "s1"))
      .groupBy(col("src"))
      .agg(sum(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokenize(col("text"), "default"))
        .cast("long")).as("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val u = math.min(surv("s0") / 2, surv("s1") / 1)
    assert(bySrc("s0") <= 2 * u && bySrc("s1") <= u,
      s"kept tokens must fit the allocation: $bySrc vs u=$u")
    // tight: slack under the largest doc (~17 tokens in this fixture)
    assert(2 * u - bySrc("s0") < 20 && u - bySrc("s1") < 20,
      s"cut must be tight: $bySrc vs (${2 * u}, $u)")
    // deterministic: rerun lands the identical survivor set
    val ids1 = data.select(col("doc_id")).collect().map(_.getString(0)).toSet
    cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
      new Catalog(root), root)
    val ids2 = spark.read.parquet(s"$dir/out/data")
      .select(col("doc_id")).collect().map(_.getString(0)).toSet
    assert(ids1 == ids2, "the mixture cut must reproduce across reruns")
  }

  test("pipeline verb: mix_epochs_budget realizes the MULTI-EPOCH mixture " +
      "into per-epoch shard trees with one manifest commit point") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-pipe5").toString
    val docs = (0 until 30).map { i =>
      val words = (0 until 12).map(j => Seq("the", "quick", "brown", "fox",
        "jumps", "over", "lazy", "dog", s"w$i", s"x${(i + j) % 7}")((i + j) % 10))
      s"""{"id": $i, "src": "s${i % 3}", "text": "${words.mkString(" ")} of and to in is"}"""
    }
    Files.write(java.nio.file.Paths.get(s"$dir/corpus.jsonl"),
      docs.mkString("\n").getBytes("UTF-8"))
    // budget 3× the listed corpus under weights 2:1 with a 2-epoch cap:
    // the water-fill caps BOTH sources at exactly 2 full passes (share
    // 2T/T exceeds each cap 2·T_s), so every listed doc lands twice,
    // epoch-tagged, with the excess budget reported — the planner's
    // all-capped end
    Files.write(java.nio.file.Paths.get(s"$dir/pipe.yaml"),
      s"""input: $dir/corpus.jsonl
         |output: $dir/out
         |id_field: id
         |source_field: src
         |min_words: 5
         |mix_weights:
         |  s0: 2
         |  s1: 1
         |mix_epochs_budget: 3
         |mix_epochs_max: 2
         |target_shard_size: 400
         |""".stripMargin.getBytes("UTF-8"))
    val root = Files.createTempDirectory("graft-cli5").toString
    cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
      new Catalog(root), root)
    val manifest = spark.read.parquet(s"$dir/out/manifest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(manifest.map(_._1).toSet == Set(0L, 1L),
      s"both full passes must land: ${manifest.toSeq}")
    // positions dense per (epoch, shard): last_pos == n_docs
    manifest.foreach { case (e, sh, n, last, _) =>
      assert(last == n, s"epoch $e shard $sh: dense pos expected ($last/$n)")
    }
    val data = spark.read.parquet(s"$dir/out/data")
      .select(col("doc_id"), col("source"), col("epoch").cast("long"),
        col("shard").cast("long"), col("pos"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(!data.exists(_._2 == "s2"), "unlisted source must drop")
    // every epoch is a FULL pass: identical doc sets per source
    for (src <- Seq("s0", "s1")) {
      val e0 = data.filter(d => d._2 == src && d._3 == 0L).map(_._1).sorted
      val e1 = data.filter(d => d._2 == src && d._3 == 1L).map(_._1).sorted
      assert(e0.nonEmpty && (e0.toSeq == e1.toSeq),
        s"$src: both passes must repeat the whole source")
    }
    // distinct shard orders between passes (the epoch-folded seed)
    val m0 = data.filter(_._3 == 0L).map(d => (d._1, d._4, d._5)).sortBy(_._1).toSeq
    val m1 = data.filter(_._3 == 1L).map(d => (d._1, d._4, d._5)).sortBy(_._1).toSeq
    assert(m0.map(_._1) == m1.map(_._1) && m0 != m1,
      "epoch 1 must not replay epoch 0's shard order")
    // rerun-identical (hash-deterministic end to end)
    cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
      new Catalog(root), root)
    val again = spark.read.parquet(s"$dir/out/data")
      .select(col("doc_id"), col("epoch").cast("long"),
        col("shard").cast("long"), col("pos"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(x => (x._1, x._2)).toSeq
    val first = data.map(d => (d._1, d._3, d._4, d._5))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(again == first, "multi-epoch realization must reproduce")
    // loud config contract: budget without weights, or with a holdout
    for (bad <- Seq(
      s"input: $dir/corpus.jsonl\noutput: $dir/out2\nmix_epochs_budget: 2\n",
      s"input: $dir/corpus.jsonl\noutput: $dir/out3\nmix_weights:\n  s0: 1\n" +
        "mix_epochs_budget: 2\nsplit_test_pct: 20\n")) {
      Files.write(java.nio.file.Paths.get(s"$dir/bad.yaml"),
        bad.getBytes("UTF-8"))
      val err = intercept[Exception] {
        cli.Main.run(Array("pipeline", s"$dir/bad.yaml"), spark,
          new Catalog(root), root)
      }
      assert(err.getMessage.contains("mix_epochs_budget"), err.getMessage)
    }
  }

  test("pipeline verb: schedule=true writes STRIDE-ORDERED shards on both " +
      "sink paths — same membership as the hash sink, every per-shard " +
      "prefix mixture-faithful") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-pipe6").toString
    val docs = (0 until 30).map { i =>
      val words = (0 until 12).map(j => Seq("the", "quick", "brown", "fox",
        "jumps", "over", "lazy", "dog", s"w$i", s"x${(i + j) % 7}")((i + j) % 10))
      s"""{"id": $i, "src": "s${i % 3}", "text": "${words.mkString(" ")} of and to in is"}"""
    }
    Files.write(java.nio.file.Paths.get(s"$dir/corpus.jsonl"),
      docs.mkString("\n").getBytes("UTF-8"))
    def yaml(out: String, extra: String): String = {
      val p = s"$dir/pipe_${out.replace('/', '_')}.yaml"
      Files.write(java.nio.file.Paths.get(p),
        (s"input: $dir/corpus.jsonl\noutput: $dir/$out\nid_field: id\n" +
          "source_field: src\nmin_words: 5\nmix_weights:\n  s0: 2\n" +
          s"  s1: 1\ntarget_shard_size: 400\n$extra").getBytes("UTF-8"))
      p
    }
    val root = Files.createTempDirectory("graft-cli6").toString
    val w = Map("s0" -> 2L, "s1" -> 1L)
    // the shard-order faithfulness check: pos order ascends skey, and
    // while no present source has exhausted its rows, every prefix
    // holds each source at its weighted rate among the PRESENT sources
    def strideFaithful(rows: Seq[(String, String, Long, Long)],
        label: String): Unit = {
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq,
        s"$label: dense pos expected")
      assert(sorted.sliding(2).forall(p =>
        p.length < 2 || p(0)._3 <= p(1)._3),
        s"$label: pos order must ascend the stride key")
      val bySrc = sorted.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val wg = bySrc.keysIterator.map(w).sum
      val horizon = bySrc.map { case (s, n) => n * wg / w(s) }.min
      val seen = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      var worst = 0.0
      sorted.zipWithIndex.takeWhile(_._2 < horizon).foreach {
        case ((_, s, _, _), i) =>
          seen(s) += 1
          val t = i + 1
          bySrc.keys.foreach { src =>
            worst = math.max(worst,
              math.abs(seen(src) - t.toDouble * w(src) / wg))
          }
      }
      assert(worst <= 2.5,
        f"$label: a prefix drifted $worst%.2f draws from its weighted " +
          "share — the shard is not stride-faithful")
    }
    // SINGLE-epoch path: hash sink vs scheduled sink, same seed
    for (p <- Seq(yaml("out_h", ""), yaml("out_s", "schedule: true\n")))
      cli.Main.run(Array("pipeline", p), spark, new Catalog(root), root)
    val hash1 = spark.read.parquet(s"$dir/out_h/data")
      .select(col("doc_id"), col("shard").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val sched1 = spark.read.parquet(s"$dir/out_s/data")
      .select(col("doc_id"), col("source"), col("shard").cast("long"),
        col("skey"), col("pos")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(sched1.map(x => (x._1, x._3)).toMap == hash1,
      "schedule must not move docs between shards (same hash, same mod)")
    sched1.groupBy(_._3).foreach { case (sh, g) =>
      strideFaithful(g.map(x => (x._1, x._2, x._4, x._5)).toSeq,
        s"single-epoch shard $sh")
    }
    // the manifest commit point attests the same totals on both sinks
    val mh = spark.read.parquet(s"$dir/out_h/manifest")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ms = spark.read.parquet(s"$dir/out_s/manifest")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(mh == ms, s"manifest counts must agree: $mh vs $ms")
    // MULTI-epoch path: per-epoch trees, each (epoch, shard) faithful
    val me = "mix_epochs_budget: 3\nmix_epochs_max: 2\n"
    for (p <- Seq(yaml("out_mh", me), yaml("out_ms", me + "schedule: true\n")))
      cli.Main.run(Array("pipeline", p), spark, new Catalog(root), root)
    val hashM = spark.read.parquet(s"$dir/out_mh/data")
      .select(col("doc_id"), col("epoch").cast("long"),
        col("shard").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val schedM = spark.read.parquet(s"$dir/out_ms/data")
      .select(col("doc_id"), col("source"), col("epoch").cast("long"),
        col("shard").cast("long"), col("skey"), col("pos")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(schedM.map(x => (x._1, x._3, x._4)).toSet == hashM,
      "multi-epoch schedule must not move (doc, epoch) rows between shards")
    schedM.groupBy(x => (x._3, x._4)).foreach { case ((e, sh), g) =>
      strideFaithful(g.map(x => (x._1, x._2, x._5, x._6)).toSeq,
        s"epoch $e shard $sh")
    }
    // SPLIT path: schedule composes with the leakage-safe holdout —
    // each side's sink writes its own stride-ordered shards
    cli.Main.run(Array("pipeline",
      yaml("out_sp", "schedule: true\nsplit_test_pct: 30\n")), spark,
      new Catalog(root), root)
    for (side <- Seq("train", "test")) {
      val rows = spark.read.parquet(s"$dir/out_sp/$side/data")
        .select(col("doc_id"), col("source"), col("shard").cast("long"),
          col("skey"), col("pos")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(rows.nonEmpty, s"$side side must land")
      rows.groupBy(_._3).foreach { case (sh, g) =>
        strideFaithful(g.map(x => (x._1, x._2, x._4, x._5)).toSeq,
          s"$side shard $sh")
      }
    }
    // loud config contract: the stride rates ARE the mixture weights
    Files.write(java.nio.file.Paths.get(s"$dir/bad.yaml"),
      (s"input: $dir/corpus.jsonl\noutput: $dir/out_bad\n" +
        "schedule: true\n").getBytes("UTF-8"))
    val err = intercept[Exception] {
      cli.Main.run(Array("pipeline", s"$dir/bad.yaml"), spark,
        new Catalog(root), root)
    }
    assert(err.getMessage.contains("schedule"), err.getMessage)
    // and a non-boolean value names the key instead of a bare
    // "For input string" NumberFormat-style parse error (r19 advice)
    Files.write(java.nio.file.Paths.get(s"$dir/bad2.yaml"),
      (s"input: $dir/corpus.jsonl\noutput: $dir/out_bad2\n" +
        "schedule: 1\n").getBytes("UTF-8"))
    val err2 = intercept[Exception] {
      cli.Main.run(Array("pipeline", s"$dir/bad2.yaml"), spark,
        new Catalog(root), root)
    }
    assert(err2.getMessage.contains(
      "schedule must be true or false, got '1'"), err2.getMessage)
  }

  test("pipeline verb: split_test_pct emits leakage-safe train/test trees " +
      "with per-side manifests") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-pipe3").toString
    // 30 distinct docs + a planted NEAR-duplicate pair (ids 200/201:
    // same 16-word body, different final word — exact dedup keeps both,
    // the MinHash-LSH pair tier must catch them)
    val docs = (0 until 30).map { i =>
      val words = (0 until 14).map(j => Seq("the", "quick", "brown", "fox",
        "jumps", "over", "lazy", "dog", s"w$i", s"x${(i + j) % 7}")((i + j) % 10))
      s"""{"id": $i, "text": "${words.mkString(" ")} of and to in is"}"""
    }
    val body = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november of and to in is"
    val nearDup = Seq(
      s"""{"id": 200, "text": "$body oscar"}""",
      s"""{"id": 201, "text": "$body papa"}""")
    Files.write(java.nio.file.Paths.get(s"$dir/corpus.jsonl"),
      (docs ++ nearDup).mkString("\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/pipe.yaml"),
      s"""input: $dir/corpus.jsonl
         |output: $dir/out
         |id_field: id
         |min_words: 5
         |split_test_pct: 35
         |target_shard_size: 600
         |""".stripMargin.getBytes("UTF-8"))
    val root = Files.createTempDirectory("graft-cli5").toString
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      cli.Main.run(Array("pipeline", s"$dir/pipe.yaml"), spark,
        new Catalog(root), root)
    }
    // both side trees landed with their own commit points
    for (side <- Seq("train", "test")) {
      assert(new java.io.File(s"$dir/out/$side/manifest").exists(),
        s"$side manifest is the side's commit point")
    }
    val train = spark.read.parquet(s"$dir/out/train/data")
      .select(col("doc_id")).collect().map(_.getString(0)).toSet
    val test = spark.read.parquet(s"$dir/out/test/data")
      .select(col("doc_id")).collect().map(_.getString(0)).toSet
    // the sides PARTITION the surviving corpus
    assert(train.intersect(test).isEmpty, s"overlap: ${train.intersect(test)}")
    assert(train.size + test.size == 32,
      s"32 survivors split: ${train.size} train + ${test.size} test")
    assert(train.nonEmpty && test.nonEmpty,
      s"35% holdout over 31 clusters must populate both sides " +
        s"(train=${train.size}, test=${test.size})")
    // THE leakage gate: the planted near-dup family never straddles sides
    assert(train.contains("200") == train.contains("201") &&
      test.contains("200") == test.contains("201"),
      s"near-dup pair must share a side: train=$train test=$test")
    // per-side manifests attest the landed counts
    for ((side, ids) <- Seq("train" -> train, "test" -> test)) {
      val m = spark.read.parquet(s"$dir/out/$side/manifest")
      assert(m.agg(org.apache.spark.sql.functions.sum(col("n_docs")))
        .first().getLong(0) == ids.size, s"$side manifest count")
    }
    // the CLI face prints side-tagged shard lines
    val printed = out.toString("UTF-8")
    assert(printed.contains("[train]") && printed.contains("[test]"), printed)
  }

  test("index --format parquet and csv ingest through the one JSON path") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-fmt").toString
    val root = Files.createTempDirectory("graft-cli4").toString
    val cat = new Catalog(root)
    cat.create(new String(Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/example_config.yaml")), "UTF-8"))
    // parquet keeps the nested resource/attributes structs intact
    spark.read.json("/root/reference/tests/test_files/hdfs-logs-multitenants-2.json")
      .write.mode("overwrite").parquet(s"$dir/in.parquet")
    cli.Main.run(Array("index", "test", s"$dir/in.parquet", "--format", "parquet"),
      spark, cat, root)
    val s = new graft.engine.Searcher(spark, cat)
    assert(s.searchDf("test", "tenant_id:>50", 10).count() == 1,
      "typed range over parquet-ingested rows")
    // resource is a DECLARED raw-tokenized dynamic_object: the path term
    // is whole-value equality (tantivy json-field + raw tokenizer), and
    // a partial token must NOT match
    assert(s.searchDf("test", "resource.service:datanode/01", 10).count() == 2,
      "path into a declared dynamic_object must hit its own column")
    assert(s.searchDf("test", "resource.service:datanode", 10).count() == 0,
      "raw-tokenized value is a single token; partial terms don't match")
    // csv: flat columns, header-driven
    Files.write(java.nio.file.Paths.get(s"$dir/in.csv"),
      """timestamp,severity_text,body,tenant_id
        |1460530020,INFO,csv ingest row one,91
        |1460530021,ERROR,csv ingest row two,92
        |""".stripMargin.getBytes("UTF-8"))
    cli.Main.run(Array("index", "test", s"$dir/in.csv", "--format", "csv"),
      spark, cat, root)
    assert(s.searchDf("test", "body:csv", 10).count() == 2)
    assert(s.searchDf("test", "tenant_id:>90", 10).count() == 2)
    cat.drop("test")
  }

  test("stats --sketches prints the streaming HLL datasheet from persisted state") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cli-sk").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-sk", ".yaml")
    Files.write(yaml, configYaml.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)

    // state as `index --stream --sketch-field` leaves it: two batches of
    // per-group registers max-merged into <state-dir>/hll
    val stateDir = Files.createTempDirectory("graft-cli-skstate").toString
    val hll = new graft.ops.HllRegisterState(spark, s"$stateDir/hll")
    val b1 = Seq(("t1", "u1"), ("t1", "u2"), ("t2", "u1")).toDF("grp", "k")
    val b2 = Seq(("t1", "u2"), ("t1", "u3"), ("t2", "u9")).toDF("grp", "k")
    hll.merge(graft.ops.Sketch.hllRegisters(b1, col("grp"), col("k")))
    hll.merge(graft.ops.Sketch.hllRegisters(b2, col("grp"), col("k")))
    // and the quantile sidecar as --quantile-field leaves it: one grid of
    // body lengths 10, 20, 30 — p50 midpoint of 20's bucket
    val hdr = new graft.ops.HdrBucketState(spark, s"$stateDir/hdr")
    val lens = Seq(10L, 20L, 30L).toDF("v")
      .select(org.apache.spark.sql.functions.lit("stream").as("grp"), col("v"))
    hdr.merge(graft.ops.Sketch.hdrBuckets(lens, col("grp"), col("v")))

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      cli.Main.run(Array("stats", "cli_test", "--sketches",
        "--state-dir", stateDir), spark, cat, root)
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("sketches (state generation 2):"), printed)
    // the printed estimates must be the batch estimator's values over the
    // same registers — t1 saw u1,u2,u3 (3 distinct), t2 saw u1,u9 (2),
    // both deep in the linear-counting regime where LC is exact
    assert(printed.contains("t1: ~3 distinct (regime=lc"), printed)
    assert(printed.contains("t2: ~2 distinct (regime=lc"), printed)
    // the HDR side prints p50/p90/p99 with the grid's row count
    assert(printed.contains("quantiles (state generation 1):"), printed)
    assert(printed.contains("stream p50: ~20 chars (n=3)"), printed)

    // empty state reports loudly instead of printing nothing
    val empty = Files.createTempDirectory("graft-cli-skempty").toString
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      cli.Main.run(Array("stats", "cli_test", "--sketches",
        "--state-dir", empty), spark, cat, root)
    }
    assert(out2.toString("UTF-8").contains("no state"), out2.toString("UTF-8"))
  }

  test("filtered knn auto-escalates nprobe: a selective filter whose " +
      "matches live outside the probed cells still fills k") {
    // r14 #3 (built r16): with a fixed nprobe, a ~1%-selective filter
    // under-fills k whenever its matches sit in unprobed cells; the
    // probe set now doubles in ranked-centroid order (scanning only
    // the NEW cells each round, bounded by nlist) until k candidates
    // match or every cell is probed.
    val root = Files.createTempDirectory("graft-cli-adapt").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-adapt", ".yaml")
    Files.write(yaml,
      """version: 1
        |name: adapt_test
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: title
        |      type: !text
        |    - name: emb
        |      type: !number
        |        type: f64
        |      array: true
        |""".stripMargin.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)
    // ~200 docs near the +x direction, 2 "rare" docs in the OPPOSITE
    // direction — the query's nearest cell holds only common docs, so
    // nProbe=1 scans zero filter matches without escalation
    def doc(t: String, v: Seq[Double]) =
      s"""{"title": "$t", "emb": [${v.mkString(", ")}]}"""
    val docs =
      (1 to 200).map(i => doc(s"common$i",
        Seq(1.0, 0.001 * (i % 13), 0.001 * (i % 7), 0.0))) ++
      Seq(doc("rare a", Seq(-1.0, 0.05, 0.0, 0.0)),
        doc("rare b", Seq(-0.9, 0.0, 0.05, 0.0)))
    val in = Files.createTempFile("adapt-docs", ".jsonl")
    Files.write(in, docs.mkString("\n").getBytes("UTF-8"))
    cli.Main.run(Array("index", "adapt_test", in.toString), spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    ann.train("adapt_test", "emb", cells = 8)
    val got = ann.knn("adapt_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      k = 2, nProbe = 1, rerank = 4, filter = Some("title:rare")).collect()
    assert(got.length == 2,
      s"escalation must fill k=2 from the far cells: ${got.mkString("; ")}")
    assert(got.forall(_.getString(1).contains("rare")),
      s"only filter matches serve: ${got.mkString("; ")}")
    // unfiltered at the same nprobe stays the plain single-probe path
    val plain = ann.knn("adapt_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      k = 2, nProbe = 1, rerank = 4).collect()
    assert(plain.length == 2 &&
      plain.forall(_.getString(1).contains("common")), plain.mkString("; "))
    // BATCH face escalates per-qid (r16 verdict #4): qx's nearest cell
    // holds zero rare docs (must escalate), qneg's nearest cell holds
    // them (stays single-pass) — both fill k in ONE batch call, and the
    // escalated qid agrees with the single-query face
    import spark.implicits._
    val bqs = Seq(
      ("qx", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      ("qneg", Seq(-1.0f, 0.0f, 0.0f, 0.0f))).toDF("qid", "qv")
    val b = ann.knnBatch("adapt_test", "emb", bqs, k = 2, nProbe = 1,
      rerank = 4, filter = Some("title:rare")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3)))
    val byQ = b.groupBy(_._1)
    assert(byQ.keySet == Set("qx", "qneg") &&
      byQ.values.forall(_.length == 2),
      s"batch escalation must fill k=2 per qid: ${b.mkString("; ")}")
    assert(b.forall(_._3.contains("rare")), b.mkString("; "))
    val singleX = ann.knn("adapt_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      k = 2, nProbe = 1, rerank = 4, filter = Some("title:rare"))
      .collect().map(_.getString(1)).toSeq
    assert(byQ("qx").sortBy(_._2).map(_._3).toSeq == singleX,
      "escalated batch face must agree with the single-query face")
  }

  test("train --calibrate + knn --target-recall: the persisted probe-recall " +
      "curve picks the smallest sufficient nprobe") {
    val root = Files.createTempDirectory("graft-cli-calib").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-calib", ".yaml")
    Files.write(yaml,
      """version: 1
        |name: calib_test
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: title
        |      type: !text
        |    - name: emb
        |      type: !number
        |        type: f64
        |      array: true
        |""".stripMargin.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)
    def doc(t: String, v: Seq[Double]) =
      s"""{"title": "$t", "emb": [${v.mkString(", ")}]}"""
    // four well-separated direction clusters so low nprobe measurably
    // under-recalls and the curve climbs toward 1.0
    val dirs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val docsAll = (0 until 80).map { i =>
      val d0 = dirs(i % 4)
      doc(s"d$i", d0.zipWithIndex.map { case (x, j) =>
        x + 0.01 * ((i + j) % 5) })
    }
    val in = Files.createTempFile("calib-docs", ".jsonl")
    Files.write(in, docsAll.mkString("\n").getBytes("UTF-8"))
    cli.Main.run(Array("index", "calib_test", in.toString), spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    // without a calibration curve, --target-recall fails LOUDLY
    ann.train("calib_test", "emb", cells = 8)
    val err = intercept[Exception] {
      ann.knn("calib_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f), 3,
        targetRecall = Some(0.9)).collect()
    }
    assert(err.getMessage.contains("train --calibrate"), err.getMessage)
    // calibrated retrain persists the curve in the model dir
    cli.Main.run(Array("train", "calib_test", "--field", "emb",
      "--cells", "8", "--calibrate"), spark, cat, root)
    val curve = ann.readCalib("calib_test", "emb").get
    assert(curve.map(_._1) == curve.map(_._1).sorted && curve.nonEmpty,
      s"ascending nprobe grid: $curve")
    // the fixture's 20 distinct vectors train 4 of the 8 requested cells
    // (k-means drops empty cells); the grid tops out at that nlist
    assert(curve.last._1 == 4, s"grid tops out at nlist: $curve")
    assert(curve.last._2 >= curve.head._2,
      s"recall must not decrease along the grid: $curve")
    assert(curve.last._2 == 1000000L,
      s"probing every cell recalls the exact top-5: $curve")
    // raw (unquantized) layout: the serve path IS the probe shape, so
    // both served columns coincide with the probe column
    assert(curve.forall(p => p._3 == p._2 && p._4 == p._2),
      s"raw layout: served must equal probe: $curve")
    // --target-recall 1.0 serves (at the full-probe setting or earlier)
    // and agrees with an explicit full-probe query
    val got = ann.knn("calib_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      3, targetRecall = Some(1.0)).collect().map(_.getString(1)).toSeq
    val full = ann.knn("calib_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      3, nProbe = 8).collect().map(_.getString(1)).toSeq
    assert(got == full, s"target-recall 1.0 must match full-probe:\n$got\n$full")
    // the CLI face takes --target-recall, and stats prints the curve
    val outT = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outT, true, "UTF-8")) {
      cli.Main.run(Array("knn", "calib_test", "--field", "emb",
        "--vector", "1.0,0.0,0.0,0.0", "--k", "2",
        "--target-recall", "0.8"), spark, cat, root)
      cli.Main.run(Array("stats", "calib_test", "--ann", "emb"),
        spark, cat, root)
    }
    val sT = outT.toString("UTF-8")
    assert(sT.linesIterator.count(_.contains("\t")) == 2, sT)
    assert(sT.contains("recall calibration") && sT.contains("np="), sT)
    // the r17-advice scope note: calibration truth is the train sample
    assert(sT.contains("calibrated on the train sample"), sT)
    // batch face shares the curve lookup: target 1.0 ≡ explicit full-probe
    import spark.implicits._
    val bq = Seq(("qa", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      ("qb", Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("qid", "qv")
    val bT = ann.knnBatch("calib_test", "emb", bq, k = 3,
      targetRecall = Some(1.0)).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3))).sortBy(x => (x._1, x._2))
    val bF = ann.knnBatch("calib_test", "emb", bq, k = 3, nProbe = 8)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3))).sortBy(x => (x._1, x._2))
    assert(bT.sameElements(bF), "batch target-recall 1.0 must match full-probe")
    cat.drop("calib_test")
  }

  test("--target-recall picks off the SERVED recall column, not probe " +
      "recall: the quantized shortlist's loss must raise the chosen " +
      "nprobe (r17 verdict #1)") {
    val root = Files.createTempDirectory("graft-cli-served").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-served", ".yaml")
    Files.write(yaml,
      """version: 1
        |name: served_cal
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: title
        |      type: !text
        |    - name: emb
        |      type: !number
        |        type: f64
        |      array: true
        |""".stripMargin.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)
    def doc(t: String, v: Seq[Double]) =
      s"""{"title": "$t", "emb": [${v.mkString(", ")}]}"""
    val dirs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val docsAll = (0 until 80).map { i =>
      val d0 = dirs(i % 4)
      doc(s"d$i", d0.zipWithIndex.map { case (x, j) =>
        x + 0.01 * ((i + j) % 5) })
    }
    val in = Files.createTempFile("served-docs", ".jsonl")
    Files.write(in, docsAll.mkString("\n").getBytes("UTF-8"))
    cli.Main.run(Array("index", "served_cal", in.toString), spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    // a QUANTIZED tier (residual pq), calibrated: the curve must carry
    // both arms, and the served arm — full ADC shortlist + rerank —
    // can only lose recall relative to the probe arm (same candidates,
    // a strict subset survives the shortlist cut)
    ann.train("served_cal", "emb", cells = 8, pq = 2, calibrate = true)
    val curve = ann.readCalib("served_cal", "emb").get
    assert(curve.forall { case (_, pr, sr, hi) =>
      sr <= pr && sr <= hi && hi <= pr && sr >= 0L && pr <= 1000000L },
      s"served <= served_hi <= probe expected: $curve")
    // the semantics gate: plant a curve where PROBE recall meets the
    // 0.95 target at nprobe=1 but SERVED recall does not until
    // nprobe=8 — exactly the r17 gap (--target-recall read the probe
    // number while the user experienced the served one). The lookup
    // must now pick 8.
    import spark.implicits._
    val modelDir = s"$root/indexes/served_cal/ann/emb/model/" +
      ann.modelOf("served_cal", "emb").get
    Seq((1, 990000L, 900000L), (8, 1000000L, 1000000L))
      .toDF("np", "recall_ppm", "served_ppm")
      .coalesce(1).write.mode("overwrite").parquet(s"$modelDir/calib")
    // a between-clusters query: its nearest single cell cannot hold
    // the full exact top-4, so nprobe=1 and nprobe=8 provably differ
    val qv = Array(0.72f, 0.70f, 0.0f, 0.0f)
    def docsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.getString(1)).toSeq
    val got = docsOf(ann.knn("served_cal", "emb", qv, 4,
      targetRecall = Some(0.95)))
    val full = docsOf(ann.knn("served_cal", "emb", qv, 4, nProbe = 8))
    val one = docsOf(ann.knn("served_cal", "emb", qv, 4, nProbe = 1))
    assert(one != full,
      "fixture sanity: a single probed cell must under-serve this query")
    assert(got == full,
      s"--target-recall 0.95 must pick nprobe=8 off the SERVED column:\n" +
        s"got $got\nfull $full\none $one")
    // and the SHORTLIST escalation path end-to-end: a curve where the
    // default budget never meets the target but the hi budget does at
    // nprobe=8 routes the query through rerankEff=256 and still serves
    Seq((1, 990000L, 900000L, 910000L), (8, 1000000L, 940000L, 1000000L))
      .toDF("np", "recall_ppm", "served_ppm", "served_hi_ppm")
      .coalesce(1).write.mode("overwrite").parquet(s"$modelDir/calib")
    val gotHi = docsOf(ann.knn("served_cal", "emb", qv, 4,
      targetRecall = Some(0.95)))
    assert(gotHi == full,
      s"hi-shortlist escalation at nprobe=8 must serve the full-probe " +
        s"result: $gotHi vs $full")
    cat.drop("served_cal")
  }

  test("pickSetting escalates the SHORTLIST before the probe count: " +
      "rerank rows are row fetches, nprobe rows are cell scans") {
    import graft.engine.AnnIndex.{pickSetting, CalibRerankHi}
    // (np, probe, served@default, served@hi)
    val curve = Seq(
      (1, 980000L, 900000L, 960000L),
      (2, 990000L, 930000L, 980000L),
      (4, 1000000L, 940000L, 990000L))
    // default budget meets 0.90 at np=1 — cheapest point, default rerank
    assert(pickSetting(curve, 900000L, 0) == (1, 0))
    // 0.95: np=1 default misses (0.90) but np=1 @hi reaches 0.96 —
    // escalate the shortlist at np=1, NOT the probe count to np=4
    assert(pickSetting(curve, 950000L, 0) == (1, CalibRerankHi))
    // 0.975: np=2 @hi (0.98) is the smallest sufficient point
    assert(pickSetting(curve, 975000L, 0) == (2, CalibRerankHi))
    // unreachable target: full-probe end, hi iff it still buys recall
    assert(pickSetting(curve, 999999L, 0) == (4, CalibRerankHi))
    val flat = curve.map { case (np, p, s, _) => (np, p, s, s) }
    assert(pickSetting(flat, 999999L, 0) == (4, 0),
      "hi buys nothing at the end of a flat curve — keep the default")
    // an explicit --rerank pins the budget and reads its own column
    assert(pickSetting(curve, 950000L, CalibRerankHi) ==
      (1, CalibRerankHi))
    // a budget in [64, hi) reads the default column — a lower bound
    // for it (served recall is monotone in the shortlist size)
    assert(pickSetting(curve, 930000L, 100) == (2, 100))
    // a budget BELOW the calibrated default (64) has no measuring
    // column — the default column would OVERSTATE it, so the combo is
    // refused loudly instead of silently under-serving the target
    val err = intercept[IllegalArgumentException] {
      pickSetting(curve, 950000L, 32)
    }
    assert(err.getMessage.contains("below the calibrated default"),
      err.getMessage)
  }

  test("merge --dedup tombstones the trained tier's surplus copies: knn " +
      "serves survivors with NO retrain; train --compact folds them away") {
    val root = Files.createTempDirectory("graft-cli-tomb").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-tomb", ".yaml")
    Files.write(yaml,
      """version: 1
        |name: tomb_test
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: title
        |      type: !text
        |    - name: emb
        |      type: !number
        |        type: f64
        |      array: true
        |""".stripMargin.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)
    def doc(t: String, v: Seq[Double]) =
      s"""{"title": "$t", "emb": [${v.mkString(", ")}]}"""
    // the same doc lands in BOTH splits (the at-least-once failure mode)
    val dup = doc("dup", Seq(1.0, 0.0, 0.0, 0.0))
    val in1 = Files.createTempFile("tomb1", ".jsonl")
    Files.write(in1, Seq(dup, doc("a", Seq(0.9, 0.1, 0.0, 0.0)),
      doc("b", Seq(0.0, 1.0, 0.0, 0.0))).mkString("\n").getBytes("UTF-8"))
    cli.Main.run(Array("index", "tomb_test", in1.toString), spark, cat, root)
    val in2 = Files.createTempFile("tomb2", ".jsonl")
    Files.write(in2, Seq(dup, doc("c", Seq(0.0, 0.0, 1.0, 0.0)))
      .mkString("\n").getBytes("UTF-8"))
    cli.Main.run(Array("index", "tomb_test", in2.toString), spark, cat, root)
    val ann = new graft.engine.AnnIndex(spark, cat)
    ann.train("tomb_test", "emb", cells = 2)
    val model0 = ann.modelOf("tomb_test", "emb")
    // pre-merge: the layout holds both copies, and both occupy slots
    val pre = ann.knn("tomb_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      k = 10, nProbe = 2).collect().map(_.getString(1))
    assert(pre.count(_.contains("\"title\":\"dup\"")) == 2,
      s"fixture sanity — duplicate copies both serve pre-merge: ${pre.mkString("; ")}")
    cli.Main.run(Array("merge", "tomb_test", "--dedup"), spark, cat, root)
    assert(ann.modelOf("tomb_test", "emb") == model0,
      "dedup-sync must NOT retrain (same model dir)")
    assert(ann.tombOf("tomb_test", "emb").isDefined,
      "a tombstone set is published")
    // the operator sees the tombstone state without reading META by hand
    val outS = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outS, true, "UTF-8")) {
      cli.Main.run(Array("stats", "tomb_test", "--ann", "emb"), spark, cat, root)
    }
    assert(outS.toString("UTF-8").contains("1 tombstoned row(s)"),
      s"stats --ann surfaces the tombstone count:\n${outS.toString("UTF-8")}")
    val post = ann.knn("tomb_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      k = 10, nProbe = 2).collect().map(_.getString(1))
    assert(post.count(_.contains("\"title\":\"dup\"")) == 1,
      s"the surviving copy serves exactly once: ${post.mkString("; ")}")
    assert(post.length == 4, s"all four distinct docs serve: ${post.length}")
    // coverage swapped to the produced split: a refresh after new data
    // succeeds instead of failing to a full retrain
    val in3 = Files.createTempFile("tomb3", ".jsonl")
    Files.write(in3, doc("d", Seq(0.5, 0.5, 0.0, 0.0)).getBytes("UTF-8"))
    cli.Main.run(Array("index", "tomb_test", in3.toString), spark, cat, root)
    val (ns, nv) = ann.refresh("tomb_test", "emb")
    assert(ns == 1 && nv == 1L, s"post-dedup refresh covers the new split: $ns/$nv")
    // the maintenance triad in ONE stats read (r16 verdict #6): drift
    // reading, census-bounded skew, tombstone share — asserted on a
    // fixture that is both drifted (the refreshed doc points off-axis
    // from the trained corpus) and tombstoned
    val outS2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outS2, true, "UTF-8")) {
      cli.Main.run(Array("stats", "tomb_test", "--ann", "emb"), spark, cat, root)
    }
    val s2 = outS2.toString("UTF-8")
    assert(s2.contains("ppm below the post-train fit"),
      s"stats --ann surfaces the drift reading after a refresh:\n$s2")
    assert(s2.contains("skew top-cell") && s2.contains("occupied"),
      s"stats --ann surfaces the census skew row:\n$s2")
    assert(s2.contains("tombstoned row(s) of") && s2.contains("%"),
      s"stats --ann surfaces the tombstone share:\n$s2")
    // the fold turns the logical deletes physical and clears tomb=
    ann.compactEpochs("tomb_test", "emb")
    assert(ann.tombOf("tomb_test", "emb").isEmpty, "compact folds tombstones away")
    val folded = ann.knn("tomb_test", "emb", Array(1.0f, 0.0f, 0.0f, 0.0f),
      k = 10, nProbe = 2).collect().map(_.getString(1))
    assert(folded.count(_.contains("\"title\":\"dup\"")) == 1 &&
      folded.length == 5, s"folded layout serves 5 docs once each: ${folded.mkString("; ")}")
  }

  test("train + knn: vector serving over an embedding field, brute and IVF agree") {
    val root = Files.createTempDirectory("graft-cli-knn").toString
    val cat = new Catalog(root)
    val yaml = Files.createTempFile("cli-knn", ".yaml")
    Files.write(yaml,
      """version: 1
        |name: vec_test
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: title
        |      type: !text
        |    - name: emb
        |      type: !number
        |        type: f64
        |      array: true
        |""".stripMargin.getBytes("UTF-8"))
    cli.Main.run(Array("create", yaml.toString), spark, cat, root)

    // two clearly separated directions in 4-dim space, 4 docs each
    def doc(t: String, v: Seq[Double]) =
      s"""{"title": "$t", "emb": [${v.mkString(", ")}]}"""
    val docs = Seq(
      doc("x1", Seq(1.0, 0.02, 0.0, 0.0)), doc("x2", Seq(0.9, 0.05, 0.0, 0.0)),
      doc("x3", Seq(1.0, 0.0, 0.03, 0.0)), doc("x4", Seq(0.95, 0.01, 0.01, 0.0)),
      doc("y1", Seq(0.0, 0.02, 1.0, 0.0)), doc("y2", Seq(0.0, 0.0, 0.9, 0.05)),
      doc("y3", Seq(0.03, 0.0, 1.0, 0.02)), doc("y4", Seq(0.0, 0.01, 0.95, 0.01)))
    val in = Files.createTempFile("knn-docs", ".jsonl")
    Files.write(in, docs.mkString("\n").getBytes("UTF-8"))
    cli.Main.run(Array("index", "vec_test", in.toString), spark, cat, root)

    val ann = new graft.engine.AnnIndex(spark, cat)
    // brute tier: nearest to the x direction is x1 (identical), score ~1
    val brute = ann.knn("vec_test", "emb", Array(1.0f, 0.02f, 0.0f, 0.0f), 3)
      .collect()
    assert(brute.length == 3)
    assert(brute.head.getString(1).contains("\"title\":\"x1\""), brute.head)
    assert(brute.head.getDouble(0) > 0.9999, brute.head)
    assert(brute.map(_.getString(1)).forall(_.contains("\"x")),
      s"x-direction query must rank x docs first: ${brute.mkString("; ")}")

    // train 2 cells (spill=2: every vector lives in BOTH cells) and
    // probe one cell — same neighbors, and the spill copies must
    // dedupe instead of occupying multiple top-k slots
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      cli.Main.run(Array("train", "vec_test", "--field", "emb",
        "--cells", "2", "--spill", "2"), spark, cat, root)
      cli.Main.run(Array("knn", "vec_test", "--field", "emb",
        "--vector", "1.0,0.02,0.0,0.0", "--k", "3", "--nprobe", "1"),
        spark, cat, root)
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("trained 2 cell(s) over 8 vector(s)"), printed)
    val hits = printed.linesIterator.filter(_.contains("\t")).toList
    assert(hits.length == 3, printed)
    assert(hits.head.contains("\"title\":\"x1\""), printed)
    assert(hits.forall(_.contains("\"x")), printed)
    assert(hits.map(_.replaceAll("^[0-9.]+\\t", "")).distinct.length == 3,
      s"spill copies must dedupe out of the top-k:\n$printed")

    // a doc ingested after training is brute-visible but the IVF tier
    // flags the snapshot staleness
    val in2 = Files.createTempFile("knn-docs2", ".jsonl")
    Files.write(in2, doc("x5", Seq(1.0, 0.02, 0.001, 0.0)).getBytes("UTF-8"))
    cli.Main.run(Array("index", "vec_test", in2.toString), spark, cat, root)
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      cli.Main.run(Array("knn", "vec_test", "--field", "emb",
        "--vector", "1.0,0.02,0.001,0.0", "--k", "1", "--nprobe", "1"),
        spark, cat, root)
    }
    assert(out2.toString("UTF-8").contains("train --refresh"), out2.toString("UTF-8"))
    val fresh = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.001f, 0.0f), 1).collect()
    assert(fresh.head.getString(1).contains("\"title\":\"x5\""),
      s"brute tier serves the fresh doc: ${fresh.mkString}")

    // train --refresh assigns ONLY the new split with the existing
    // centroids and appends it — the IVF tier then serves x5 with no
    // staleness note
    val out3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out3, true, "UTF-8")) {
      cli.Main.run(Array("train", "vec_test", "--field", "emb", "--refresh"),
        spark, cat, root)
      cli.Main.run(Array("knn", "vec_test", "--field", "emb",
        "--vector", "1.0,0.02,0.001,0.0", "--k", "1", "--nprobe", "1"),
        spark, cat, root)
    }
    val printed3 = out3.toString("UTF-8")
    assert(printed3.contains("refreshed: 1 new split(s), 1 vector(s) appended"),
      printed3)
    assert(!printed3.contains("note:"), s"staleness note must clear:\n$printed3")
    assert(printed3.linesIterator.exists(l =>
      l.contains("\t") && l.contains("\"title\":\"x5\"")),
      s"IVF tier must serve the refreshed doc:\n$printed3")

    // stats --ann prints the trained datasheet, fresh after the refresh
    val out4 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out4, true, "UTF-8")) {
      cli.Main.run(Array("stats", "vec_test", "--ann", "emb"),
        spark, cat, root)
    }
    val printed4 = out4.toString("UTF-8")
    assert(printed4.contains("ann 'emb': 2 cell(s), spill=2"), printed4)
    assert(printed4.contains("(fresh)"), printed4)
    // 8 spill=2 rows (16) + 1 refreshed spill=2 row (2) = 18
    assert(printed4.contains("18 row(s)"), printed4)

    // a LOSSLESS merge compacts the covered splits away — the lineage
    // recorded atomically with the swap lets refresh TRANSLATE its
    // coverage through it (consumed ids out, produced id in) and keep
    // serving, instead of forcing a corpus-scale retrain
    cli.Main.run(Array("merge", "vec_test"), spark, cat, root)
    val (trSplits, trVecs) = ann.refresh("vec_test", "emb")
    assert(trSplits == 0 && trVecs == 0L,
      s"translation-only refresh appends nothing: ($trSplits, $trVecs)")
    val postMerge = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), 9, nProbe = 2).collect()
    assert(postMerge.length == 9,
      s"all 9 docs stay served post-merge: got ${postMerge.length}")
    assert(postMerge.map(_.getString(1)).distinct.length == 9,
      s"each doc exactly once post-merge:\n${postMerge.mkString("\n")}")

    // refresh APPENDS normally after the translation — new docs keep
    // flowing into the translated coverage
    val in3 = Files.createTempFile("knn-docs3", ".jsonl")
    Files.write(in3, doc("x6", Seq(0.98, 0.03, 0.002, 0.0)).getBytes("UTF-8"))
    cli.Main.run(Array("index", "vec_test", in3.toString), spark, cat, root)
    val (nr, nv) = ann.refresh("vec_test", "emb")
    assert(nr == 1 && nv == 1L, s"post-translation append: ($nr, $nv)")
    val postAppend = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), 10, nProbe = 2).collect()
    assert(postAppend.length == 10 &&
      postAppend.map(_.getString(1)).distinct.length == 10,
      s"10 docs exactly once after translate+append:\n${postAppend.mkString("\n")}")

    // a doc-DROPPING merge (--dedup) records no lineage — refresh must
    // still refuse loudly: the dropped duplicates sit in data/ and a
    // translated claim of exactly-once coverage would over-serve them
    cli.Main.run(Array("index", "vec_test", in.toString), spark, cat, root)
    cli.Main.run(Array("merge", "vec_test", "--dedup"), spark, cat, root)
    val err = intercept[Exception] { ann.refresh("vec_test", "emb") }
    assert(err.getMessage.contains("re-run a full train"), err.getMessage)

    // PQ tier: retrain with a 2-subspace code column; the ADC candidate
    // cut + exact rerank must agree with the brute tier's top result
    cli.Main.run(Array("train", "vec_test", "--field", "emb",
      "--cells", "2", "--pq", "2"), spark, cat, root)
    // r17: train --pq writes RESIDUAL codes (IVFADC proper) and records
    // the serve-time dispatch flag in the same META publish
    assert(ann.pqResOf("vec_test", "emb"),
      "train --pq must publish pqres=1 (residual codes)")
    val pqHits = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.001f, 0.0f), 3, nProbe = 1).collect()
    assert(pqHits.length == 3, pqHits.mkString("; "))
    assert(pqHits.head.getString(1).contains("\"title\":\"x5\""),
      s"PQ + rerank must surface the exact-match doc first: ${pqHits.head}")
    assert(pqHits.forall(_.getString(1).contains("\"x")),
      s"x-direction query must rank x docs: ${pqHits.mkString("; ")}")

    // the IVF tier's scan is PARTITION-pruned on the cell filter — the
    // scale contract: a query touches nprobe/k of the data files, not a
    // row filter over all of them
    val ivfPlan = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), 3, nProbe = 1)
      .queryExecution.executedPlan.toString
    assert(ivfPlan.contains("PartitionFilters") && ivfPlan.contains("__cell"),
      s"cell filter must prune partitions at the scan:\n$ivfPlan")

    // epoch compaction — the vector tier's vacuum: two refresh epochs on
    // top of a spill=2 train, folded into one directory tree with the
    // same centroids; every doc still served exactly once, and a later
    // refresh appends above the new base
    cli.Main.run(Array("train", "vec_test", "--field", "emb",
      "--cells", "2", "--spill", "2", "--pq", "2"), spark, cat, root)
    // a (re)train is STAGED: it flips to a single fresh epoch (base =
    // epoch), advancing past every prior epoch rather than resetting
    val (b0, e0) = ann.epochSpan("vec_test", "emb")
    assert(b0 == e0, s"fresh train serves one staged epoch: ($b0, $e0)")
    for (t <- Seq("z1", "z2")) {
      val inz = Files.createTempFile(s"knn-$t", ".jsonl")
      Files.write(inz, doc(t, Seq(0.5, 0.5, 0.5, 0.0)).getBytes("UTF-8"))
      cli.Main.run(Array("index", "vec_test", inz.toString), spark, cat, root)
      ann.refresh("vec_test", "emb")
    }
    assert(ann.epochSpan("vec_test", "emb") == (b0, e0 + 2),
      s"two refresh epochs recorded: ${ann.epochSpan("vec_test", "emb")}")
    val preRows = ann.cellSizes("vec_test", "emb").map(_._2).sum
    val preServed = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), 12, nProbe = 2).collect()
      .map(_.getString(1)).toSet
    val outC = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outC, true, "UTF-8")) {
      cli.Main.run(Array("train", "vec_test", "--field", "emb", "--compact"),
        spark, cat, root)
    }
    assert(outC.toString("UTF-8").contains("compacted 3 epoch(s) into one"),
      outC.toString("UTF-8"))
    assert(ann.epochSpan("vec_test", "emb") == (e0 + 3, e0 + 3),
      s"folded span: ${ann.epochSpan("vec_test", "emb")}")
    // exactly one epoch directory tree remains on disk
    val dataDir = java.nio.file.Paths.get(root, "indexes", "vec_test",
      "ann", "emb", "data")
    val epochDirs = java.nio.file.Files.list(dataDir).iterator()
    val dirNames = scala.collection.mutable.ArrayBuffer.empty[String]
    while (epochDirs.hasNext) {
      val nme = epochDirs.next().getFileName.toString
      if (nme.startsWith("__epoch=")) dirNames += nme
    }
    assert(dirNames.sorted == Seq(s"__epoch=${e0 + 3}"),
      s"retired epoch dirs must be deleted: $dirNames")
    // residual layout shape (r17): a spilled row's copies encode against
    // THEIR OWN cells, so at least one boundary row must carry two
    // DISTINCT codes — the property the per-cell-LUT + min-over-copies
    // serve path exists for (identical codes per copy = the legacy raw
    // form this layout must not be)
    val copyCodes = spark.read.parquet(dataDir.toString)
      .where(org.apache.spark.sql.functions.col("__code").isNotNull)
      .groupBy(org.apache.spark.sql.functions.col("__rid"))
      .agg(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.col("__code"))).as("nc"))
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("nc")))
      .head().getLong(0)
    assert(copyCodes == 2,
      s"spill=2 residual copies must encode per-cell (distinct codes), got max $copyCodes")
    assert(ann.cellSizes("vec_test", "emb").map(_._2).sum == preRows,
      "row count (spill copies included) survives the fold")
    val postServed = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), 12, nProbe = 2).collect()
      .map(_.getString(1))
    assert(postServed.toSet == preServed && postServed.length == postServed.distinct.length,
      s"identical serving set, exactly once:\npre=$preServed\npost=${postServed.mkString(";")}")
    // refresh keeps working above the new base
    val in4 = Files.createTempFile("knn-z3", ".jsonl")
    Files.write(in4, doc("z3", Seq(0.4, 0.6, 0.4, 0.0)).getBytes("UTF-8"))
    cli.Main.run(Array("index", "vec_test", in4.toString), spark, cat, root)
    val (rs, rv) = ann.refresh("vec_test", "emb")
    assert(rs == 1 && rv == 1L, s"post-compact refresh: ($rs, $rv)")
    assert(ann.epochSpan("vec_test", "emb") == (e0 + 3, e0 + 4),
      s"append lands above the base: ${ann.epochSpan("vec_test", "emb")}")
    val withZ3 = ann.knn("vec_test", "emb",
      Array(0.4f, 0.6f, 0.4f, 0.0f), 1, nProbe = 2).collect()
    assert(withZ3.head.getString(1).contains("\"title\":\"z3\""),
      s"post-compact refresh must serve: ${withZ3.mkString}")

    // batch serving: a query RELATION answered in one pass over the
    // trained (spill=2, pq=2, compacted + refreshed) layout must agree
    // with the single-query tier, query by query
    import spark.implicits._
    val batchQs = Seq(
      ("qx", Seq(1.0f, 0.02f, 0.0f, 0.0f)),
      ("qy", Seq(0.0f, 0.02f, 1.0f, 0.0f)),
      ("qz", Seq(0.4f, 0.6f, 0.4f, 0.0f))).toDF("qid", "qv")
    val batch = ann.knnBatch("vec_test", "emb", batchQs, k = 3,
      nProbe = 2, rerank = 8).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1)
    for ((qid, v) <- Seq(
        "qx" -> Array(1.0f, 0.02f, 0.0f, 0.0f),
        "qy" -> Array(0.0f, 0.02f, 1.0f, 0.0f),
        "qz" -> Array(0.4f, 0.6f, 0.4f, 0.0f))) {
      val single = ann.knn("vec_test", "emb", v, 3, nProbe = 2, rerank = 8)
        .collect().map(_.getString(1)).toSeq
      val got = batch(qid).sortBy(_._2).map(_._3).toSeq
      assert(got == single,
        s"batch must agree with single-query for $qid:\nbatch=$got\nsingle=$single")
    }
    // the CLI face: JSONL queries file, one TSV line per (qid, rank)
    val qf = Files.createTempFile("knn-queries", ".jsonl")
    Files.write(qf,
      """{"qid": "a", "vector": [1.0, 0.02, 0.0, 0.0]}
        |{"qid": "b", "vector": [0.0, 0.02, 1.0, 0.0]}""".stripMargin
        .getBytes("UTF-8"))
    val outB = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outB, true, "UTF-8")) {
      cli.Main.run(Array("knn", "vec_test", "--field", "emb",
        "--queries-file", qf.toString, "--k", "2", "--nprobe", "2"),
        spark, cat, root)
    }
    val batchLines = outB.toString("UTF-8").linesIterator
      .filter(_.contains("\t")).toList
    assert(batchLines.length == 4, s"2 queries x k=2:\n${outB.toString("UTF-8")}")
    assert(batchLines.count(_.startsWith("a\t1\t")) == 1 &&
      batchLines.count(_.startsWith("b\t1\t")) == 1, batchLines.mkString("\n"))

    // SQ8 serving tier: retrain with the int8 code column; the integer
    // dot-product candidate cut + exact rerank must agree with the brute
    // tier, the code column must survive a refresh (frozen quantizer),
    // and batch serving must agree with single-query
    val outS = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outS, true, "UTF-8")) {
      cli.Main.run(Array("train", "vec_test", "--field", "emb",
        "--cells", "2", "--spill", "2", "--sq8"), spark, cat, root)
      cli.Main.run(Array("stats", "vec_test", "--ann", "emb"),
        spark, cat, root)
    }
    assert(outS.toString("UTF-8").contains("sq8"),
      s"stats --ann must surface the sq8 tier:\n${outS.toString("UTF-8")}")
    val sqHits = ann.knn("vec_test", "emb",
      Array(1.0f, 0.02f, 0.001f, 0.0f), 3, nProbe = 1, rerank = 4).collect()
    assert(sqHits.length == 3, sqHits.mkString("; "))
    assert(sqHits.head.getString(1).contains("\"title\":\"x5\""),
      s"sq8 cut + exact rerank must surface the exact-match doc: ${sqHits.head}")
    assert(sqHits.forall(_.getString(1).contains("\"x")),
      s"x-direction query must rank x docs: ${sqHits.mkString("; ")}")
    // the stored layout carries the __sq8 code column, and a refresh
    // encodes appended rows with the FROZEN train-time quantizer
    val in5 = Files.createTempFile("knn-x6", ".jsonl")
    Files.write(in5, doc("x6", Seq(0.97, 0.03, 0.002, 0.0)).getBytes("UTF-8"))
    cli.Main.run(Array("index", "vec_test", in5.toString), spark, cat, root)
    ann.refresh("vec_test", "emb")
    val sqData = spark.read.parquet(java.nio.file.Paths.get(root,
      "indexes", "vec_test", "ann", "emb", "data").toString)
    assert(sqData.columns.contains("__sq8"), sqData.columns.mkString(","))
    assert(sqData.where(org.apache.spark.sql.functions.col("__sq8").isNull)
      .count() == 0, "every stored row (trained + refreshed) carries a code")
    val sqFresh = ann.knn("vec_test", "emb",
      Array(0.97f, 0.03f, 0.002f, 0.0f), 1, nProbe = 1, rerank = 4).collect()
    assert(sqFresh.head.getString(1).contains("\"title\":\"x6\""),
      s"refreshed doc served through the sq8 tier: ${sqFresh.mkString}")
    // batch face agrees with single-query on the sq8 layout
    val sqBatch = ann.knnBatch("vec_test", "emb", batchQs, k = 3,
      nProbe = 2, rerank = 8).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1)
    for ((qid, v) <- Seq(
        "qx" -> Array(1.0f, 0.02f, 0.0f, 0.0f),
        "qz" -> Array(0.4f, 0.6f, 0.4f, 0.0f))) {
      val single = ann.knn("vec_test", "emb", v, 3, nProbe = 2, rerank = 8)
        .collect().map(_.getString(1)).toSeq
      val got = sqBatch(qid).sortBy(_._2).map(_._3).toSeq
      assert(got == single,
        s"sq8 batch must agree with single-query for $qid:\nbatch=$got\nsingle=$single")
    }
    // filtered vector search: a search-grammar metadata PRE-filter
    // composes with every tier — an x-direction query filtered to y
    // titles must surface only y docs (the best cosine among the
    // matches), in brute, trained (sq8 shortlist), and batch form
    val fBrute = ann.knn("vec_test", "emb", Array(1.0f, 0.02f, 0.0f, 0.0f),
      3, filter = Some("title:y*")).collect()
    assert(fBrute.nonEmpty && fBrute.forall(_.getString(1).contains("\"y")),
      s"brute + filter must serve only matching docs: ${fBrute.mkString("; ")}")
    val fIvf = ann.knn("vec_test", "emb", Array(1.0f, 0.02f, 0.0f, 0.0f),
      3, nProbe = 2, rerank = 8, filter = Some("title:y*")).collect()
    assert(fIvf.nonEmpty && fIvf.forall(_.getString(1).contains("\"y")),
      s"trained + filter must pre-filter candidates: ${fIvf.mkString("; ")}")
    val fBatch = ann.knnBatch("vec_test", "emb", batchQs, k = 3,
      nProbe = 2, rerank = 8, filter = Some("title:y*")).collect()
    assert(fBatch.nonEmpty && fBatch.forall(_.getString(3).contains("\"y")),
      s"batch + filter: ${fBatch.mkString("; ")}")
    // the CLI face takes --filter
    val outF = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outF, true, "UTF-8")) {
      cli.Main.run(Array("knn", "vec_test", "--field", "emb",
        "--vector", "1.0,0.02,0.0,0.0", "--k", "2", "--nprobe", "2",
        "--filter", "title:y*"), spark, cat, root)
    }
    val fLines = outF.toString("UTF-8").linesIterator
      .filter(_.contains("\t")).toList
    assert(fLines.length == 2 && fLines.forall(_.contains("\"y")),
      outF.toString("UTF-8"))

    // hybrid retrieval: each arm's rank-1 doc (vector: x1-nearest = x1;
    // text: the BM25 match for title:y1 = y1) must BOTH surface in the
    // fused top-2 — the RRF composition neither arm produces alone
    val hybrid = ann.knnHybrid("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), "title:y1", k = 2, nProbe = 2,
      rerank = 8)
    assert(hybrid.length == 2, hybrid.mkString("; "))
    val hybridDocs = hybrid.map(_._2)
    assert(hybridDocs.exists(_.contains("\"title\":\"y1\"")) &&
      hybridDocs.exists(_.contains("\"title\":\"x1\"")),
      s"both arms' top docs fuse into the top-2: ${hybrid.mkString("; ")}")
    // a doc ranked by BOTH arms outranks single-arm docs
    val hybridSame = ann.knnHybrid("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), "title:x1", k = 1, nProbe = 2,
      rerank = 8)
    assert(hybridSame.head._2.contains("\"title\":\"x1\""),
      s"double-armed doc wins: ${hybridSame.mkString("; ")}")
    // --filter applies to BOTH hybrid arms: a text query whose BM25 hit
    // (x1) fails the filter must not leak through the text arm — every
    // fused result is a filter match (the r14-advice fix)
    val hybridF = ann.knnHybrid("vec_test", "emb",
      Array(1.0f, 0.02f, 0.0f, 0.0f), "title:x1", k = 3, nProbe = 2,
      rerank = 8, filter = Some("title:y*"))
    assert(hybridF.nonEmpty && hybridF.forall(_._2.contains("\"title\":\"y")),
      s"filter must gate the text arm too: ${hybridF.mkString("; ")}")
    val outH = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outH, true, "UTF-8")) {
      cli.Main.run(Array("knn", "vec_test", "--field", "emb",
        "--vector", "1.0,0.02,0.0,0.0", "--k", "2", "--nprobe", "2",
        "--hybrid-text", "title:y1"), spark, cat, root)
    }
    assert(outH.toString("UTF-8").contains("\"title\":\"y1\""),
      outH.toString("UTF-8"))

    // the two code tiers are alternatives, not a stack
    val errT = intercept[Exception] {
      ann.train("vec_test", "emb", cells = 2, pq = 2, sq8 = true)
    }
    assert(errT.getMessage.contains("pick one"), errT.getMessage)
    cat.drop("vec_test")
  }
}
