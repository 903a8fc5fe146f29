package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Catalog, Indexer, Searcher}
import graft.query.{QueryParser, TimeBounds}

/** Time-based split pruning (SURVEY §1.1's "cheap, high-value addition"):
  * the manifest records each split's time_field min/max; a time-ranged
  * query must skip non-overlapping splits entirely while returning the
  * same results.
  */
class SplitPruningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val config =
    """version: 1
      |name: prune_test
      |path: /tmp/unused
      |schema:
      |  time_field: ts
      |  fields:
      |    - name: ts
      |      type: !datetime
      |        formats: [rfc3339, timestamp]
      |    - name: msg
      |      type: !text
      |""".stripMargin

  private def write(doc: String): String = {
    val f = Files.createTempFile("doc", ".json")
    Files.write(f, doc.getBytes("UTF-8"))
    f.toString
  }

  test("manifest stamps split time ranges; ranged query prunes splits") {
    val root = Files.createTempDirectory("graft-prune").toString
    val cat = new Catalog(root)
    cat.create(config)
    val idx = new Indexer(spark, cat)
    // split A: January 2020; split B: January 2024
    idx.indexFile("prune_test", write(
      """{"ts": "2020-01-10T00:00:00Z", "msg": "old alpha"}
        |{"ts": "2020-01-20T00:00:00Z", "msg": "old beta"}""".stripMargin))
    idx.indexFile("prune_test", write(
      """{"ts": "2024-01-10T00:00:00Z", "msg": "new alpha"}
        |{"ts": "2024-01-20T00:00:00Z", "msg": "new beta"}""".stripMargin))

    val splits = cat.liveSplits("prune_test")
    assert(splits.length == 2)
    assert(splits.forall(s => s.minTs.isDefined && s.maxTs.isDefined))

    val search = new Searcher(spark, cat)
    val cfg = cat.load("prune_test")
    val d = new graft.config.SchemaDerivation(cfg)

    def pathsFor(q: String): List[String] =
      search.prunedSplitPaths("prune_test", cfg, d, QueryParser.parse(q))

    // ranged query touching only 2024 prunes the 2020 split
    val ranged = "ts:[2024-01-01T00:00:00Z TO 2024-12-31T00:00:00Z]"
    assert(pathsFor(ranged).length == 1)
    assert(pathsFor("msg:alpha").length == 2) // no time bound -> no pruning
    assert(pathsFor("ts:>2030-01-01T00:00:00Z").isEmpty)

    // pruned search returns identical results to the unpruned semantics
    val got = search.search("prune_test", s"$ranged AND msg:alpha", 10)
    assert(got == Seq("""{"msg":"new alpha","ts":"2024-01-10T00:00:00Z"}"""))
    // and an all-splits query still sees everything
    assert(search.search("prune_test", "msg:alpha", 10).length == 2)

    // --explain face (r17): the operator's no-scan selectivity view goes
    // through the SAME prune path — 1 of 2 splits survives the ranged
    // query, and the CLI prints the scan/prune split ids
    val (live, surv) = search.explainPrune("prune_test", ranged)
    assert(live.length == 2 && surv.length == 1,
      s"explain must mirror the prune: $live vs $surv")
    val outE = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outE, true, "UTF-8")) {
      graft.cli.Main.run(Array("search", "prune_test", ranged, "--explain"),
        spark, cat, root)
    }
    val sE = outE.toString("UTF-8")
    assert(sE.contains("2 live, 1 scanned (1 pruned)") &&
      sE.contains("scan ") && sE.contains("prune "), sE)
    // the scanned split's recorded files, read from the manifest
    val scanned = cat.liveSplits("prune_test").filter(s => surv.contains(s.id))
    assert(sE.contains(s"files: ${scanned.head.files.length} in scanned " +
      s"splits, ${scanned.head.files.map(_._2).sum} bytes, 0 splits " +
      "without a recorded list"), sE)
  }

  private val zoneConfig =
    """version: 1
      |name: zone_test
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: tenant_id
      |      type: !number
      |        type: i64
      |    - name: severity
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: msg
      |      type: !text
      |""".stripMargin

  test("numeric zone maps and raw-field dictionaries prune splits") {
    val root = Files.createTempDirectory("graft-zone").toString
    val cat = new Catalog(root)
    cat.create(zoneConfig)
    val idx = new Indexer(spark, cat)
    // split A: tenants 1-20, INFO/WARN; split B: tenants 80-99, ERROR
    idx.indexFile("zone_test", write(
      """{"tenant_id": 1, "severity": "INFO", "msg": "alpha start"}
        |{"tenant_id": 20, "severity": "WARN", "msg": "beta start"}""".stripMargin))
    idx.indexFile("zone_test", write(
      """{"tenant_id": 80, "severity": "ERROR", "msg": "alpha crash"}
        |{"tenant_id": 99, "severity": "ERROR", "msg": "beta crash"}""".stripMargin))

    val splits = cat.liveSplits("zone_test")
    assert(splits.length == 2)
    // the manifest round-trips the stats
    assert(splits.forall(_.numStats.contains("tenant_id")))
    assert(splits.forall(_.dicts.get("severity").exists(_.nonEmpty)))
    val a = splits.find(_.numStats("tenant_id")._2 < 50).get
    assert(a.dicts("severity").sorted == List("INFO", "WARN"))

    val search = new Searcher(spark, cat)
    val cfg = cat.load("zone_test")
    val d = new graft.config.SchemaDerivation(cfg)
    def pathsFor(q: String): List[String] =
      search.prunedSplitPaths("zone_test", cfg, d, QueryParser.parse(q))

    // numeric bounds prune
    assert(pathsFor("tenant_id:>50").length == 1)
    assert(pathsFor("tenant_id:[5 TO 10]").length == 1)
    assert(pathsFor("tenant_id:200").isEmpty)
    assert(pathsFor("tenant_id:>0").length == 2)
    // dictionary prune: ERROR only lives in split B
    assert(pathsFor("severity:ERROR").length == 1)
    assert(pathsFor("severity:INFO OR severity:WARN").length == 1)
    assert(pathsFor("severity:FATAL").isEmpty)
    // prefix CNF vs complete dictionaries
    assert(pathsFor("severity:ERR*").length == 1)
    assert(pathsFor("severity:I*").length == 1)
    assert(pathsFor("severity:X*").isEmpty)
    // two Must prefixes CONJOIN per value (CNF) — a set intersection
    // would empty out and wrongly prune the ERROR split too
    assert(pathsFor("+severity:E* +severity:ER*").length == 1)
    // ...and conjunction applies per VALUE: no single severity starts
    // with both E and W, so a {INFO,WARN} or {ERROR} split can't match
    assert(pathsFor("+severity:E* +severity:W*").isEmpty)
    assert(pathsFor("+msg:alpha severity:ERR*").length == 2,
      "optional prefix next to a Must is scoring-only")
    assert(search.search("zone_test", "severity:ERR* AND msg:beta", 10) ==
      Seq("""{"msg":"beta crash","severity":"ERROR","tenant_id":99}"""))
    // OR with an unconstrained arm cannot prune
    assert(pathsFor("severity:ERROR OR msg:alpha").length == 2)
    // NOT never prunes (conservative)
    assert(pathsFor("NOT severity:ERROR").length == 2)
    // default-field term does not constrain a specific field
    assert(pathsFor("alpha").length == 2)
    // when a Must clause exists, a Should term is scoring-only (tantivy
    // semantics): `+msg:alpha severity:ERROR` matches ALL alpha docs, so
    // the optional severity term must NOT prune split A (INFO/WARN only)
    assert(pathsFor("+msg:alpha severity:ERROR").length == 2)
    assert(pathsFor("+tenant_id:>0 severity:ERROR").length == 2)
    // same guard for numeric shoulds next to an unrelated must
    assert(pathsFor("+severity:ERROR tenant_id:5").length == 1,
      "must on the dict field still prunes")
    assert(search.search("zone_test", "+msg:alpha severity:ERROR", 10).length == 2,
      "optional severity term must not drop the INFO alpha doc")

    // results stay correct through pruning
    assert(search.search("zone_test", "tenant_id:>50 AND msg:alpha", 10) ==
      Seq("""{"msg":"alpha crash","severity":"ERROR","tenant_id":80}"""))
    assert(search.search("zone_test", "severity:ERROR AND msg:beta", 10) ==
      Seq("""{"msg":"beta crash","severity":"ERROR","tenant_id":99}"""))
    assert(search.search("zone_test", "msg:alpha", 10).length == 2)
  }

  test("ip hex zone maps prune splits; v4/v6 share one ordered domain") {
    val root = Files.createTempDirectory("graft-ipzone").toString
    val cat = new Catalog(root)
    cat.create(
      """version: 1
        |name: ip_zone
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: addr
        |      type: !ip
        |    - name: msg
        |      type: !text
        |""".stripMargin)
    val idx = new Indexer(spark, cat)
    // split A: low v4 space; split B: high v4 + a v6 address
    idx.indexFile("ip_zone", write(
      """{"addr": "10.0.0.1", "msg": "low one"}
        |{"addr": "10.0.5.9", "msg": "low two"}""".stripMargin))
    idx.indexFile("ip_zone", write(
      """{"addr": "192.168.0.1", "msg": "high one"}
        |{"addr": "2001:db8::1", "msg": "high two"}""".stripMargin))

    val splits = cat.liveSplits("ip_zone")
    assert(splits.length == 2 && splits.forall(_.hexStats.contains("addr")))

    val search = new Searcher(spark, cat)
    val cfg = cat.load("ip_zone")
    val d = new graft.config.SchemaDerivation(cfg)
    def pathsFor(q: String): List[String] =
      search.prunedSplitPaths("ip_zone", cfg, d, QueryParser.parse(q))

    assert(pathsFor("addr:[10.0.0.0 TO 10.255.255.255]").length == 1)
    assert(pathsFor("addr:192.168.0.1").length == 1)
    assert(pathsFor("addr:[8.0.0.0 TO 9.0.0.0]").isEmpty)
    // v6 range spanning only split B's v6 address
    assert(pathsFor("addr:[2001:db8:: TO 2001:db8::ff]").length == 1)
    // unparsable literal -> no pruning
    assert(pathsFor("addr:notanip").length == 2)

    // results stay correct through pruning
    assert(search.search("ip_zone", "addr:[10.0.0.0 TO 10.0.0.255] AND msg:low", 10) ==
      Seq("""{"addr":"10.0.0.1","msg":"low one"}"""))
    cat.drop("ip_zone")
  }

  private val digestConfig =
    """version: 1
      |name: digest_test
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: msg
      |      type: !text
      |    - name: body
      |      type: !text
      |        indexed:
      |          tokenizer: en_stem
      |""".stripMargin

  test("per-split term digests prune tokenized term queries") {
    val root = Files.createTempDirectory("graft-digest").toString
    val cat = new Catalog(root)
    cat.create(digestConfig)
    val idx = new Indexer(spark, cat)
    // split A and split B share "alpha"; each has a unique token, a unique
    // stemmable body word, and a unique dynamic value
    idx.indexFile("digest_test", write(
      """{"msg": "alpha uniqueatoken", "body": "runners running", "extra": {"k": "dynuniquea"}}
        |{"msg": "alpha second doc", "body": "walked", "extra": {"k": "other"}}""".stripMargin))
    idx.indexFile("digest_test", write(
      """{"msg": "alpha uniquebtoken", "body": "jumping", "extra": {"k": "dynuniqueb"}}
        |{"msg": "alpha fourth doc", "body": "jumped", "extra": {"k": "other"}}""".stripMargin))

    val splits = cat.liveSplits("digest_test")
    assert(splits.length == 2)
    // the manifest round-trips the sidecar hash; the sidecar parses
    assert(splits.forall(_.digest.isDefined))
    assert(splits.forall(s => cat.loadDigests("digest_test", s)
      .exists(ds => ds.contains("msg") && ds.contains("body") &&
        ds.contains(graft.config.SchemaDerivation.Dynamic))))

    val search = new Searcher(spark, cat)
    val cfg = cat.load("digest_test")
    val d = new graft.config.SchemaDerivation(cfg)
    def pathsFor(q: String): List[String] =
      search.prunedSplitPaths("digest_test", cfg, d, QueryParser.parse(q))

    // fielded term on a tokenized field prunes to the one split holding it
    assert(pathsFor("msg:uniquebtoken").length == 1)
    assert(pathsFor("msg:alpha").length == 2)
    assert(pathsFor("msg:neverseen").isEmpty)
    // bare term: default fields + catch-all all reject split A
    assert(pathsFor("uniquebtoken").length == 1)
    // en_stem: query token stems to the ingest token ("running" -> "run")
    assert(pathsFor("body:running").length == 1)
    assert(pathsFor("body:runs").length == 1, "stem unifies runs/running")
    // dynamic path term prunes via the catch-all digest
    assert(pathsFor("extra.k:dynuniqueb").length == 1)
    assert(pathsFor("dynuniquea").length == 1)
    // phrase: every word required
    assert(pathsFor("msg:\"alpha uniqueatoken\"").length == 1)
    // boolean composition: AND prunes, OR of two uniques keeps both,
    // OR with an unprunable arm keeps everything
    assert(pathsFor("msg:alpha AND msg:uniquebtoken").length == 1)
    assert(pathsFor("msg:uniqueatoken OR msg:uniquebtoken").length == 2)
    assert(pathsFor("msg:uniquebtoken OR uniq*").length == 2)
    // should next to a must is scoring-only (tantivy semantics)
    assert(pathsFor("+msg:alpha msg:uniquebtoken").length == 2)
    // NOT and fuzzy never prune
    assert(pathsFor("NOT msg:uniquebtoken").length == 2)
    assert(pathsFor("msg:uniquebtoken~1").length == 2)
    // prefix-marker pruning on TOKENIZED fields (the round-4/5 carry-over:
    // Bloom answered exact membership only, so `msg:uniqueb*` opened every
    // split): selective prefixes open one split, short needles (<3) never
    // prune, en_stem prefixes match against STEMMED stored tokens
    assert(pathsFor("msg:uniqueb*").length == 1)
    assert(pathsFor("msg:uniquea*").length == 1)
    assert(pathsFor("msg:unique*").length == 2, "shared prefix keeps both")
    assert(pathsFor("msg:zzx*").isEmpty, "absent prefix prunes everything")
    assert(pathsFor("msg:al*").length == 2, "needle under 3 chars never prunes")
    assert(pathsFor("msg:zz*").length == 2, "even an absent short needle keeps all")
    assert(pathsFor("body:runn*").length == 1, "runner stem keeps its prefixes")
    assert(pathsFor("body:jum*").length == 1)
    // dynamic-path prefixes prune via the catch-all markers; needles are
    // clamped to 8 chars, so dynuniquea/dynuniqueb (first divergence at
    // char 10) legitimately keep both splits, and an absent <=8 prefix
    // prunes everything
    assert(pathsFor("extra.k:dynuniqueb*").length == 2)
    assert(pathsFor("extra.k:dynzz*").isEmpty)
    assert(search.search("digest_test", "extra.k:dynuniqueb*", 10).length == 1,
      "clamped marker keeps both splits but the scan still filters exactly")
    // results stay correct through prefix pruning
    assert(search.search("digest_test", "msg:uniqueb*", 10).length == 1)
    assert(search.search("digest_test", "body:runn*", 10).length == 1)
    // IN-set: alternatives union
    assert(pathsFor("msg: IN [uniqueatoken uniquebtoken]").length == 2)
    assert(pathsFor("msg: IN [neverseen alsonever]").isEmpty)

    // results stay correct through pruning
    assert(search.search("digest_test", "msg:uniquebtoken", 10).length == 1)
    assert(search.search("digest_test", "body:running AND msg:alpha", 10).length == 1)
    assert(search.search("digest_test", "extra.k:dynuniquea", 10).length == 1)
    assert(search.search("digest_test", "msg:alpha", 10).length == 4)
    cat.drop("digest_test")
  }

  test("a selective term over 12 monthly splits opens exactly one") {
    // the round-3 verdict's Done criterion for term digests, verbatim:
    // N monthly splits, a selective term query, ~1 file opened
    val root = Files.createTempDirectory("graft-monthly").toString
    val cat = new Catalog(root)
    cat.create(digestConfig.replace("digest_test", "monthly"))
    val idx = new Indexer(spark, cat)
    (1 to 12).foreach { m =>
      idx.indexFile("monthly", write(
        s"""{"msg": "common telemetry month$m marker$m", "body": "filler words"}
           |{"msg": "common payload month$m second", "body": "more filler"}""".stripMargin))
    }
    assert(cat.liveSplits("monthly").length == 12)

    val search = new Searcher(spark, cat)
    val cfg = cat.load("monthly")
    val d = new graft.config.SchemaDerivation(cfg)
    def pathsFor(q: String): List[String] =
      search.prunedSplitPaths("monthly", cfg, d, QueryParser.parse(q))

    assert(pathsFor("msg:marker7").length == 1, "selective term -> one split")
    assert(pathsFor("marker7").length == 1, "bare selective term too")
    assert(pathsFor("msg:common").length == 12, "common term -> all splits")
    assert(pathsFor("msg:marker7 AND msg:common").length == 1)
    assert(search.search("monthly", "msg:marker7", 10).length == 1)
    assert(search.search("monthly", "msg:common", 100).length == 24)
    // the round-4/5 prefix-pruning Done criterion, verbatim: a selective
    // PREFIX query over the 12 monthly splits opens ~1 file. month12's
    // token starts with "month1", so that needle legitimately keeps two.
    assert(pathsFor("msg:month7*").length == 1, "selective prefix -> one split")
    assert(pathsFor("msg:month1*").length == 4,
      "month1* also prefixes month10/11/12")
    assert(pathsFor("msg:month*").length == 12)
    assert(pathsFor("msg:nosuchpre*").isEmpty)
    assert(search.search("monthly", "msg:month7*", 10).length == 2)
    cat.drop("monthly")
  }

  test("create rejects unknown tokenizer names with the field named") {
    val cat = new Catalog(Files.createTempDirectory("graft-badtok").toString)
    val bad = intercept[IllegalArgumentException](cat.create(
      """version: 1
        |name: bad_tok
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: msg
        |      type: !text
        |        indexed:
        |          tokenizer: en-stem
        |""".stripMargin))
    assert(bad.getMessage.contains("msg") &&
      bad.getMessage.contains("en-stem"), bad.getMessage)
    assert(!cat.exists("bad_tok"), "failed create must leave nothing behind")
  }

  test("declared dynamic_object fields with a tokenizer digest and prune") {
    val root = Files.createTempDirectory("graft-dyndigest").toString
    val cat = new Catalog(root)
    cat.create(
      """version: 1
        |name: dyn_digest
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: msg
        |      type: !text
        |    - name: attrs
        |      type: !dynamic_object
        |        indexed:
        |          tokenizer: default
        |""".stripMargin)
    val idx = new Indexer(spark, cat)
    idx.indexFile("dyn_digest", write(
      """{"msg": "alpha", "attrs": {"service": "ingestsvc", "zone": "east"}}"""))
    idx.indexFile("dyn_digest", write(
      """{"msg": "alpha", "attrs": {"service": "querysvc", "zone": "west"}}"""))

    val search = new Searcher(spark, cat)
    val cfg = cat.load("dyn_digest")
    val d = new graft.config.SchemaDerivation(cfg)
    def pathsFor(q: String): List[String] =
      search.prunedSplitPaths("dyn_digest", cfg, d, QueryParser.parse(q))

    // the declared field's digest exists alongside msg + catch-all
    assert(cat.liveSplits("dyn_digest").forall(s =>
      cat.loadDigests("dyn_digest", s).exists(_.contains("attrs"))))
    // fielded term against the declared dyn field prunes
    assert(pathsFor("attrs:querysvc").length == 1)
    assert(pathsFor("attrs:ingestsvc").length == 1)
    assert(pathsFor("attrs:nosuchsvc").isEmpty)
    // bare term: attrs is a default field and no longer tops the clause
    assert(pathsFor("querysvc").length == 1)
    // results stay correct through pruning
    assert(search.search("dyn_digest", "attrs:querysvc", 10).length == 1)
    assert(search.search("dyn_digest", "attrs:east", 10).length == 1)
    cat.drop("dyn_digest")
  }

  test("digest pruning survives merge and JSON-escaped dynamic tokens") {
    val root = Files.createTempDirectory("graft-digest2").toString
    val cat = new Catalog(root)
    cat.create(digestConfig.replace("digest_test", "digest_m"))
    val idx = new Indexer(spark, cat)
    // dynamic string values containing JSON escapes: decoded tokens must
    // still be findable AND prunable (the catch-all terms tokenize the
    // canonical variant render with escape units neutralized). BEL is
    // the nasty case: a control char rendered as a 6-char \uXXXX unit
    // whose hex digits would otherwise glue onto the next token.
    val bell = "\\" + "u0007" // literal backslash-u-0007 in the JSON file
    idx.indexFile("digest_m", write(
      s"""{"msg": "alpha", "extra": {"k": "line1\\nescaped", "b": "a${bell}belltok"}}"""))
    idx.indexFile("digest_m", write(
      """{"msg": "beta mergedtoken", "extra": {"k": "plain"}}"""))

    val search = new Searcher(spark, cat)
    def paths(q: String): List[String] = {
      val cfg = cat.load("digest_m")
      search.prunedSplitPaths("digest_m", cfg,
        new graft.config.SchemaDerivation(cfg), QueryParser.parse(q))
    }
    // decoded-value tokens match and prune to the right split
    assert(search.search("digest_m", "extra.k:escaped", 10).length == 1)
    assert(paths("extra.k:escaped").length == 1)
    assert(search.search("digest_m", "extra.b:belltok", 10).length == 1,
      "token after a \\uXXXX escape must match")
    assert(paths("extra.b:belltok").length == 1,
      "and must not be pruned away by the digest")

    // merge rebuilds one split with a fresh digest covering both sides
    assert(idx.merge("digest_m").isDefined)
    val merged = cat.liveSplits("digest_m")
    assert(merged.length == 1 && merged.head.digest.isDefined)
    assert(paths("msg:mergedtoken").length == 1)
    assert(paths("msg:neverseen").isEmpty)
    assert(search.search("digest_m", "extra.k:escaped", 10).length == 1)
    assert(search.search("digest_m", "msg:mergedtoken", 10).length == 1)
    cat.drop("digest_m")
  }

  test("non-leaf dynamic-path terms agree with the digest on escaped values") {
    // Round-5 verdict's open wrong-answer path: a term query on a NON-LEAF
    // dynamic path used to tokenize the subtree's RAW rendered JSON, where
    // the two-char escape in "escx\nval2" glued into token [nval2] — the
    // scan matched obj:nval2 while the digest (built over neutralized
    // tokens [escx, val2]) proved nval2 absent, so the only matching split
    // could be pruned. Both sides now share one escape-neutralized
    // transform: pruned scan, unpruned scan, and digest must agree.
    val root = Files.createTempDirectory("graft-dynprune").toString
    val cat = new Catalog(root)
    cat.create(digestConfig.replace("digest_test", "dyn_prune"))
    val idx = new Indexer(spark, cat)
    val bell = "\\" + "u0007" // literal backslash-u0007 in the JSON file
    // split A: escaped values under non-leaf path obj; split B: decoys.
    // \n inside triple quotes is a LITERAL backslash-n — a JSON escape in
    // the input file, decoding to a newline inside the stored value.
    idx.indexFile("dyn_prune", write(
      s"""{"msg": "alpha", "obj": {"a": "escx\\nval2", "b": "q${bell}belltok2", "u": "café zug"}}"""))
    idx.indexFile("dyn_prune", write(
      """{"msg": "alpha", "obj": {"a": "plain other"}}"""))

    val search = new Searcher(spark, cat)
    val cfg = cat.load("dyn_prune")
    val d = new graft.config.SchemaDerivation(cfg)
    def paths(q: String): List[String] =
      search.prunedSplitPaths("dyn_prune", cfg, d, QueryParser.parse(q))
    // the unpruned ground truth: every live split scanned, same predicate
    val all = Catalog.readSplits(spark, d, cat.liveSplits("dyn_prune"),
      s => cat.splitDir("dyn_prune", s.id))
    def unpruned(q: String): Long = all.where(
      new graft.query.QueryCompiler(d).compileAst(QueryParser.parse(q))).count()

    for (q <- Seq("obj:val2", "obj:nval2", "obj:escx", "obj:belltok2",
        "obj:café", "obj:zug", "obj:plain", "obj:neverseen",
        "obj:\"escx val2\"", "obj.a:val2", "obj.a:nval2"))
      assert(search.countMatches("dyn_prune", q) == unpruned(q),
        s"pruned and unpruned scans must agree on $q")
    // decoded-token semantics: the glued artifact token matches nothing...
    assert(unpruned("obj:nval2") == 0, "glued escape token must not match")
    // ...and the real decoded tokens match and PRUNE to the one split
    assert(unpruned("obj:val2") == 1 && paths("obj:val2").length == 1)
    assert(unpruned("obj:belltok2") == 1 && paths("obj:belltok2").length == 1)
    assert(unpruned("obj:café") == 1, "non-ASCII token must survive rendering")
    assert(unpruned("obj:escx") == 1 && unpruned("obj.a:val2") == 1)
    assert(paths("obj:neverseen").isEmpty, "digest still prunes absent tokens")
    cat.drop("dyn_prune")
  }

  test("manifests from before zone maps still load; empty index searches clean") {
    val root = Files.createTempDirectory("graft-compat").toString
    val cat = new Catalog(root)
    cat.create(zoneConfig.replace("zone_test", "compat_test"))
    // searching a freshly created (zero-split) index returns nothing
    val search = new Searcher(spark, cat)
    assert(search.search("compat_test", "*", 10).isEmpty)
    assert(search.search("compat_test", "tenant_id:>0 AND msg:x", 10).isEmpty)

    // hand-write a round-1-format manifest entry (no stats/dicts/hexStats,
    // no format field => format-1 split: `_dynamic` stored as JSON text)
    // pointing at a split rewritten into the format-1 layout
    import org.apache.spark.sql.functions.{col, to_json}
    val idx = new Indexer(spark, cat)
    val committed = idx.indexFile("compat_test", write(
      """{"tenant_id": 7, "severity": "INFO", "msg": "legacy doc", "extra": {"k": "legacyval"}}""")).get
    val d = new graft.config.SchemaDerivation(cat.load("compat_test"))
    val v1Dir = cat.splitDir("compat_test", "legacy0")
    spark.read.schema(d.storageSchema)
      .parquet(cat.splitDir("compat_test", committed.id))
      .withColumn(graft.config.SchemaDerivation.Dynamic,
        to_json(col(graft.config.SchemaDerivation.Dynamic)))
      .write.parquet(v1Dir)
    val manifest = java.nio.file.Paths.get(root, "indexes", "compat_test", "manifest.json")
    Files.write(manifest,
      """{"splits":[{"id":"legacy0","numDocs":1}]}""".getBytes("UTF-8"))

    val legacy = cat.liveSplits("compat_test")
    assert(legacy == List(graft.engine.SplitInfo("legacy0", 1, format = 1)))
    // no stats -> nothing prunes; search reads the v1 layout, including a
    // dynamic-path term against the JSON-text `_dynamic`
    val expectedDoc =
      """{"extra":{"k":"legacyval"},"msg":"legacy doc","severity":"INFO","tenant_id":7}"""
    assert(search.search("compat_test", "tenant_id:>0 AND msg:legacy", 10) ==
      Seq(expectedDoc))
    assert(search.search("compat_test", "extra.k:legacyval", 10) == Seq(expectedDoc))

    // a current-format commit alongside the legacy entry: search spans
    // both representations in one query
    val fresh = idx.indexFile("compat_test", write(
      """{"tenant_id": 9, "severity": "WARN", "msg": "fresh doc", "extra": {"k": "freshval"}}""")).get
    assert(fresh.format == Catalog.SplitFormat)
    assert(search.search("compat_test", "extra.k:legacyval OR extra.k:freshval", 10).size == 2)

    // merging a v1 + v2 pair produces one current-format split with both docs
    val merged = idx.merge("compat_test").get
    assert(merged.format == Catalog.SplitFormat)
    assert(cat.liveSplits("compat_test").map(_.id) == List(merged.id))
    assert(search.search("compat_test", "extra.k:legacyval OR extra.k:freshval", 10).size == 2)
    cat.drop("compat_test")
  }

  test("concurrent commits from independent catalog instances never lose splits") {
    val root = Files.createTempDirectory("graft-race").toString
    new Catalog(root).create(zoneConfig.replace("zone_test", "race_test"))
    // two Catalog instances = JVM synchronized cannot serialize them; only
    // the manifest lock file does (same shape as two separate processes)
    val cats = Seq(new Catalog(root), new Catalog(root))
    val n = 24
    val threads = (0 until n).map { i =>
      val t = new Thread(() => cats(i % 2).commitSplit("race_test",
        graft.engine.SplitInfo(f"s$i%03d", i + 1L)))
      t.start(); t
    }
    threads.foreach(_.join(30000))
    val splits = cats.head.liveSplits("race_test")
    assert(splits.map(_.id).sorted == (0 until n).map(i => f"s$i%03d").toList,
      s"every concurrent commit must survive, got ${splits.map(_.id).sorted}")
    // the OS advisory lock is released (an uncontended take succeeds fast);
    // the lock FILE deliberately persists — deleting it would let a new
    // writer lock a fresh inode while an old holder locks the unlinked one
    cats.head.commitSplit("race_test", graft.engine.SplitInfo("final", 1L))
    assert(cats.head.liveSplits("race_test").length == n + 1)
    // generation counter: create wrote gen 1, then n + 1 commits — every
    // serialized write bumped it exactly once (the cache-invalidation handle)
    assert(cats.head.manifestGen("race_test") == n + 2L,
      s"gen=${cats.head.manifestGen("race_test")}")
  }

  /** One split per document, committed in one swap — the bulk-backfill
    * build shape: parallel writeSplit, one atomic swapSplits commit. */
  private def commitOneDocSplits(cat: Catalog, name: String,
      docs: Seq[String]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = new graft.config.SchemaDerivation(cat.load(name))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val splits = try Await.result(Future.sequence(docs.zipWithIndex.map {
      case (doc, i) => Future {
        val typed = d.ingest(Seq(doc).toDF("value"), col("value"))
        val id = f"$name-$i%05d"
        Indexer.writeSplit(spark, d, typed, cat.splitDir(name, id), id)
      }
    }), Duration(300, "seconds")) finally pool.shutdown()
    assert(cat.swapSplits(name, Nil, splits.toList))
  }

  test("a selective query opens O(matching splits) files at high split count") {
    // the serving pin behind tools/ProbeServe (measured there at 1,000
    // splits): a term/zone-selective query must OPEN only the splits the
    // manifest prune keeps — `df.inputFiles` is the executed scan's file
    // list, so this catches any regression where pruning is computed but
    // the scan still enumerates everything.
    val n = 24
    val root = Files.createTempDirectory("graft-serve").toString
    val cat = new Catalog(root)
    cat.create(
      """version: 1
        |name: serve_test
        |path: /tmp/unused
        |schema:
        |  fields:
        |    - name: tenant
        |      type: !text
        |        indexed:
        |          tokenizer: raw
        |    - name: n
        |      type: !number
        |        type: i64
        |    - name: msg
        |      type: !text
        |""".stripMargin)
    commitOneDocSplits(cat, "serve_test", (0 until n).map(i =>
      f"""{"tenant": "t$i%04d", "n": $i, "msg": "payload alpha uniqtoken$i"}"""))
    assert(cat.liveSplits("serve_test").length == n)

    val search = new Searcher(spark, cat)
    def opened(q: String): Int =
      search.searchDf("serve_test", graft.engine.SearchRequest(q, limit = 10))
        .inputFiles.length
    // dict prune: one tenant lives in one split
    assert(opened("tenant:t0007") == 1)
    assert(search.countMatches("serve_test", "tenant:t0007") == 1L)
    // numeric zone maps: a 5-wide range opens exactly 5 splits
    assert(opened("n:[10 TO 14]") == 5)
    assert(search.countMatches("serve_test", "n:[10 TO 14]") == 5L)
    // bloom term digests: a token unique to one doc opens ~1 split
    // (digests are probabilistic; allow a false positive but not a scan)
    assert(opened("msg:uniqtoken7") <= 2)
    assert(search.countMatches("serve_test", "msg:uniqtoken7") == 1L)
    // and the un-prunable query still sees everything (conservatism)
    assert(opened("*") == n)
    assert(search.countMatches("serve_test", "*") == n.toLong)
  }

  private val manyConfig =
    """version: 1
      |name: many_test
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: n
      |      type: !number
      |        type: i64
      |    - name: msg
      |      type: !text
      |""".stripMargin

  test("a broad search plans from the manifest's file lists: no listing job") {
    // past Spark's 32-path parallelPartitionDiscovery.threshold a
    // directory-based read lists the splits with a Spark job on every
    // request; the manifest-recorded file lists make planning job-free
    val n = 40
    val root = Files.createTempDirectory("graft-nolist").toString
    val cat = new Catalog(root)
    cat.create(manyConfig)
    commitOneDocSplits(cat, "many_test",
      (0 until n).map(i => s"""{"n": $i, "msg": "doc$i"}"""))
    val live = cat.liveSplits("many_test")
    assert(live.length == n && live.forall(_.files.nonEmpty),
      "every written split records its data files")
    assert(live.forall(_.files.forall { case (f, len) =>
      f.endsWith(".parquet") && len > 0 }),
      s"only data files are recorded: ${live.head.files}")

    val search = new Searcher(spark, cat)
    val sc = spark.sparkContext
    val group = "graft-nolist-build"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    val df = try {
      sc.setJobGroup(group, "build a match-all search")
      try search.searchDf("many_test", "*", 5)
      finally sc.clearJobGroup()
    } finally {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0,
      s"building a $n-split search must start no Spark job, saw ${jobs.get}")
    assert(df.collect().length == 5)
    assert(search.countMatches("many_test", "*") == n.toLong)

    // the manifest-built scan still pushes typed filters into parquet
    val ranged = search.searchDf("many_test", "n:[10 TO 14]", 10)
    val plan = ranged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(n,10)"),
      s"typed range must push down to the split scan:\n$plan")
    assert(ranged.collect().length == 5)
    cat.drop("many_test")
  }

  test("a missing recorded data file fails search loudly, never partially") {
    val root = Files.createTempDirectory("graft-missing").toString
    val cat = new Catalog(root)
    cat.create(config.replace("prune_test", "missing_test"))
    val idx = new Indexer(spark, cat)
    idx.indexFile("missing_test", write(
      """{"ts": "2020-01-10T00:00:00Z", "msg": "kept alpha"}"""))
    val lost = idx.indexFile("missing_test", write(
      """{"ts": "2024-01-10T00:00:00Z", "msg": "lost alpha"}""")).get
    val search = new Searcher(spark, cat)
    assert(search.countMatches("missing_test", "msg:alpha") == 2L)

    val (file, _) = lost.files.head
    Files.delete(java.nio.file.Paths.get(
      cat.splitDir("missing_test", lost.id), file))
    // a directory listing would silently skip the file and answer from the
    // other split; the manifest says the file exists, so the scan fails
    val e1 = intercept[Exception](search.search("missing_test", "msg:alpha", 10))
    assert(Iterator.iterate[Throwable](e1)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(file)), e1.toString)
    intercept[Exception](search.countMatches("missing_test", "msg:alpha"))
    cat.drop("missing_test")
  }

  test("a commit's stats and digest sidecar are byte-identical to the pinned build") {
    // Pins what one small batch commits: the `_digests.json` bytes (its
    // md5), the dictionaries, the zone maps and the time range, for raw,
    // tokenized, numeric, ip, declared dynamic and catch-all fields. Any
    // change to how the stats aggregates build or merge that moves a bit
    // of a digest fails here.
    val root = Files.createTempDirectory("graft-ident").toString
    val cat = new Catalog(root)
    cat.create(
      """version: 1
        |name: ident_test
        |path: /tmp/unused
        |schema:
        |  time_field: ts
        |  fields:
        |    - name: ts
        |      type: !datetime
        |        formats: [rfc3339]
        |    - name: severity
        |      type: !text
        |        indexed:
        |          tokenizer: raw
        |    - name: msg
        |      type: !text
        |    - name: latency
        |      type: !number
        |        type: f64
        |    - name: addr
        |      type: !ip
        |    - name: attrs
        |      type: !dynamic_object
        |        indexed:
        |          tokenizer: default
        |""".stripMargin)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val split = try {
      new Indexer(spark, cat).indexFile("ident_test", write(
        """{"ts": "2024-03-01T10:00:00Z", "severity": "INFO", "msg": "Receiver started on port 8080", "latency": 1.5, "addr": "10.0.0.1", "attrs": {"service": "ingest", "zone": "east"}, "host": "web-1"}
          |{"ts": "2024-03-01T10:05:30Z", "severity": "WARN", "msg": "slow response from backend", "latency": 250.25, "addr": "10.0.3.7", "attrs": {"service": "query"}, "user": "alice"}
          |{"ts": "2024-03-01T11:00:00.123456Z", "severity": "ERROR", "msg": "connection refused: café 語", "latency": -3, "addr": "2001:db8::1", "attrs": {"service": "ingest", "retry": 3}, "host": "web-2"}
          |{"ts": "2024-03-01T09:59:59Z", "severity": "INFO", "msg": "heartbeat ok", "latency": 0, "addr": "192.168.1.20"}
          |{"ts": "2024-03-02T00:00:00Z", "severity": "DEBUG", "msg": "Receiver stopped", "latency": 12.75, "addr": "10.0.0.2", "attrs": {"zone": "west"}, "tags": ["a", "b"]}""".stripMargin)).get
    } finally {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val sidecar = java.nio.file.Paths.get(cat.splitDir("ident_test", split.id),
      graft.engine.TermDigest.SidecarName)
    val md5 = graft.engine.TermDigest.md5HexBytes(Files.readAllBytes(sidecar))
    assert(split.numDocs == 5)
    assert(split.digest.contains(md5))
    assert(md5 == "c0488d4743c1aabd0ee207390a054e76")
    assert(split.dicts == Map("severity" -> List("DEBUG", "ERROR", "INFO", "WARN")))
    assert(split.numStats == Map("latency" -> (-3.0000000000000004, 250.25000000000003)))
    assert(split.hexStats == Map("addr" ->
      ("00000000000000000000FFFF0A000001", "20010DB8000000000000000000000001")))
    assert((split.minTs, split.maxTs) == (Some(1709287199000000L), Some(1709337600000000L)))
    // the stats rode the write as native aggregates: no encoder-backed
    // ScalaAggregator in the committing plan
    import scala.jdk.CollectionConverters._
    val observed = plans.asScala.toList.filter(_.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CollectMetrics]))
    assert(observed.nonEmpty, "no observed plan seen for the commit")
    val exprNames = observed.flatMap(_.analyzed.flatMap(_.expressions)
      .flatMap(_.collect { case e => e.getClass.getSimpleName })).toSet
    assert(Set("TokenBloom", "BoundedSet").subsetOf(exprNames) &&
      !exprNames.contains("ScalaAggregator"), exprNames)
    cat.drop("ident_test")
  }

  test("bound extraction composes through booleans") {
    val formats = Seq("rfc3339", "timestamp")
    def b(q: String) = TimeBounds.extract(QueryParser.parse(q), "ts", formats)
    val jan2024 = b("ts:[2024-01-01T00:00:00Z TO 2024-02-01T00:00:00Z]")
    assert(jan2024.lo.isDefined && jan2024.hi.isDefined)
    // must-conjunction intersects
    val conj = b("ts:>2024-01-01T00:00:00Z AND ts:<2024-02-01T00:00:00Z")
    assert(conj.lo.isDefined && conj.hi.isDefined && conj.lo.get < conj.hi.get)
    // disjunction with an unbounded arm is unbounded
    val disj = b("ts:>2024-01-01T00:00:00Z OR msg:x")
    assert(disj.lo.isEmpty && disj.hi.isEmpty)
    // epoch-seconds literal goes through magnitude inference
    val mag = b("ts:>1704067200")
    assert(mag.lo.contains(1704067200000001L))
  }
}
