package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exprs.{IpCodec, PorterStemmer}
import graft.config.{IndexConfig, SchemaDerivation}

class IpCodecSpec extends AnyFunSuite {
  test("v4 parse maps into v6 and displays as dotted quad") {
    val b = IpCodec.parse("192.168.0.1").get
    assert(IpCodec.isV4Mapped(b))
    assert(IpCodec.format(b) == "192.168.0.1")
  }

  test("v6 parse round-trips via RFC5952 form") {
    for (s <- Seq("2001:db8::ff00:42:8329", "::1", "::", "1::", "fe80::1",
        "2001:db8:0:1:1:1:1:1")) {
      val b = IpCodec.parse(s).get
      assert(IpCodec.format(b) == s, s"round-trip of $s")
      // reparse of formatted form is stable
      assert(IpCodec.parse(IpCodec.format(b)).get.toSeq == b.toSeq)
    }
  }

  test("v6 with embedded v4 parses") {
    val b = IpCodec.parse("::ffff:127.0.0.1").get
    assert(IpCodec.isV4Mapped(b))
    assert(IpCodec.format(b) == "127.0.0.1")
  }

  test("invalid inputs rejected") {
    for (s <- Seq("", "1.2.3", "1.2.3.4.5", "256.1.1.1", "g::1", "1::2::3",
        "1:2:3:4:5:6:7:8:9", "hello"))
      assert(IpCodec.parse(s).isEmpty, s"should reject $s")
  }

  test("binary order equals numeric order (range query correctness)") {
    val ips = Seq("9.255.255.255", "10.0.0.0", "10.0.0.1", "192.168.0.1",
      "195.200.10.1", "::1", "2001:db8::1")
    val parsed = ips.map(s => IpCodec.parse(s).get)
    def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int =
      a.zip(b).collectFirst { case (x, y) if x != y => (x & 0xff) - (y & 0xff) }.getOrElse(0)
    // v4-mapped addresses sort among themselves in v4 numeric order
    val v4 = parsed.take(5)
    assert(v4.sliding(2).forall { case Seq(a, b) => unsignedCompare(a, b) < 0 })
  }

  test("properties: any parsed ip formats and reparses to same bytes") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val s = s"${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
      val bytes = IpCodec.parse(s).get
      assert(IpCodec.parse(IpCodec.format(bytes)).get.toSeq == bytes.toSeq)
      // random 16-byte v6 round-trip
      val raw = Array.fill[Byte](16)(rnd.nextInt(256).toByte)
      assert(IpCodec.parse(IpCodec.format(raw)).get.toSeq == raw.toSeq)
    }
  }
}

class PorterStemmerSpec extends AnyFunSuite {
  test("standard porter examples") {
    val cases = Map(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing", "conflated" -> "conflat",
      "troubled" -> "troubl", "sized" -> "size", "hopping" -> "hop",
      "tanned" -> "tan", "falling" -> "fall", "hissing" -> "hiss",
      "fizzed" -> "fizz", "failing" -> "fail", "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky", "relational" -> "relat",
      "conditional" -> "condit", "rational" -> "ration",
      "valenci" -> "valenc", "hesitanci" -> "hesit", "digitizer" -> "digit",
      "conformabli" -> "conform", "radicalli" -> "radic",
      "differentli" -> "differ", "vileli" -> "vile", "analogousli" -> "analog",
      "vietnamization" -> "vietnam", "predication" -> "predic",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "callousness" -> "callous", "formaliti" -> "formal",
      "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form", "formalize" -> "formal",
      "electriciti" -> "electr", "electrical" -> "electr", "hopeful" -> "hope",
      "goodness" -> "good", "revival" -> "reviv", "allowance" -> "allow",
      "inference" -> "infer", "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens", "irritant" -> "irrit",
      "replacement" -> "replac", "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "homologou" -> "homolog", "communism" -> "commun",
      "activate" -> "activ", "angulariti" -> "angular", "homologous" -> "homolog",
      "effective" -> "effect", "bowdlerize" -> "bowdler",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll")
    cases.foreach { case (in, want) =>
      assert(PorterStemmer.stem(in) == want, s"stem($in)")
    }
  }
}

class IndexConfigSpec extends AnyFunSuite {
  val exampleYaml = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("/root/reference/example_config.yaml")))

  test("parses the reference example config (serde !tag syntax)") {
    val cfg = IndexConfig.fromYaml(exampleYaml)
    assert(cfg.name == "test")
    assert(cfg.schema.timeField.contains("timestamp"))
    assert(cfg.schema.fields.map(_.name) ==
      List("timestamp", "tenant_id", "resource", "attributes"))
    val ts = cfg.schema.fields.head.fieldType.asInstanceOf[graft.config.DateTimeField]
    assert(ts.formats == List("timestamp"))
    assert(ts.fastPrecision.contains("seconds"))
    val attrs = cfg.schema.fields.last.fieldType.asInstanceOf[graft.config.StaticObjectField]
    assert(attrs.fields.map(_.name) == List("class"))
  }

  test("derivation flattens static objects with escaped names") {
    val cfg = IndexConfig.fromYaml(exampleYaml)
    val d = new SchemaDerivation(cfg)
    assert(d.resolved.map(_.flatName) ==
      List("timestamp", "tenant_id", "resource", "attributes.class"))
    assert(d.defaultFieldNames.contains("attributes.class"))
    assert(d.defaultFieldNames.contains("_dynamic"))
    assert(d.storageSchema.fieldNames.toSeq ==
      Seq("timestamp", "tenant_id", "resource", "attributes", "_dynamic", "_terms"))
  }

  test("array of static_object rejected") {
    val bad =
      """name: x
        |path: /tmp/x
        |schema:
        |  fields:
        |    - name: a
        |      array: true
        |      type: !static_object
        |        fields:
        |          - name: b
        |            type: !text
        |""".stripMargin
    intercept[IllegalArgumentException](IndexConfig.fromYaml(bad))
  }

  test("splitFlatName honors escapes") {
    assert(SchemaDerivation.splitFlatName("a.b") == List("a", "b"))
    assert(SchemaDerivation.splitFlatName("a\\.b") == List("a.b"))
    assert(SchemaDerivation.splitFlatName("a\\.b.c") == List("a.b", "c"))
  }
}

class SigExprsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("lsh_sigs hashes malformed vectors to the all-zero signature") {
    import org.apache.spark.sql.functions._
    // the SQL form this expression replaced null-propagated any length
    // mismatch or null element into zero sign bits; a partial dot would
    // silently change bucket assignments
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |  (2L, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |  (3L, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |  (4L, CAST(NULL AS ARRAY<FLOAT>)) AS t(vid, v)""".stripMargin)
    val got = rows.select(col("vid"),
      graft.exprs.SigExprs.lsh_sigs(col("v"), planes = 8, tables = 2, dim = 4).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got(2L) == Seq(0L, 0L), "short vector -> zero sigs")
    assert(got(3L) == Seq(0L, 0L), "null element -> zero sigs")
    assert(got(4L) == null, "null vector -> null")
    assert(got(1L) != Seq(0L, 0L), "well-formed vector gets real sign bits")
  }

  test("phash16 is bit-identical to the HOF SQL form it replaced") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // real corpus + adversarial edges (len exactly 16, repeated chars,
    // non-ASCII multi-byte, supplementary plane)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .unionAll(Seq("abcdefghijklmnop", "aaaaaaaaaaaaaaaa",
        "héllo wörld çafé ünïcode strings ök", "a😀b😀c😀d😀e😀f😀g😀h😀i😀")
        .toDF("text"))
      .where(length(col("text")) >= 16)
    val both = docs
      .withColumn("len", length(col("text")))
      .withColumn("samples", expr(
        "transform(sequence(0, 15), i -> ascii(substring(text, 1 + (len * i) div 16, 1)))"))
      .withColumn("mean", expr("aggregate(samples, 0L, (a, x) -> a + x) div 16"))
      .withColumn("sql_form", expr(
        """aggregate(zip_with(samples, sequence(0, 15),
          |  (s, i) -> CASE WHEN s > mean THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END),
          |  0L, (a, x) -> a + x)""".stripMargin))
      .withColumn("tight", graft.exprs.PHash16.phash16(col("text")))
    assert(both.where(col("sql_form") =!= col("tight")).isEmpty)
  }

  test("winnow_fps equals the naive slide/min/distinct spec; run guarantee holds") {
    import org.apache.spark.sql.functions._
    import graft.exprs.SigExprs
    // independent restatement of the hash + winnowing definition
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def naive(toks: Seq[String], k: Int, w: Int): Option[Seq[Long]] = {
      val grams = toks.sliding(k).filter(_.size == k).map(_.mkString(" ")).toVector
      if (grams.size < w) None
      else Some(grams.map(h60).sliding(w).map(_.min).toVector.distinct.sorted)
    }
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("a", "b", "c", "dog", "e")
    val arrays = Vector.fill(120)(
      Vector.fill(rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size))))
    import spark.implicits._
    for ((k, w) <- Seq((1, 1), (2, 3), (5, 4))) {
      val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("id", "toks")
      val got = df.select(col("id"), SigExprs.winnow_fps(col("toks"), k, w))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap
      arrays.zipWithIndex.foreach { case (a, i) =>
        assert(got(i.toLong) == naive(a, k, w),
          s"k=$k w=$w toks=$a: got ${got(i.toLong)}, want ${naive(a, k, w)}")
      }
    }
    // the winnowing guarantee: a shared run of >= k+w-1 tokens forces a
    // shared fingerprint regardless of surrounding context
    val run = Vector.fill(8)(vocab(rnd.nextInt(vocab.size)))
    val docA = Vector("p", "q") ++ run ++ Vector("r")
    val docB = Vector("s") ++ run ++ Vector("t", "u", "v")
    val Some(fa) = naive(docA, 5, 4)
    val Some(fb) = naive(docB, 5, 4)
    assert(fa.toSet.intersect(fb.toSet).nonEmpty,
      s"shared 8-token run must share a fingerprint: $fa vs $fb")
  }

  test("new expressions have working SQL faces") {
    val r = spark.sql(
      """SELECT
        |  simhash_sig(array('a', 'b')) AS sh,
        |  lsh_sigs(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 2, 2) AS ls,
        |  rolling_token_hash(array('x', 'y'), 1000003L, 2147483647L) AS rh,
        |  count_in_set(array('a', 'b', 'a'), array('a')) AS cs,
        |  window_energy('abcd', 2) AS we,
        |  winnow_fps(array('a', 'b', 'a', 'b'), 2, 2) AS wf""".stripMargin).collect()(0)
    assert(!r.isNullAt(0) && r.getSeq[Long](1).length == 2)
    assert(!r.isNullAt(2) && r.getInt(3) == 2)
    assert(r.getSeq[Long](4).length == 2)
    assert(r.getSeq[Long](5).nonEmpty)
    // non-constant argument where a constructor param is required -> clear error
    val e = intercept[Exception](spark.sql(
      "SELECT count_in_set(array('a'), array(CAST(rand() AS STRING)))").collect())
    assert(e.getMessage.contains("constant"), e.getMessage)
  }
}

/** The round-5 search-hot-path expressions, each pinned bit-identical to
  * the HOF form it replaced (VERDICT r4 #1: the interpreted per-element
  * lambdas in BM25 tf and the prefix/fuzzy automaton predicates). */
class ArrayMatchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  import graft.exprs.ArrayMatch

  /** Token arrays with the adversarial shapes the search path sees:
    * nulls, empties, dup tokens, unicode, near-miss prefixes. */
  private def tokenRows = {
    import org.apache.spark.sql.functions._
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array('receiving', 'block', 'blk', 'receiving')),
        |  (2L, array('received', 'blocks')),
        |  (3L, array(CAST(NULL AS STRING), 'recv')),
        |  (4L, array()),
        |  (5L, CAST(NULL AS ARRAY<STRING>)),
        |  (6L, array('héllo', 'wörld', 'rec')) AS t(id, toks)""".stripMargin)
      .withColumn("toks", col("toks").cast("array<string>"))
  }

  test("count_token_eq matches size(filter(...)) on all edge shapes") {
    import org.apache.spark.sql.functions._
    val both = tokenRows
      .withColumn("hof", size(filter(col("toks"), x => x === "receiving")))
      .withColumn("tight", ArrayMatch.count_token_eq(col("toks"), "receiving"))
    // size(filter(null)) is -1 or null depending on legacy config; the
    // score path coalesces either to 0 — compare through that lens
    val rows = both.select(col("id"),
      coalesce(when(col("hof") >= 0, col("hof")), lit(0)),
      coalesce(col("tight"), lit(0))).collect()
    rows.foreach(r => assert(r.getInt(1) == r.getInt(2), s"id=${r.getLong(0)}"))
    assert(rows.find(_.getLong(0) == 1L).get.getInt(2) == 2, "multiplicity counts")
  }

  test("any_starts_with / any_contains / any_levenshtein_le match the exists forms") {
    import org.apache.spark.sql.functions._
    val checks = tokenRows
      .withColumn("p_hof", exists(col("toks"), t => t.startsWith("rec")))
      .withColumn("p_new", ArrayMatch.any_starts_with(col("toks"), "rec"))
      .withColumn("c_hof", exists(col("toks"), t => t.contains("lock")))
      .withColumn("c_new", ArrayMatch.any_contains(col("toks"), "lock"))
      .withColumn("f_hof", exists(col("toks"), t => levenshtein(t, lit("blocks")) <= 1))
      .withColumn("f_new", ArrayMatch.any_levenshtein_le(col("toks"), "blocks", 1))
    for (pair <- Seq(("p_hof", "p_new"), ("c_hof", "c_new"), ("f_hof", "f_new"))) {
      val diff = checks.where(
        coalesce(col(pair._1), lit(false)) =!= coalesce(col(pair._2), lit(false)))
      assert(diff.isEmpty, s"${pair._1} vs ${pair._2}: ${diff.collect().mkString}")
    }
    // null array stays null (not false) so MustNot negation semantics hold
    assert(checks.where(col("id") === 5L).select(col("p_new")).collect()(0).isNullAt(0))
  }

  test("any_in_range matches exists(arr, e => lo && hi) across types") {
    import org.apache.spark.sql.functions._
    val nums = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(1L, 5L, 9L)), (2L, array(10L, 20L)),
        |  (3L, array(CAST(NULL AS BIGINT), 7L)), (4L, CAST(NULL AS ARRAY<BIGINT>))
        |  AS t(id, xs)""".stripMargin)
    val both = nums
      .withColumn("hof", exists(col("xs"), e => e >= 5L && e < 10L))
      .withColumn("tight", ArrayMatch.any_in_range(col("xs"), lit(5L), lit(10L),
        Some(true), Some(false)))
    assert(both.where(coalesce(col("hof"), lit(false)) =!=
      coalesce(col("tight"), lit(false))).isEmpty)
    // unbounded lower side; exclusive upper on strings
    val strs = spark.sql(
      "SELECT array('alpha', 'beta') AS xs")
      .withColumn("t1", ArrayMatch.any_in_range(col("xs"), lit(null), lit("b"),
        None, Some(false)))
      .withColumn("t2", ArrayMatch.any_in_range(col("xs"), lit("c"), lit(null),
        Some(true), None))
      .collect()(0)
    assert(strs.getBoolean(1) && !strs.getBoolean(2))
  }

  test("phrase_freq counts tantivy phrase frequency; >0 equals the old slop predicate") {
    import org.apache.spark.sql.functions._
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array('the', 'quick', 'brown', 'fox', 'the', 'quick', 'brown')),
        |  (2L, array('quick', 'the', 'brown')),
        |  (3L, array('the', 'x', 'quick')),
        |  (4L, array('the')),
        |  (5L, CAST(NULL AS ARRAY<STRING>)) AS t(id, toks)""".stripMargin)
    val words = List("the", "quick")
    // exact adjacency: two occurrences in row 1, none in rows 2-4
    val freq = rows.select(col("id"),
      ArrayMatch.phrase_freq(col("toks"), words, 0)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(freq(1L) == 2 && freq(2L) == 0 && freq(3L) == 0 && freq(4L) == 0)
    assert(freq(5L) == null)
    // slop=1 window: row 3 ('the', _, 'quick') matches once, and row 2's
    // transposed ('quick', 'the') also matches — both decisions identical
    // to the slice/exists HOF form (each word independently windowed, so a
    // transposition fits at slop 1; Lucene would need slop 2)
    val slop1 = rows.select(col("id"),
      ArrayMatch.phrase_freq(col("toks"), words, 1)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(slop1(3L) == 1 && slop1(2L) == 1 && slop1(4L) == 0)

    // occurrence dedupe (the round-5 ADVICE medium): one physical
    // occurrence is ONE match even when several slop-shifted starts see
    // it. ('x','the','quick') with slop 1 satisfied starts 0 AND 1 in the
    // undeduped count (word 0 is windowed too), inflating sloppy-phrase
    // BM25 tf; tantivy's phrase_count counts it once.
    val dedupe = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array('x', 'the', 'quick')),
        |  (2L, array('x', 'x', 'the', 'quick')),
        |  (3L, array('the', 'quick', 'pad', 'the', 'quick')),
        |  (4L, array('the', 'the', 'quick')) AS t(id, toks)""".stripMargin)
    def freqs(slop: Int): Map[Long, Int] = dedupe.select(col("id"),
      ArrayMatch.phrase_freq(col("toks"), words, slop)).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s1 = freqs(1)
    assert(s1(1L) == 1, s"single sloppy occurrence counts once, got ${s1(1L)}")
    assert(freqs(2)(2L) == 1, "wider slop still counts one occurrence")
    assert(s1(3L) == 2, "two real occurrences keep counting as two")
    assert(s1(4L) == 2, "distinct word-0 anchors are distinct matches")
    // the predicate face stops at the first occurrence, same decisions
    val any = dedupe.select(col("id"),
      ArrayMatch.phrase_any(col("toks"), words, 1)).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(any.values.forall(identity))
    assert(!rows.where(col("id") === 4L).select(
      ArrayMatch.phrase_any(col("toks"), words, 1)).collect()(0).getBoolean(0))
  }

  test("search-hot-path SQL faces work") {
    val r = spark.sql(
      """SELECT
        |  count_token_eq(array('a', 'b', 'a'), 'a') AS c,
        |  any_starts_with(array('abc'), 'ab') AS p,
        |  any_contains(array('abc'), 'bc') AS s,
        |  any_levenshtein_le(array('abc'), 'abd', 1) AS f,
        |  phrase_freq(array('a', 'b', 'a', 'b'), array('a', 'b'), 0) AS ph
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) == 2 && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) == 2)
  }

  test("tokenizer SQL faces: bpe_encode and unigram_encode with constant models") {
    val r = spark.sql(
      """SELECT
        |  bpe_encode('lower', array('l o', 'lo w', 'e r')) AS bpe,
        |  unigram_encode('abc', array('a', 'b', 'c', 'ab', 'bc'),
        |                 array(10L, 12L, 14L, 16L, 20L), 4) AS uni
        |""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) == Seq("low", "er"), r.getSeq[String](0))
    // 'ab'+'c' = 30 ties 'a'+'bc' = 30; lexicographic piece-string order
    // ("ab|c" < "a|bc" since 'b' < '|') picks the ab-first split
    assert(r.getSeq[String](1) == Seq("ab", "c"), r.getSeq[String](1))
    // non-constant model argument must fail at analysis, not at runtime
    val e = intercept[Exception](spark.sql(
      "SELECT unigram_encode('a', array(CAST(rand() AS STRING)), array(1L), 4)").collect())
    assert(e.getMessage.contains("constant"), e.getMessage)
    // byte_remap composes with bpe_encode into byte-level BPE in pure SQL
    val b = spark.sql(
      """SELECT byte_remap(' café') AS br,
        |  bpe_encode(byte_remap(' low'), array('Ġ l', 'o w', 'Ġl ow')) AS bl
        |""".stripMargin).collect()(0)
    assert(b.getString(0) == "ĠcafÃ©", b.getString(0))
    assert(b.getSeq[String](1) == Seq("Ġlow"), b.getSeq[String](1))
  }
  test("WordPiece: longest-match encode, UNK semantics, replay parity, SQL face") {
    val r = spark.sql(
      """SELECT
        |  wordpiece_encode('unable',
        |    array('un', '##able', 'u', 'n', '##a', '##b', '##l', '##e')) AS a,
        |  wordpiece_encode('able', array('un', '##able', 'able')) AS b,
        |  wordpiece_encode('unfit', array('un', '##able', 'u', 'n')) AS c,
        |  wordpiece_encode(repeat('a', 101), array('a', '##a')) AS d
        |""".stripMargin).collect()(0)
    // longest match beats char-by-char
    assert(r.getSeq[String](0) == Seq("un", "##able"), r.getSeq[String](0))
    assert(r.getSeq[String](1) == Seq("able"))
    // '##f' absent: the WHOLE word becomes [UNK], not a partial encode
    assert(r.getSeq[String](2) == Seq("[UNK]"))
    // max_input_chars_per_word guard
    assert(r.getSeq[String](3) == Seq("[UNK]"))
    // training replay: rank-greedy with ##-stripping merges
    import graft.exprs.exprs.{toColumn, toExpr}
    import org.apache.spark.sql.functions.lit
    val syms = spark.range(1).select(
      toColumn(graft.exprs.WordPieceSyms(toExpr(lit("hello")),
        Seq("h ##e", "##l ##l", "he ##ll"))).as("s"),
      toColumn(graft.exprs.WordPieceSyms(toExpr(lit("baaaa")),
        Seq("##a ##a"))).as("p")).collect()(0)
    assert(syms.getSeq[String](0) == Seq("hell", "##o"), syms.getSeq[String](0))
    // parity rule: in a run of overlapping occurrences the 1st, 3rd merge
    assert(syms.getSeq[String](1) == Seq("b", "##aa", "##aa"), syms.getSeq[String](1))
  }
}

/** [[graft.exprs.NearestCells]] — the broadcast-fed IVF assignment. The
  * contract it must reproduce bit-for-bit is the window form's
  * `(cosine desc_nulls_last, cid asc)` selection, with invalid scores
  * pinned to −2.0 (strictly below any real cosine). */
class NearestCellsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def cellsOf(v: Seq[Double],
      cents: Seq[(Long, Seq[Float])], take: Int): Seq[Long] = {
    import org.apache.spark.sql.functions._
    val bc = spark.sparkContext.broadcast(
      cents.map { case (c, cv) => (c, cv.toArray) }.toArray)
    val df = spark.range(1).select(
      graft.exprs.NearestCells.nearest_cells(
        typedLit(v), bc, take).as("cells"))
    val r = df.collect()(0)
    if (r.isNullAt(0)) null else r.getSeq[Long](0)
  }

  private val axes = Seq(
    1L -> Seq(1f, 0f, 0f),
    2L -> Seq(0f, 1f, 0f),
    3L -> Seq(0f, 0f, 1f))

  test("argmax and top-k order: cosine desc, cid asc ties") {
    assert(cellsOf(Seq(1.0, 0.1, 0.0), axes, 1) == Seq(1L))
    assert(cellsOf(Seq(1.0, 0.1, 0.0), axes, 2) == Seq(1L, 2L))
    // exact tie between cells 1 and 2 — lower cid wins
    assert(cellsOf(Seq(1.0, 1.0, 0.0), axes, 1) == Seq(1L))
    assert(cellsOf(Seq(1.0, 1.0, 0.0), axes, 3) == Seq(1L, 2L, 3L))
  }

  test("take > cells truncates; zero vector lands in the lowest cids") {
    assert(cellsOf(Seq(0.0, 1.0, 0.0), axes, 9) == Seq(2L, 1L, 3L))
    // all cosines invalid (zero denominator) -> sentinel tie -> cid asc
    assert(cellsOf(Seq(0.0, 0.0, 0.0), axes, 2) == Seq(1L, 2L))
  }

  test("zero CENTROID sorts below every real score") {
    val withZero = axes :+ (0L -> Seq(0f, 0f, 0f))
    assert(cellsOf(Seq(1.0, 0.2, 0.1), withZero, 4) == Seq(1L, 2L, 3L, 0L))
  }

  test("null vector yields null (callers pre-filter or coalesce)") {
    import org.apache.spark.sql.functions._
    val bc = spark.sparkContext.broadcast(
      axes.map { case (c, cv) => (c, cv.toArray) }.toArray)
    val r = spark.range(1).select(
      graft.exprs.NearestCells.nearest_cells(
        lit(null).cast("array<float>"), bc, 1).as("cells")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("agrees with the window form on random-ish vectors") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // md5-derived deterministic vectors, incl. short/long length skew
    val vecs = spark.range(64).select(col("id").as("vid"), expr(
      """transform(sequence(0, 7), d -> CAST(
        |  CAST(conv(substr(md5(concat(CAST(id AS STRING), ':', CAST(d AS STRING))), 1, 6), 16, 10) AS DOUBLE)
        |  / 16777216.0 - 0.5 AS FLOAT))""".stripMargin).as("v"))
    val cents = spark.range(7).select((col("id") + 1).as("cid"), expr(
      """transform(sequence(0, 7), d -> CAST(
        |  CAST(conv(substr(md5(concat('c', CAST(id AS STRING), ':', CAST(d AS STRING))), 1, 6), 16, 10) AS DOUBLE)
        |  / 16777216.0 - 0.5 AS FLOAT))""".stripMargin).as("cv"))
    val win = vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", graft.exprs.CosineSimilarity
        .cosine_similarity(col("v"), col("cv")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vid")).orderBy(col("ccos").desc, col("cid").asc)))
      .where(col("crn") <= 2)
      .select(col("vid"), col("crn"), col("cid"))
    val centArr = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(centArr)
    val ex = vecs.select(col("vid"), posexplode(
        graft.exprs.NearestCells.nearest_cells(col("v"), bc, 2)))
      .select(col("vid"), (col("pos") + 1).as("crn"), col("col").as("cid"))
    assert(win.exceptAll(ex).count() == 0 && ex.exceptAll(win).count() == 0,
      "expression and window selections must be identical")
  }
}
