package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Graft.table
import graft.engine.{Catalog, Indexer, Searcher}
import graft.exprs.ArrayMatch
import graft.functions.TextFunctions.{phraseMatch, tokenizeDefault}
import graft.ops.Retrieval

/** The reference's query-language surface (SURVEY §2.3) as gated queries
  * over the `documents` table, each with a DuckDB oracle expressing the
  * identical semantics — term match is *tokenized term* equality (the
  * inverted-index contract: `\bword\b`, not substring), ranges/sets/bools
  * compose the same way the tantivy grammar does.
  *
  * Plus two end-to-end engine roundtrips (`op_index_search`,
  * `op_merge_search`) that run the real create → index → (merge) → search
  * lifecycle inside the correctness gate: documents are serialized to
  * JSONL, ingested through the full parse/tokenize path into Parquet
  * splits, queried through the tantivy-syntax compiler, and the
  * stored-document JSON output is parsed back for comparison against SQL
  * over the original table — ingest must therefore be lossless and the
  * query compiler exact.
  */
object SearchQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) =
    table(s, dir, "documents").withColumn("toks", tokenizeDefault(col("text")))

  /** severity-style field term match: tokenized term equality. */
  val q_term_search: Q = (s, dir) =>
    docs(s, dir)
      .where(array_contains(col("toks"), "spark"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** boolean grammar: spark AND join NOT window, OR group. */
  val q_bool_search: Q = (s, dir) =>
    docs(s, dir)
      .where((array_contains(col("toks"), "spark") && array_contains(col("toks"), "join") &&
        !array_contains(col("toks"), "window")) || array_contains(col("toks"), "vector"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** mixed-bound range `n_chars:[200 TO 400}` + term. */
  val q_range_search: Q = (s, dir) =>
    docs(s, dir)
      .where(col("n_chars") >= 200 && col("n_chars") < 400 &&
        array_contains(col("toks"), "merge"))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** prefix query `wind*` over tokens. */
  val q_prefix_search: Q = (s, dir) =>
    docs(s, dir)
      .where(ArrayMatch.any_starts_with(col("toks"), "wind"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** phrase query `"key order"` — token adjacency. */
  val q_phrase_search: Q = (s, dir) =>
    docs(s, dir)
      .where(phraseMatch(col("toks"), List("key", "order")))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** IN set over a raw-tokenized field. */
  val q_in_set_search: Q = (s, dir) =>
    docs(s, dir)
      .where(col("lang").isin("en", "fr"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"))

  /** The top `k` documents of `d` (`doc_id`, `toks`) by BM25 over
    * `terms` ([[Retrieval]], the search verb's scoring), as (rank,
    * doc_id). Exact score ties (the same tf/dl profile) resolve by
    * doc_id; other scores differ by far more than double noise, so the
    * order is engine-exact. The corpus stats are one aggregate collected
    * to the driver, as the search verb gathers them. */
  private[queries] def bm25TopK(d: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    val toks = col("toks")
    val stats = d.agg(Retrieval.docCount, Retrieval.meanLength(toks) +:
      terms.map(Retrieval.docFreq(toks, _)): _*).collect()(0)
    val n = stats.getLong(0).toDouble
    val score = terms.zipWithIndex.map { case (t, i) =>
      Retrieval.termScore(ArrayMatch.count_token_eq(toks, t),
        Retrieval.idf(n, stats.getLong(i + 2).toDouble), Some(size(toks)),
        stats.getDouble(1))
    }.reduce(_ + _)
    d.withColumn("score", score)
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      // limit leaves its ≤ k rows in one partition, so a window keyed on
      // the partition id ranks them as an unpartitioned one would, without
      // WindowExec's warning (a literal key is optimized away)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(spark_partition_id())
          .orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"))
  }

  /** BM25 ranking for the two-term query `spark join`: the top 10 as
    * (rank, doc_id), score kept internal. */
  val q_search_bm25: Q = (s, dir) => bm25TopK(docs(s, dir), Seq("spark", "join"), 10)

  /** Regex query over the raw text (tantivy's RegexQuery analogue). The
    * pattern stays in the RE2-compatible subset so Java and DuckDB regex
    * semantics agree. Scale: a regex scan is embarrassingly parallel but
    * never index-accelerated — the ingest-time terms column handles the
    * common cases; this is the escape hatch. */
  val q_regex_search: Q = (s, dir) =>
    docs(s, dir)
      .where(lower(col("text")).rlike("spark\\s+(join|sql)"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** Fuzzy term query (tantivy FuzzyTermQuery analogue): documents with a
    * token within Levenshtein distance 1 of the (misspelled) query term.
    * Distance computes per pre-tokenized term — the inverted-index
    * contract — not per character window of the raw text. */
  val q_fuzzy_search: Q = (s, dir) =>
    docs(s, dir)
      .where(ArrayMatch.any_levenshtein_le(col("toks"), "spork", 1))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  // ---- engine lifecycle roundtrips --------------------------------------

  private[graft] val docsIndexConfig =
    """version: 1
      |name: %s
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: doc_id
      |      type: !number
      |        type: i64
      |    - name: text
      |      type: !text
      |    - name: lang
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: source
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: n_chars
      |      type: !number
      |        type: i64
      |""".stripMargin

  /** Persisted: each roundtrip ingests this 1-3 times (split halves, merge
    * input) and three roundtrip queries build the identical plan — Spark's
    * cache manager shares the one materialization across them all. */
  private def docsAsJsonl(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("value"))
      // snapshot for the callers that read this twice (index both halves) —
      // localCheckpoint, not persist(): CacheManager holds strong refs to
      // persisted plans, which leaks across repeated query runs
      .localCheckpoint(eager = false)

  private def parseResults(results: DataFrame): DataFrame = {
    val schema = StructType.fromDDL(
      "doc_id long, text string, lang string, source string, n_chars long")
    results.select(from_json(col("doc"), schema).as("r")).select(col("r.*"))
  }

  /** create → index → search `*` → parse output docs back: ingest and
    * output reassembly must be lossless. */
  val op_index_search: Q = (s, dir) => {
    val root = Files.createTempDirectory("graft-rt").toString
    val cat = new Catalog(root)
    val name = s"rt_${math.abs(dir.hashCode)}"
    cat.create(docsIndexConfig.format(name))
    new Indexer(s, cat).indexDataFrame(name, docsAsJsonl(s, dir))
    val out = new Searcher(s, cat).searchDf(name, "*", 1000000)
    parseResults(out)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** create → index two halves → merge → tantivy-syntax search through the
    * query compiler (`text:spark AND n_chars:>=300`). */
  val op_merge_search: Q = (s, dir) => {
    val root = Files.createTempDirectory("graft-rt2").toString
    val cat = new Catalog(root)
    val name = s"rtm_${math.abs(dir.hashCode)}"
    cat.create(docsIndexConfig.format(name))
    val idx = new Indexer(s, cat)
    val jsonl = docsAsJsonl(s, dir).withColumn("__even",
      (get_json_object(col("value"), "$.doc_id").cast("long") % 2) === 0)
    idx.indexDataFrame(name, jsonl.where(col("__even")).select(col("value")))
    idx.indexDataFrame(name, jsonl.where(!col("__even")).select(col("value")))
    require(cat.liveSplits(name).length == 2, "expected 2 splits before merge")
    idx.merge(name)
    require(cat.liveSplits(name).length == 1, "expected 1 split after merge")
    val out = new Searcher(s, cat).searchDf(name, "text:spark AND n_chars:>=300", 1000000)
    parseResults(out)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** create → index → six grammar constructs through the tantivy-syntax
    * compiler, each tagged and unioned — the full parser/compiler path
    * under the DuckDB oracle (phrase, prefix, fuzzy, IN set, mixed-bound
    * range, boolean with NOT). One ingest, six searches over the same
    * splits. */
  val op_grammar_search: Q = (s, dir) => {
    val root = Files.createTempDirectory("graft-rt3").toString
    val cat = new Catalog(root)
    val name = s"rtg_${math.abs(dir.hashCode)}"
    cat.create(docsIndexConfig.format(name))
    new Indexer(s, cat).indexDataFrame(name, docsAsJsonl(s, dir))
    val search = new Searcher(s, cat)
    val constructs = Seq(
      "phrase" -> "text:\"key order\"",
      "prefix" -> "text:wind*",
      "fuzzy" -> "text:spork~1",
      "in_set" -> "lang:IN [en fr]",
      "range" -> "n_chars:[200 TO 400}",
      "boolnot" -> "text:spark AND NOT text:window",
      "minus" -> "text:spark -text:window",
      "paren" -> "(text:vector OR text:merge) AND n_chars:>=300",
      "bare" -> "spark",
      "star" -> "*",
      "boost" -> "text:spark^2 OR text:merge",
      "cmp" -> "n_chars:>=350")
    constructs.map { case (tag, q) =>
      parseResults(search.searchDf(name, q, 1000000))
        .select(lit(tag).as("construct"), col("doc_id"))
    }.reduce(_.unionAll(_)).orderBy(col("construct"), col("doc_id"))
  }

  private val typedIndexConfig =
    """version: 1
      |name: %s
      |path: /tmp/unused
      |schema:
      |  fields:
      |    - name: doc_id
      |      type: !number
      |        type: i64
      |    - name: ts
      |      type: !datetime
      |    - name: ip
      |      type: !ip
      |""".stripMargin

  /** create → index documents carrying a derived datetime (epoch seconds,
    * magnitude-inferred), a derived IPv4 (stored IPv6-mapped), and an
    * undeclared `extra` object (variant `_dynamic`) → five grammar
    * constructs through the compiler: RFC3339 mixed-bound datetime range,
    * datetime comparison, IP range and exact IP term over the canonical
    * binary domain, and a JSON-path term into `_dynamic` — the §2.3
    * constructs previously gated by ScalaTest alone. Every synthesized
    * value is a pure function of doc_id, so the oracle states each
    * predicate as integer arithmetic (ts = 1700000000 + doc_id·3600,
    * ip = 10.(doc_id%200).(doc_id/200).25, extra.service = svc(doc_id%4)). */
  val op_typed_search: Q = (s, dir) => {
    val root = Files.createTempDirectory("graft-rt4").toString
    val cat = new Catalog(root)
    val name = s"rtt_${math.abs(dir.hashCode)}"
    cat.create(typedIndexConfig.format(name))
    val jsonl = table(s, dir, "documents").select(to_json(struct(
      col("doc_id"),
      (lit(1700000000L) + col("doc_id") * 3600L).as("ts"),
      concat(lit("10."), (col("doc_id") % 200).cast("string"), lit("."),
        floor(col("doc_id") / 200).cast("long").cast("string"), lit(".25")).as("ip"),
      struct(concat(lit("svc"), (col("doc_id") % 4).cast("string")).as("service"))
        .as("extra")
    )).as("value"))
    new Indexer(s, cat).indexDataFrame(name, jsonl)
    val search = new Searcher(s, cat)
    val constructs = Seq(
      "ts_range" -> "ts:[2023-11-19T02:13:20Z TO 2023-11-20T08:13:20Z}",
      "ts_cmp"   -> "ts:>2023-11-25T00:00:00Z",
      "ip_range" -> "ip:[10.50.0.0 TO 10.59.255.255]",
      "ip_term"  -> "ip:10.42.0.25",
      "dyn_path" -> "extra.service:svc1")
    constructs.map { case (tag, q) =>
      parseResults(search.searchDf(name, q, 1000000))
        .select(lit(tag).as("construct"), col("doc_id"))
    }.reduce(_.unionAll(_)).orderBy(col("construct"), col("doc_id"))
  }

  val all: Map[String, Q] = Map(
    "q_term_search" -> q_term_search,
    "q_bool_search" -> q_bool_search,
    "q_range_search" -> q_range_search,
    "q_prefix_search" -> q_prefix_search,
    "q_phrase_search" -> q_phrase_search,
    "q_in_set_search" -> q_in_set_search,
    "q_search_bm25" -> q_search_bm25,
    "q_regex_search" -> q_regex_search,
    "q_fuzzy_search" -> q_fuzzy_search,
    "op_index_search" -> op_index_search,
    "op_merge_search" -> op_merge_search,
    "op_grammar_search" -> op_grammar_search,
    "op_typed_search" -> op_typed_search
  )

  val oracles: Map[String, String] = Map(
    "q_term_search" ->
      ("""WITH t AS (
        |  SELECT *, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |      x -> x <> '' AND length(x) <= 40) AS tk
        |  FROM documents)
        |SELECT doc_id, lang FROM t
        |WHERE list_contains(tk, 'spark') ORDER BY doc_id""").stripMargin,
    "q_bool_search" ->
      ("""WITH t AS (
        |  SELECT *, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |      x -> x <> '' AND length(x) <= 40) AS tk
        |  FROM documents)
        |SELECT doc_id FROM t
        |WHERE (list_contains(tk, 'spark') AND list_contains(tk, 'join')
        |  AND NOT list_contains(tk, 'window'))
        |  OR list_contains(tk, 'vector')
        |ORDER BY doc_id""").stripMargin,
    "q_range_search" ->
      ("""WITH t AS (
        |  SELECT *, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |      x -> x <> '' AND length(x) <= 40) AS tk
        |  FROM documents)
        |SELECT doc_id, n_chars FROM t
        |WHERE n_chars >= 200 AND n_chars < 400 AND list_contains(tk, 'merge')
        |ORDER BY doc_id""").stripMargin,
    "q_prefix_search" ->
      ("""WITH t AS (
        |  SELECT *, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |      x -> x <> '' AND length(x) <= 40) AS tk
        |  FROM documents)
        |SELECT doc_id FROM t
        |WHERE len(list_filter(tk, x -> x LIKE 'wind%')) > 0 ORDER BY doc_id""").stripMargin,
    "q_phrase_search" ->
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(lower(text), '\bkey order\b') ORDER BY doc_id""".stripMargin,
    "q_in_set_search" ->
      """SELECT lang, count(*) AS n FROM documents
        |WHERE lang IN ('en', 'fr') GROUP BY lang ORDER BY lang""".stripMargin,
    "q_search_bm25" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |      x -> x <> '' AND length(x) <= 40) AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks) AS dl,
        |        len(list_filter(toks, x -> x = 'spark')) AS tf0,
        |        len(list_filter(toks, x -> x = 'join')) AS tf1
        |      FROM t),
        |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl,
        |            sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |            sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
        |          FROM d),
        |scored AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0)
        |      / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0)
        |      / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS score
        |  FROM d CROSS JOIN stats)
        |SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id
        |FROM scored WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q_regex_search" ->
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(lower(text), 'spark\s+(join|sql)')
        |ORDER BY doc_id""".stripMargin,
    "q_fuzzy_search" ->
      s"""SELECT doc_id FROM documents
         |WHERE len(list_filter(
         |  list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
         |    t -> t <> '' AND length(t) <= 40),
         |  t -> levenshtein(t, 'spork') <= 1)) > 0
         |ORDER BY doc_id""".stripMargin,
    "op_index_search" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "op_merge_search" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE regexp_matches(lower(text), '\bspark\b') AND n_chars >= 300
        |ORDER BY doc_id""".stripMargin,
    "op_grammar_search" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, source, n_chars, text,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |      t -> t <> '' AND length(t) <= 40) AS tk
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'phrase' AS construct, doc_id FROM toks
        |    WHERE regexp_matches(lower(text), '\bkey order\b')
        |  UNION ALL
        |  SELECT 'prefix', doc_id FROM toks
        |    WHERE len(list_filter(tk, t -> t LIKE 'wind%')) > 0
        |  UNION ALL
        |  SELECT 'fuzzy', doc_id FROM toks
        |    WHERE len(list_filter(tk, t -> levenshtein(t, 'spork') <= 1)) > 0
        |  UNION ALL
        |  SELECT 'in_set', doc_id FROM toks WHERE lang IN ('en', 'fr')
        |  UNION ALL
        |  SELECT 'range', doc_id FROM toks WHERE n_chars >= 200 AND n_chars < 400
        |  UNION ALL
        |  SELECT 'boolnot', doc_id FROM toks
        |    WHERE list_contains(tk, 'spark')
        |      AND NOT list_contains(tk, 'window')
        |  UNION ALL
        |  SELECT 'minus', doc_id FROM toks
        |    WHERE list_contains(tk, 'spark')
        |      AND NOT list_contains(tk, 'window')
        |  UNION ALL
        |  SELECT 'paren', doc_id FROM toks
        |    WHERE (list_contains(tk, 'vector') OR list_contains(tk, 'merge'))
        |      AND n_chars >= 300
        |  UNION ALL
        |  SELECT 'bare', doc_id FROM toks
        |    WHERE list_contains(tk, 'spark')
        |       OR lang = 'spark' OR source = 'spark'
        |  UNION ALL
        |  SELECT 'star', doc_id FROM toks
        |  UNION ALL
        |  SELECT 'boost', doc_id FROM toks
        |    WHERE list_contains(tk, 'spark') OR list_contains(tk, 'merge')
        |  UNION ALL
        |  SELECT 'cmp', doc_id FROM toks WHERE n_chars >= 350)
        |ORDER BY construct, doc_id""".stripMargin,
    // ts = 1700000000 + doc_id*3600 s; the RFC3339 range bounds are the
    // epochs 1700360000/1700468000 and the cmp threshold is 1700870400,
    // restated as doc_id arithmetic
    "op_typed_search" ->
      """SELECT * FROM (
        |  SELECT 'ts_range' AS construct, doc_id FROM documents
        |    WHERE doc_id >= 100 AND doc_id < 130
        |  UNION ALL
        |  SELECT 'ts_cmp', doc_id FROM documents WHERE doc_id * 3600 > 870400
        |  UNION ALL
        |  SELECT 'ip_range', doc_id FROM documents
        |    WHERE (doc_id % 200) BETWEEN 50 AND 59
        |  UNION ALL
        |  SELECT 'ip_term', doc_id FROM documents
        |    WHERE doc_id % 200 = 42 AND doc_id // 200 = 0
        |  UNION ALL
        |  SELECT 'dyn_path', doc_id FROM documents WHERE doc_id % 4 = 1)
        |ORDER BY construct, doc_id""".stripMargin
  )
}
