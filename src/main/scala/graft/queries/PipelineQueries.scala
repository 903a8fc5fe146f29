package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.table
import graft.functions.TextFunctions.tokenizeDefault
import graft.ops.{Bpe, Dsir, LangModel, Wordpiece}

/** Large-scale training-data pipeline operators over `documents` and
  * `embeddings` — the north-star surface beyond the reference's own
  * (BASELINE.json): deduplication (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine), similarity search (brute-force and
  * cell-partitioned ANN), and text analysis (token stats, quality score,
  * language id, fingerprinting).
  *
  * Everything is deterministic so DuckDB oracles hash-match exactly:
  * hashes derive from md5 prefixes (identical in both engines via
  * `conv(substr(md5(x),1,15),16,10)` ≡ `('0x'||substr(md5(x),1,15))::BIGINT`),
  * similarity *scores* are never emitted when float summation order could
  * differ — only integer ids, ranks, and exact counts.
  *
  * Scale shapes (each noted per operator): the shingle/band joins are the
  * canonical "explode → shuffle on token → pair-count" pattern whose cost
  * is bounded by band width rather than corpus²; cosine dedup/ANN restrict
  * the quadratic candidate space by LSH bands or coarse cells (here the
  * `label` column plays the IVF-cell role).
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  import graft.ops.Hashing.h64
  import graft.ops.{Ann, Dedup, TextAnalysis}

  private def docs(s: SparkSession, dir: String) =
    table(s, dir, "documents")

  /** Token 5-gram shingle sets. 5-grams (vs the textbook 3) matter in this
    * corpus: the vocabulary is tiny, so 3-gram shingles are all hot
    * (df ~ 80) and every posting list explodes; 5-gram df maxes at 3,
    * which is also the realistic shape for web-scale text. */
  private val ShingleN = 5

  /** (doc_id, shingles) snapshotted once per (session, dir): the array is
    * HOF-built, so both the explode consumers (generate re-evaluates
    * non-trivial generator input per OUTPUT row) and the self-join
    * consumers (two plan branches) would otherwise rebuild it repeatedly,
    * and LSH + Jaccard share the same table across separate queries.
    * Memoized `localCheckpoint`, not `persist()`: CacheManager holds
    * strong refs to persisted plans (the leak class purged from
    * `graft.ops`); the memo gives the same cross-query sharing by handing
    * every caller the SAME snapshot DataFrame. Known trade: checkpoint
    * blocks have no lineage to recompute from under executor loss — a
    * non-event for these driver-bench fixtures on local mode (executor
    * loss = JVM loss); library operators in `graft.ops` make the same
    * choice deliberately (see Dedup scaladoc). At cluster scale this is
    * the "write the shingle table out once" step of a dedup pipeline. */
  private val snapMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  /** NO content invalidation by design: keys are (session, dir, name) and
    * the `dir` fixtures are immutable driver-written parquet — a memo
    * entry can only go stale if someone rewrites a fixture in place,
    * which nothing in this repo does (an engine-state equivalent would
    * key on a manifest generation, as the searcher's stats memo does).
    * The size bound only guards a pathological many-dir session; clearing
    * drops DataFrame references, and their checkpoint blocks are
    * ContextCleaner-reaped once the last consumer finishes. */
  private def memoSnap(key: (SparkSession, String, String))(build: => DataFrame): DataFrame = {
    if (snapMemo.size > 64) snapMemo.clear() // bound a long-lived session
    snapMemo.computeIfAbsent(key, _ => build.localCheckpoint(eager = false))
  }

  private def shingled(s: SparkSession, dir: String): DataFrame =
    memoSnap((s, dir, "shingles")) {
      Dedup.shingles(
        docs(s, dir).withColumn("toks", tokenizeDefault(col("text"))),
        col("doc_id"), col("toks"), ShingleN)
    }

  /** (doc_id, toks) snapshot, for explode consumers — the tokenizer is a
    * regexp extract, which generate would otherwise re-run per token. */
  private def tokenized(s: SparkSession, dir: String): DataFrame =
    memoSnap((s, dir, "toks")) {
      docs(s, dir)
        .select(col("doc_id"), tokenizeDefault(col("text")).as("toks"))
    }

  // ---- dedup ------------------------------------------------------------

  /** Exact dedup: hash-groupBy on content hash, keep min doc_id. One
    * shuffle on a 128-bit key; at 100 TB this is the cheapest dedup and
    * the standard first pass. */
  val dedup_exact: Q = (s, dir) =>
    Dedup.exact(docs(s, dir), col("doc_id"), col("text"))
      .select(col("keep_id").as("keep_doc_id"), col("copies"))
      .orderBy(col("keep_doc_id"))

  /** Near-dedup by exact n-gram Jaccard >= 0.5: explode shingles → join
    * on shingle → pair intersection counts → |A∪B| from per-doc counts.
    * Pair generation is quadratic only within one shingle's posting list,
    * and 5-gram shingles keep posting lists tiny (df <= 3 here; similarly
    * sparse on real text) — so the join output is ~linear in corpus size.
    * If a corpus did produce hot shingles, the standard fix is prefix
    * filtering (AllPairs/PPJoin, Bayardo et al. 2007) before this join. */
  val dedup_ngram_jaccard: Q = (s, dir) =>
    Dedup.ngramJaccard(shingled(s, dir), threshold = 0.5)
      .orderBy(col("a"), col("b"))

  /** The same exact-Jaccard output through AllPairs/PPJoin prefix
    * filtering ([[graft.ops.Dedup.ngramJaccardPrefix]]): candidates join
    * only on each doc's n - ⌈t·n⌉ + 1 globally-rarest shingles, so a hot
    * shingle never explodes a posting list — the scale-safe form of
    * [[dedup_ngram_jaccard]], gated by the identical oracle. */
  val dedup_jaccard_prefix: Q = (s, dir) =>
    Dedup.ngramJaccardPrefix(shingled(s, dir), threshold = 0.5)
      .orderBy(col("a"), col("b"))

  /** Exact 5-gram overlap profile ([[graft.ops.Dedup.kgramOverlap]]):
    * per document, how many of its token 5-gram positions carry a gram
    * occurring in >= 2 distinct documents — the duplicated-span mass of
    * ExactSubstr dedup (Lee et al. 2021) at token granularity,
    * complementing the Jaccard/MinHash ops (which threshold whole-doc
    * similarity; this finds ANY exact k-token overlap). */
  val dedup_kgram_overlap: Q = (s, dir) =>
    Dedup.kgramOverlap(
      tokenized(s, dir), col("doc_id"), col("toks"), k = 5)
      .orderBy(col("doc_id"))

  /** Winnowing fingerprint candidates ([[graft.ops.Dedup.winnowPairs]],
    * Schleimer et al. 2003): window-min selection over k-gram hashes —
    * any shared >= k+w-1-token run forces a shared fingerprint, the
    * deterministic counterpart to MinHash's probabilistic recall. */
  val dedup_winnow: Q = (s, dir) =>
    Dedup.winnowPairs(tokenized(s, dir), col("doc_id"), col("toks"),
      k = 5, w = 4, minShared = 2L)
      .orderBy(col("a"), col("b"))

  /** Per-source corpus datasheet — the one-aggregate health report a
    * curation run publishes per source ("datasheets for datasets"):
    * document count, exact-distinct count (md5), token mass, and the
    * Gopher-keep count ([[graft.ops.TextAnalysis.gopherKeep]] inline,
    * same shared thresholds as the filter ops). ONE corpus scan, one
    * source-keyed aggregate with partial map-side combine — the
    * cheapest possible shape at any scale. */
  val pipe_source_report: Q = (s, dir) =>
    docs(s, dir).groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct"),
      sum(size(tokenizeDefault(col("text")))).cast("long").as("n_tokens"),
      sum(when(graft.ops.TextAnalysis.gopherKeep(col("text"),
        stopwords = GopherStops,
        minWords = GopherMinWords, maxWords = GopherMaxWords), 1L).otherwise(0L)).as("n_keep"))
      .orderBy(col("source"))

  /** Vocabulary growth curve — per document (in doc_id order), how many
    * distinct tokens appear for the FIRST time in that document: the
    * novelty signal corpus-growth monitoring plots to decide when more
    * of a source stops adding anything. Same ownership shape as the
    * line dedup family: one token-keyed min() aggregate (combiner
    * friendly) plus a doc-keyed count; no corpus self-join. */
  val text_vocab_growth: Q = (s, dir) => {
    // both branches read the memoized snapshot; only the ownership
    // branch (the join's right side) explodes
    val owned = tokenized(s, dir)
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new_tokens"))
    tokenized(s, dir).where(size(col("toks")) > 0).select(col("doc_id"))
      .join(owned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_new_tokens"), lit(0L)).as("n_new_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate mining: the top-5 most document-frequent 5-gram
    * shingles per source — the candidate boilerplate strings (shared
    * headers, notices, navigation) a curation pass reviews and strips.
    * Reuses the memoized shingle snapshot; one (source, gram) aggregate
    * and a per-source rank window (partitioned — never one partition),
    * ties broken by gram text for determinism. */
  val text_boilerplate_ngrams: Q = (s, dir) => {
    shingled(s, dir)
      .select(col("doc_id"), explode(col("shingles")).as("gram"))
      .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("gram")).agg(count(lit(1)).as("n_docs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_docs").desc, col("gram"))).cast("long"))
      .where(col("rank") <= 5)
      .select(col("source"), col("gram"), col("n_docs"), col("rank"))
      .orderBy(col("source"), col("rank"))
  }

  /** The full dedup pass in one call ([[graft.ops.Dedup.dedupCorpus]]):
    * shingle → prefix-filtered exact pairs → connected components → keep
    * decision for every document. The oracle reproduces the whole chain,
    * components included, via a recursive CTE. */
  val pipe_dedup_corpus: Q = (s, dir) =>
    Dedup.dedupCorpus(
      docs(s, dir).withColumn("toks", tokenizeDefault(col("text"))),
      col("doc_id"), col("toks"), n = ShingleN, threshold = 0.5)
      .orderBy(col("doc_id"))

  /** Incremental ingest dedup, STATEFUL form
    * ([[graft.ops.IncrementalDedupState]] — absorb the corpus once into
    * persisted df/prefix/sets state, then dedup the batch against the
    * state; the stateless [[graft.ops.Dedup.dedupIncremental]] remains
    * the one-shot API): corpus = docs below 400, new batch = docs from
    * 400 up PLUS exact copies of every doc_id % 7 == 3 below 100
    * (re-keyed +100000), so the batch provably contains known corpus
    * duplicates. Each copy must come back dropped with dup_of = its
    * original; genuinely new docs keep unless a planted near-dup pair
    * crosses the 400 boundary — ground truth either way. The oracle
    * recomputes the same exact Jaccard over corpus × batch, which gates
    * the frozen-order prefix filter's losslessness (any fixed total
    * order satisfies the AllPairs lemma; verification is exact). */
  val pipe_dedup_incremental: Q = (s, dir) => {
    val base = docs(s, dir)
    val newDocs = base.where(col("doc_id") >= 400)
      .unionAll(base.where(col("doc_id") < 100 &&
          pmod(col("doc_id"), lit(7)) === 3)
        .withColumn("doc_id", col("doc_id") + 100000))
    def sh(df: DataFrame) = Dedup.shingles(
      df.withColumn("toks", tokenizeDefault(col("text"))),
      col("doc_id"), col("toks"), ShingleN)
    // The absorbed corpus state is memoized per (session, dir) — the
    // amortized-once step of the production pattern; repeated invocations
    // (bench medians, plan tests) measure the steady-state BATCH cost and
    // reuse one state dir instead of leaking one per call.
    val st = dedupStateMemo.computeIfAbsent((s, dir), _ => {
      val built = new graft.ops.IncrementalDedupState(s,
        java.nio.file.Files.createTempDirectory("graft-dedup-state").toString,
        threshold = 0.5)
      built.absorb(sh(base.where(col("doc_id") < 400)))
      built
    })
    st.dedupBatch(sh(newDocs))
      .orderBy(col("doc_id"))
  }

  private val dedupStateMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.ops.IncrementalDedupState]()

  /** MinHash + LSH banding (16 hashes, 8 bands × 2 rows: the s-curve
    * catches j>=0.5 pairs with p~0.9; 4×4 missed ~5% even at j=0.86 on
    * this corpus). See [[graft.ops.Dedup.minhashLsh]] for the
    * explode-then-codegen shape (the HOF alternative measured ~10×
    * slower) and the scale contract (constant-width signatures,
    * band-bucket joins linear in corpus size). */
  val dedup_minhash_lsh: Q = (s, dir) =>
    Dedup.minhashLsh(shingled(s, dir), numHashes = 16, bands = 8)
      .orderBy(col("a"), col("b"))

  /** 63-bit SimHash, hamming <= 8, bucket-join on 9×7-bit chunks
    * (pigeonhole ⇒ full recall) — see [[graft.ops.Dedup.simhash]]. */
  val dedup_simhash: Q = (s, dir) =>
    Dedup.simhash(tokenized(s, dir), maxDistance = 8)
      .orderBy(col("a"), col("b"))

  /** Embedding near-dup: cosine >= 0.4 pairs within the label cell (the
    * candidate bound). Scores stay internal — see
    * [[graft.ops.Dedup.embeddingCosine]]. */
  val dedup_embedding: Q = (s, dir) =>
    Dedup.embeddingCosine(table(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), col("label"), threshold = 0.4)
      .orderBy(col("a"), col("b"))

  /** SemDeDup semantic dedup ([[graft.ops.Dedup.semantic]]): label cells
    * as the coarse clustering, within-cell cosine >= 0.4 pairs, duplicate
    * clusters via star-contraction components, ONE least-redundant keeper
    * per cluster (lowest QUANTIZED max-neighbor-cosine, ties to smallest
    * id — the deterministic form of the paper's low-centroid-similarity
    * rule; see [[graft.ops.Dedup.semantic]] on why an ordering must
    * quantize). Floats stay internal; output is (vec_id, group_id,
    * keep). */
  val dedup_semantic: Q = (s, dir) =>
    Dedup.semantic(table(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), col("label"), threshold = 0.4)
      .withColumnRenamed("vid", "vec_id")
      .orderBy(col("vec_id"))

  /** SemDeDup cell-approximation loss, quantified — the embedding
    * analogue of [[dedup_lsh_recall]]: recall/precision of the
    * cell-bounded cosine candidates ([[graft.ops.Dedup.embeddingCosine]])
    * against the BRUTE all-pairs cosine >= 0.4 truth set, exact-integer
    * ppm. Within-cell precision is 1.0 by construction (candidates are
    * verified cosines); recall prices exactly the pairs the coarse
    * clustering splits across cells — the approximation SemDeDup accepts,
    * now measured instead of assumed. The truth side is the diagnostic
    * O(n²) tier (same standing as [[knn_brute]]); the candidate side is
    * the production path.
    *
    * Measured at sf0.01: recall_ppm = 84,745 — the fixture's arbitrary
    * `label` column is a POOR coarse clustering at threshold 0.4 (5 of
    * 59 true pairs within-cell), which is precisely the kind of finding
    * this gate exists to surface: a real deployment derives cells from
    * [[pipe_kmeans_train]] centroids, and this query is the check that
    * the chosen clustering actually captures the near-dup mass. */
  val dedup_semantic_recall: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    val a = e.select(col("vec_id").as("a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
    // Snapshot both pair sets: each is consumed twice (hit join + count),
    // and the truth side is the O(n²) brute cosine — without the snapshot
    // the full cross-join cosine pass runs twice per invocation (r20
    // optimization, same two-consumers rule as recallReport).
    val truth = a.crossJoin(b).where(col("a") < col("b"))
      .where(graft.exprs.CosineSimilarity
        .cosine_similarity(col("va"), col("vb")) >= 0.4)
      .select(col("a"), col("b"))
      .localCheckpoint(eager = false)
    val cand = Dedup.embeddingCosine(e, col("vec_id"), col("embedding"),
      col("label"), threshold = 0.4)
      .localCheckpoint(eager = false)
    val hit = truth.join(cand, Seq("a", "b")).agg(count(lit(1)).as("n_hit"))
    val nt = truth.agg(count(lit(1)).as("n_true"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    nt.crossJoin(nc).crossJoin(hit)
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_cand > 0 THEN n_hit * 1000000 DIV n_cand ELSE 1000000 END")
          .as("precision_ppm"),
        expr("CASE WHEN n_true > 0 THEN n_hit * 1000000 DIV n_true ELSE 1000000 END")
          .as("recall_ppm"))
  }

  // ---- similarity search ------------------------------------------------

  private def corpus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("v"), col("label"))

  /** Brute-force exact top-5 cosine neighbors for the first 20 vectors —
    * the exact baseline, O(Q×N). See [[graft.ops.Ann.brute]]. */
  val knn_brute: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.brute(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.select(col("vid"), col("v")), k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** Cell-partitioned ANN: probe only the query's coarse cell (label =
    * the stand-in quantizer). See [[graft.ops.Ann.cell]]. */
  val knn_cell: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.cell(
      e.where(col("vid") < 20)
        .select(col("vid").as("qid"), col("v").as("qv"), col("label").as("cell")),
      e.select(col("vid"), col("v"), col("label").as("cell")), k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF ANN with a deterministic coarse quantizer (first 16 vectors as
    * centroids, broadcast; nprobe=2). See [[graft.ops.Ann.ivf]]. */
  val knn_ivf: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.ivf(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.select(col("vid"), col("v")),
      e.where(col("vid") < 16).select(col("vid").as("cid"), col("v").as("cv")),
      nProbe = 2, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** Fixed-point norm-spread MIPS fixture: the
    * [[knn_serving_recall_sq8_norms]] `(vid % 10 + 1)` deterministic 10×
    * norm spread (a stand-in for popularity-scaled recommender / item
    * vectors) applied as an exact INTEGER scale to the round(x·10⁶)
    * BIGINT quantization (the [[graft.ops.Ann.kmeansStep]] fixed-point
    * convention), so every inner product downstream is exact integer
    * arithmetic — sum-order-independent, bit-identical in DuckDB. The
    * spread is the point: the raw embeddings fixture is UNIT-NORM, on
    * which MIPS degenerates to cosine (measured 100/100 shared top-5
    * rows); under the spread the two objectives diverge (41/100). Max
    * element ≤ 10·10⁶ ⇒ dots ≤ 64·10¹⁴ < 2⁵³, exact as doubles too. */
  private def mipsCorpus(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).select(col("vid"),
      expr("transform(v, x -> (1 + vid % 10) * " +
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))").as("f"))
      // r21 (guide §1/§5 two-consumers rule, the mipsIvf scaladoc's own
      // note): every MIPS query reads this table from several actions —
      // mipsIvf's m2 aggregate + centroid collect + main job, mipsBrute's
      // query/corpus sides — and each was re-scanning and re-transforming
      // the parquet. One lazy snapshot per invocation; values unchanged.
      .localCheckpoint(eager = false)

  /** MIPS truth tier over the norm-spread fixture — exact integer
    * inner-product top-5 for the 20 query vectors, the dot-product
    * analogue of [[knn_brute]] (declared diagnostic O(Q×N) standing).
    * See [[graft.ops.Ann.mipsBrute]]. */
  val knn_mips: Q = (s, dir) => {
    val e = mipsCorpus(s, dir)
    Ann.mipsBrute(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("f").as("qf")),
      e, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** MIPS production tier: IVF via the norm-augmentation reduction
    * (assignment score ⟨x,c⟩ + e_x·e_c, probe by ⟨q,c⟩, nProbe=2,
    * deterministic vid<16 centroids — the [[knn_ivf]] quantizer
    * convention). Map-only assignment, broadcast probes, ONE exchange
    * (the final rank window). See [[graft.ops.Ann.mipsIvf]]. */
  val knn_mips_ivf: Q = (s, dir) => {
    val e = mipsCorpus(s, dir)
    Ann.mipsIvf(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("f").as("qf")),
      e,
      e.where(col("vid") < 16).select(col("vid").as("cid"), col("f").as("cf")),
      nProbe = 2, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** Recall@5 of the augmented-IVF MIPS tier against the exact MIPS
    * truth tier — the [[knn_recall]] acceptance-gate shape for the
    * dot-product objective: (qid, hits ∈ [0,5]), one row per query.
    * Prices exactly what the augmentation hands to the coarse
    * quantizer: high-norm vectors concentrate near the augmented
    * "equator" cells, so probe shortfalls hit the norm-heavy true
    * neighbors first — the MIPS-specific failure mode this gate
    * watches. Same caveat as [[knn_recall]]: vid<16 centroids make 16
    * of 20 queries centroids of their own cells (kept deliberately as
    * the measured contrast cue).
    *
    * Measured (2026-08-16, oracle-exact both SFs): recall@5 0.55 at
    * sf0.01, 0.61 at sf0.1 with the fixed vid<16 quantizer at
    * nProbe=2 — the legacy-tier level ([[knn_recall]]'s own curve),
    * priced by the same cure ([[knn_recall_scaled]]'s √n trained
    * centroids) if a deployment needs more. */
  val knn_mips_recall: Q = (s, dir) => {
    val e = mipsCorpus(s, dir)
    val qs = e.where(col("vid") < 20)
      .select(col("vid").as("qid"), col("f").as("qf"))
    val exact = Ann.mipsBrute(qs, e, k = 5).select(col("qid"), col("neighbor"))
    val approx = Ann.mipsIvf(qs, e,
        e.where(col("vid") < 16).select(col("vid").as("cid"), col("f").as("cf")),
        nProbe = 2, k = 5)
      .select(col("qid"), col("neighbor"))
    val inter = exact.join(approx, Seq("qid", "neighbor"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    e.where(col("vid") < 20).select(col("vid").as("qid"))
      .join(inter, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("qid"))
  }

  // ---- text analysis ----------------------------------------------------

  /** Corpus bigram top-20 (collocation mining): flat (doc, pos, token)
    * via posexplode of the cached token arrays, `lead` within document
    * gives each adjacent pair, then one count shuffle on the bigram and a
    * TakeOrdered cut — codegen end to end, no HOF in the hot path. */
  val text_bigrams: Q = (s, dir) =>
    TextAnalysis.bigrams(tokenized(s, dir), col("doc_id"), col("toks"), topK = 20)

  /** Token counting: whitespace tokens and a BPE-ish alnum/punct split. */
  /** Token counting three ways: whitespace, word, and a BPE-ish regex —
    * the GPT-2 pretokenizer shape (space-prefixed letter runs / digit
    * runs / punctuation runs) without its lookahead, so Java and RE2
    * (DuckDB) agree; the real tokenizer's vocab merge step would run on
    * these pretokens. */
  val text_token_count: Q = (s, dir) =>
    TextAnalysis.tokenCounts(docs(s, dir), col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** The Gopher stopword list and word-count bounds — ONE Scala-side
    * definition for every consumer (quality, filter, curate, report),
    * mirroring the shared gopherMetricsSql/gopherKeepSql oracle
    * fragments so thresholds cannot drift between queries. */
  private val GopherStops = Seq("the", "a", "and", "of", "to", "in", "is")
  private val GopherMinWords = 30L
  private val GopherMaxWords = 100000L

  /** Quality scoring: length, word stats, stopword ratio, alpha ratio. */
  /** Character-entropy gibberish scoring
    * ([[graft.ops.TextAnalysis.charEntropy]]): n·H in micro-nats per doc,
    * the filter that separates natural text from base64/repeated-char
    * noise. */
  val text_char_entropy: Q = (s, dir) =>
    TextAnalysis.charEntropy(docs(s, dir), col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  val text_quality: Q = (s, dir) =>
    TextAnalysis.quality(
      docs(s, dir).withColumn("toks", tokenizeDefault(col("text"))),
      col("doc_id"), col("text"), col("toks"),
      stopwords = GopherStops)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** The Gopher quality keep/drop pass ([[graft.ops.TextAnalysis.gopherFilter]]):
    * word-count bounds, mean word length, alpha-word fraction, stopword
    * floor — one boolean per document with the metrics exposed. */
  val text_gopher_filter: Q = (s, dir) =>
    TextAnalysis.gopherFilter(docs(s, dir), col("doc_id"), col("text"),
      stopwords = GopherStops,
      minWords = GopherMinWords, maxWords = GopherMaxWords)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Language id: n-gram/stopword heuristic — score per language = marker
    * token hits, argmax wins (ties broken by language code order).
    * Deterministic function of the text, so the oracle expresses the same
    * formula; the `lang` column is NOT consulted. */
  val text_langid: Q = (s, dir) =>
    TextAnalysis.langId(
      docs(s, dir).withColumn("toks", tokenizeDefault(col("text"))),
      col("doc_id"), col("toks"),
      markers = Seq(
        "de" -> Seq("der", "die", "und", "das"),
        "en" -> Seq("the", "a", "and", "of"),
        "es" -> Seq("el", "la", "los", "de"),
        "fr" -> Seq("le", "la", "et", "les"),
        "zh" -> Seq("de", "shi", "le", "wo")))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Document fingerprints: md5 over whitespace-normalized lowercase text
    * (content-hash cache key), plus a Rabin-Karp-style rolling polynomial
    * hash over the token hash stream (acc·B + h mod p, seeded with the
    * first token's hash — order-sensitive, so reordered text fingerprints
    * differently while the md5 form only normalizes whitespace). */
  val text_fingerprint: Q = (s, dir) =>
    TextAnalysis.fingerprint(docs(s, dir), col("doc_id"), col("text"),
      tokenizeDefault(col("text")))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  // ---- multimodal -------------------------------------------------------

  /** Multimodal column plumbing: opaque binary payloads + typed metadata.
    * The payload here is the utf-8 encoding of the text (the container has
    * no image/audio codecs — see PipelineSpec for the stubbed
    * decode/feature-extract path over mapPartitions); the Spark-side
    * contract (binary column, metadata struct, partition-parallel byte
    * processing) is real: byte length, content hash, and a "frame sample"
    * (fixed-offset byte slices — the video-keyframe access pattern). */
  val mm_binary_stats: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("content_hash"),
        base64(encode(substring(col("text"), 1, 8), "UTF-8")).as("frame0"))
      .orderBy(col("doc_id"))

  /** Frame sampling over the multimodal payload: k fixed-offset slices of
    * the binary column (the video-keyframe access pattern) encoded for
    * transport. Pure per-row projection — partition-parallel, no shuffle;
    * a real codec would replace the slice with a decode UDF over the same
    * plumbing (see [[graft.ops.Multimodal]]). */
  val mm_frame_sample: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("len", length(col("text")))
      .select(
        col("doc_id"),
        base64(encode(expr("substring(text, 1, 8)"), "UTF-8")).as("f0"),
        base64(encode(expr("substring(text, 1 + len div 4, 8)"), "UTF-8")).as("f1"),
        base64(encode(expr("substring(text, 1 + len div 2, 8)"), "UTF-8")).as("f2"),
        base64(encode(expr("substring(text, 1 + 3 * (len div 4), 8)"), "UTF-8")).as("f3"))
      .orderBy(col("doc_id"))

  /** Random-hyperplane LSH ANN — the third standard ANN shape next to
    * [[knn_cell]]/[[knn_ivf]]: 16 signed projections in two 8-bit bucket
    * tables (either-bucket match is the recall lever), exact cosine
    * re-rank. Sign bits are exact integer arithmetic (md5-derived weights
    * × round(v·10⁶)) — bit-identical in DuckDB. See
    * [[graft.ops.Ann.lsh]]. */
  val knn_lsh: Q = (s, dir) =>
    Ann.lsh(corpus(s, dir).select(col("vid"), col("v")),
      isQuery = _ < 20, dim = 64, planes = 16, tables = 2, k = 5)
      .orderBy(col("qid"), col("rank"))

  /** Product-quantization ANN: 4 subspaces × 16 seed codewords over the
    * 64-dim embeddings, per-query ADC lookup tables, fixed-point
    * arithmetic end to end — see [[graft.ops.Ann.pq]]. */
  val knn_pq: Q = (s, dir) =>
    Ann.pq(corpus(s, dir).select(col("vid"), col("v")),
      isQuery = _ < 20, numSubspaces = 4, k = 5)
      .orderBy(col("qid"), col("rank"))

  /** PII scrubbing — the standard pre-training redaction pass: count and
    * replace emails and IPv4s with placeholder tags. The synthetic corpus
    * contains no PII, so the op first injects one deterministic email+IP
    * per document (derived from doc_id) into a `raw` column — clearly a
    * test harness; on real data `raw` IS the input column. Regexes avoid
    * lookaround so Java and RE2 (DuckDB) agree. Pure per-row projection:
    * partition-parallel, no shuffle, codegen'd end-to-end. */
  val text_pii_scrub: Q = (s, dir) =>
    TextAnalysis.piiScrub(
      docs(s, dir).withColumn("raw", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
        pmod(col("doc_id"), lit(256)), lit(".1 end"))),
      col("doc_id"), col("raw"),
      patterns = Seq(
        "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"))
      .select(col("id").as("doc_id"), col("n_email").as("n_emails"),
        col("n_ip").as("n_ips"), col("scrubbed_len"))
      .orderBy(col("doc_id"))

  /** Perceptual-hash near-dup buckets over the multimodal payload: 16
    * evenly spaced sample bytes, thresholded against their mean, packed
    * into a 16-bit signature — the byte-grid stand-in for an image pHash
    * (no codecs in this container; a real decoder slots in before the
    * sampling, same plumbing). Bucket = signature collision; one shuffle
    * on a 16-bit key, output only buckets with >= 2 members. */
  val mm_phash_buckets: Q = (s, dir) =>
    docs(s, dir)
      .where(length(col("text")) >= 16)
      // One tight-loop expression instead of the transform/aggregate/
      // zip_with HOF nest — interpreted per-element lambdas were the last
      // such hot spot; bit-identical values (see [[graft.exprs.PHash16]]).
      .withColumn("phash", graft.exprs.PHash16.phash16(col("text")))
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .where(col("n_docs") >= 2)
      .orderBy(col("phash"))

  /** Scene-cut detection over the multimodal payload — the video
    * shot-boundary pass: 8 fixed-offset frames ([[mm_frame_sample]]'s
    * access pattern), a 16-bit perceptual hash per frame
    * ([[graft.exprs.PHash16]] over the frame slice), and a cut wherever
    * consecutive frames' Hamming distance ≥ 8 (the fixture's
    * consecutive-frame distances center at 6, so both cut and no-cut
    * paths exercise; a real decoder slots in before the hashing, same
    * plumbing). Map-only per-row HOFs; output packs the cut positions
    * into a 7-bit mask so the gate hashes exact transition structure,
    * not just counts. */
  val mm_scene_cuts: Q = (s, dir) => {
    val F = 8
    docs(s, dir)
      .where(length(col("text")) >= F * 16)
      .withColumn("flen", expr(s"length(text) DIV $F"))
      .withColumn("ph", transform(sequence(lit(0), lit(F - 1)),
        f => graft.exprs.PHash16.phash16(
          col("text").substr(lit(1) + f * col("flen"), col("flen")))))
      .withColumn("cut_mask", expr(
        s"""aggregate(sequence(0, ${F - 2}), CAST(0 AS BIGINT),
           |  (acc, f) -> acc + CASE
           |    WHEN bit_count(element_at(ph, f + 1) ^ element_at(ph, f + 2)) >= 8
           |    THEN shiftleft(CAST(1 AS BIGINT), f) ELSE CAST(0 AS BIGINT) END)"""
          .stripMargin))
      .select(col("doc_id"), lit(F.toLong).as("n_frames"),
        expr("CAST(bit_count(cut_mask) AS BIGINT)").as("n_cuts"),
        col("cut_mask"))
      .orderBy(col("doc_id"))
  }

  /** Audio-shaped feature extraction over the multimodal payload: treat
    * the bytes as a waveform, emit integer energy (sum of squared
    * samples) per 32-sample window — the frame-energy profile a VAD or
    * silence-trimmer consumes. Integer arithmetic end-to-end (exact in
    * the oracle); per-row fan-out of len/32 rows, no shuffle. A real
    * codec slots in before the sampling, same plumbing. */
  val mm_audio_energy: Q = (s, dir) =>
    docs(s, dir)
      .where(length(col("text")) >= 32)
      // One tight-loop expression instead of transform/aggregate HOFs —
      // interpreted per-element lambdas cost ~10x here, and the indexed
      // substring form is O(i) per access (measured 27s vs ~1s at sf0.1).
      .withColumn("win",
        graft.exprs.WindowEnergy.window_energy(col("text"), 32))
      .select(col("doc_id"), posexplode(col("win")).as(Seq("window_idx", "energy")))
      .orderBy(col("doc_id"), col("window_idx"))

  /** Within-doc repetition metrics (Gopher/RefinedWeb repetition
    * filters) — see [[graft.ops.TextAnalysis.repetition]]. */
  val text_repetition: Q = (s, dir) =>
    TextAnalysis.repetition(tokenized(s, dir), col("doc_id"), col("toks"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Near-dup clustering: connected components over the MinHash-LSH pair
    * graph, canonical doc = component-min doc_id — the "keep one copy
    * per near-dup cluster" step. Distributed min-label propagation; see
    * [[graft.ops.Dedup.connectedComponents]] for the per-round shape. */
  val dedup_cluster_canon: Q = (s, dir) =>
    Dedup.connectedComponents(
      Dedup.minhashLsh(shingled(s, dir), numHashes = 16, bands = 8))
      .orderBy(col("doc_id"))

  /** Leakage-safe holdout split ([[graft.ops.Dedup.leakageSafeSplit]]):
    * train/test side hashed on the NEAR-DUP CLUSTER id (MinHash-LSH
    * pairs → connected components), so no near-duplicate family can
    * straddle the split — the eval-integrity counterpart of
    * [[pipe_decontaminate]] (that pass protects against a FIXED
    * benchmark; this one makes the held-out half honest by
    * construction). 20% test; unpaired docs are their own cluster. */
  val pipe_split_leakage_safe: Q = (s, dir) =>
    Dedup.leakageSafeSplit(
      docs(s, dir).select(col("doc_id")),
      Dedup.minhashLsh(shingled(s, dir), numHashes = 16, bands = 8),
      testPct = 20)
      .orderBy(col("doc_id"))

  /** Deterministic stratified sampling — the dataset-mixing primitive:
    * md5-derived bucket in [0, 100), per-language keep rates (the
    * overrepresented language is downsampled to 10%, the rest keep 50%).
    * Pure per-row projection + filter: no shuffle, reproducible across
    * runs and engines, and trivially resumable — exactly why hash
    * sampling (not rand()) is the standard at 100 TB. */
  val pipe_sample_stratified: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("bucket", pmod(h64(col("doc_id").cast("string")), lit(100)))
      .where(col("bucket") <
        when(col("lang") === "en", lit(10)).otherwise(lit(50)))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))

  /** The epoch SINK: [[graft.ops.EpochShuffle.writeShards]] actually
    * writes the 8 shard directories (+ the commit-point manifest) to a
    * temp root and returns the manifest read back from disk — so what
    * the oracle gates is the per-shard document count, dense-position
    * top, and size mass of the FILES THAT LANDED, not a plan that never
    * ran (the op_index_search pattern: side-effecting lifecycle under
    * the oracle). */
  val pipe_shard_write: Q = (s, dir) => {
    // deterministic per-(JVM, fixture) output root + overwrite mode:
    // repeated invocations IN a process rewrite in place (no temp-copy
    // accumulation), md5 keys the fixture (hashCode can collide and
    // abs(MinValue) stays negative), and the pid component keeps two
    // concurrent JVMs gating the same fixture from clobbering each
    // other's data dir mid-read
    val out = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft-shards-${graft.ops.Hashing.md5Hex(dir, 8)}-p${ProcessHandle.current().pid()}").toString
    graft.ops.EpochShuffle.writeShards(docs(s, dir), col("doc_id"),
        length(col("text")), "epoch1", numShards = 8L, out)
      .orderBy(col("shard"))
  }

  /** Multimodal alignment filtering — the LAION/CLIP-filter shape: the
    * embedding packs the pair's two modality vectors in its halves
    * (image‖text — the plumbing contract; the real towers are the
    * stubbed decode step), alignment = cosine of the halves, keep
    * pairs ≥ 0.1. Scores stay internal (the module's float rule); the
    * fixture's nearest cosine to the threshold sits 4×10⁻⁴ away —
    * orders of magnitude beyond float-vs-double divergence — so the
    * keep decision is engine-stable; a zero half-vector (null cosine
    * here, NaN there — and DuckDB orders NaN above everything) is
    * explicitly not-keep on BOTH sides. Map-only. */
  val mm_align_filter: Q = (s, dir) =>
    table(s, dir, "embeddings")
      .select(col("vec_id"),
        // a zero half-vector is null cosine here but NaN in DuckDB —
        // both mean "no alignment evidence", so both must read not-keep
        coalesce(
          graft.exprs.CosineSimilarity.cosine_similarity(
            expr("slice(embedding, 1, 32)"),
            expr("slice(embedding, 33, 32)")) >= 0.1,
          lit(false)).as("keep"))
      .orderBy(col("vec_id"))

  /** Domain balancing: cap every source at 15 documents, survivors chosen
    * by md5-hash rank — see [[graft.ops.Mixture.domainQuota]] for the
    * C4/RefinedWeb host-cap rationale and the hot-domain two-pass
    * alternative. One domain-keyed window shuffle. */
  val pipe_domain_quota: Q = (s, dir) =>
    graft.ops.Mixture
      .domainQuota(docs(s, dir), col("doc_id"), col("source"), quota = 15L)
      .select(col("id").as("doc_id"), col("domain").as("source"), col("rk"))
      .orderBy(col("doc_id"))

  /** The hot-domain-safe TWO-PASS quota
    * ([[graft.ops.Mixture.domainQuotaTwoPass]]): per-domain counts →
    * broadcast hash thresholds sized for quota·slack expected survivors
    * → map-side filter → exact rank over survivors only. Same quota as
    * [[pipe_domain_quota]]; the spec pins output EQUALITY with the
    * window form on the fixture, and the oracle replays the threshold
    * arithmetic (HUGEINT ≡ DECIMAL(38,0) widen) and both passes. */
  val pipe_domain_quota_2pass: Q = (s, dir) =>
    graft.ops.Mixture
      .domainQuotaTwoPass(docs(s, dir), col("doc_id"), col("source"),
        quota = 15L, slack = 2L)
      .select(col("id").as("doc_id"), col("domain").as("source"), col("rk"))
      .orderBy(col("doc_id"))

  /** Per-document top-3 keyword extraction by integer-quantized tf·idf —
    * see [[graft.ops.TextAnalysis.tfidfTop]] for the quantization
    * discipline and the no-posting-self-join scale shape. */
  val text_tfidf_top: Q = (s, dir) =>
    TextAnalysis.tfidfTop(tokenized(s, dir), col("doc_id"), col("toks"), k = 3)
      .select(col("id").as("doc_id"), col("rank"), col("term"), col("tfidf_q"))
      .orderBy(col("doc_id"), col("rank"))

  /** Hybrid retrieval — the RAG-serving composition: a lexical BM25 arm
    * (terms `spark join`, the [[SearchQueries.q_search_bm25]] ranking)
    * fused with a semantic arm (query-by-example: document 7's
    * embedding, exact cosine top-10 via [[graft.ops.Ann.brute]]) by
    * [[graft.ops.Retrieval.fuse]], the reciprocal-rank fusion
    * `knn --hybrid-text` serves: `⌊10⁹ / (60 + rank)⌋` summed as longs,
    * so fusion order cannot produce float drift and the fused ranking
    * is engine-exact.
    *
    * Scale shape: each arm is its own top-k (BM25 = stats aggregate +
    * scan-score-topk; cosine = the ANN tier, brute here as the oracle-able
    * stand-in for IVF serving); fusion then runs in one task over the
    * 2·k rank rows — a no-op at any corpus size. Emits (rank, doc_id,
    * rrf_q). */
  val pipe_hybrid_rrf: Q = (s, dir) => {
    val bm = SearchQueries.bm25TopK(tokenized(s, dir), Seq("spark", "join"), 10)
    val e = corpus(s, dir)
    val cos = Ann.brute(
        e.where(col("vid") === 7).select(col("vid").as("qid"), col("v").as("qv")),
        e.select(col("vid"), col("v")), k = 10)
      .select(col("rank"), col("neighbor").as("doc_id"))
    import s.implicits._
    bm.unionByName(cos).coalesce(1).mapPartitions { arms =>
      graft.ops.Retrieval.fuse(arms.map(r => (r.getLong(1), r.getInt(0))).toSeq,
          k = 60, limit = 10)
        .zipWithIndex.map { case ((doc, rrf), i) => (i + 1, doc, rrf) }.iterator
    }.toDF("rank", "doc_id", "rrf_q")
  }

  /** Deterministic epoch shuffle + sharding at a fixed 8-shard oracle
    * point; see [[graft.ops.EpochShuffle]] for the op and its scale
    * shape (the shard count is the caller's lever — 8 is this oracle's
    * pin, not a default). */
  val pipe_epoch_shuffle: Q = (s, dir) =>
    graft.ops.EpochShuffle
      .epochShuffle(docs(s, dir), col("doc_id"), "epoch1", numShards = 8L)
      .orderBy(col("doc_id"))

  /** Auto-sized epoch shuffle: shard count = ceil(Σ length(text) /
    * 20k chars), so the per-shard sort stays ~20k chars of corpus no
    * matter the scale — the sizing a 100 TB run needs (fixed counts give
    * corpus/N-sized per-task sorts). The census is one column-pruned
    * scalar aggregate; the oracle reproduces the count with the same
    * integer ceil. The 20k target is the GATE's pin (sf0.01 sums to
    * ~149k chars → 8 shards, so the modulo + multi-shard window paths
    * actually exercise; 200k collapsed to 1 shard and proved nothing —
    * r9 verdict #2); production callers pick a real per-shard budget. */
  val pipe_epoch_shuffle_auto: Q = (s, dir) =>
    graft.ops.EpochShuffle
      .epochShuffleAuto(docs(s, dir), col("doc_id"), length(col("text")),
        "epoch1", targetShardSize = 20000L)
      .orderBy(col("doc_id"))

  /** Sequence packing for training batches: within each source shard,
    * documents in doc_id order fill contiguous ~512-token packs
    * (pack_id = running-token-count-before-this-doc div budget). The
    * window partitions by source, so packing parallelizes per shard with
    * no global sort — the way a real pipeline packs per input file. */
  val pipe_pack_sequences: Q = (s, dir) => {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .withColumn("n_tok", size(tokenizeDefault(col("text"))).cast("long"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("source"), col("doc_id"), col("n_tok"),
        expr("(cum - n_tok) div 512").as("pack_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Per-domain document counts over synthesized URLs (each doc cites a
    * deterministic site and CDN host derived from doc_id — the
    * text_pii_scrub fixture pattern); see
    * [[graft.ops.TextAnalysis.domainCounts]]. */
  val text_domains: Q = (s, dir) =>
    TextAnalysis.domainCounts(
      docs(s, dir).withColumn("raw",
        concat(col("text"), lit(" see https://site"),
          (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" and http://cdn.assets-"),
          (col("doc_id") % 3).cast("string"), lit(".net/x"))),
      col("doc_id"), col("raw"))
      .orderBy(col("domain"))

  /** Scalar-quantized ANN — see [[graft.ops.Ann.sq8]]: per-dim min/max →
    * 256-bin floor quantization → integer dot-product ranking (exact
    * integer math, so the oracle reproduces ranks bit-for-bit). */
  val knn_sq8: Q = (s, dir) =>
    Ann.sq8(corpus(s, dir).select(col("vid"), col("v")),
      isQuery = _ < 20, k = 5)
      .orderBy(col("qid"), col("rank"))

  /** IVF nprobe candidate cut ranked by the int8 dot product — the
    * composed memory-bandwidth × sublinear-scan pattern; see
    * [[graft.ops.Ann.sq8Ivf]]. Same deterministic centroids as
    * [[knn_ivf]], same quantization as [[knn_sq8]]. */
  val knn_sq8_ivf: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.sq8Ivf(e.select(col("vid"), col("v")),
      isQuery = _ < 20,
      e.where(col("vid") < 16).select(col("vid").as("cid"), col("v").as("cv")),
      nProbe = 2, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF nprobe candidate cut ranked by PQ's ADC lookup — the production
    * ANN tier (sublinear scan × m-ints-per-candidate memory bandwidth).
    * Same deterministic centroids as [[knn_ivf]], same codebooks and
    * fixed-point ADC as [[knn_pq]]; see [[graft.ops.Ann.ivfPq]]. */
  val knn_ivf_pq: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.ivfPq(e.select(col("vid"), col("v")),
      isQuery = _ < 20,
      e.where(col("vid") < 16).select(col("vid").as("cid"), col("v").as("cv")),
      nProbe = 2, numSubspaces = 4, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** C4-style global line dedup ([[graft.ops.TextAnalysis.lineDedup]]):
    * every distinct line keeps exactly one occurrence corpus-wide, owned
    * by the smallest doc containing it. The fixture corpus has no
    * sentence separators, so the query plants them (the text_pii_scrub
    * fixture pattern): two document substrings plus a boilerplate notice
    * shared by every fifth document — the boilerplate-removal shape the
    * C4 pass exists for. */
  val text_line_dedup: Q = (s, dir) =>
    TextAnalysis.lineDedup(linedDocs(s, dir), col("doc_id"), col("lined"))
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"))
      .orderBy(col("doc_id"))

  /** Documents with planted sentence separators — shared input of the
    * line-dedup diagnostic and apply queries (the fixture corpus has no
    * separators, so the queries plant two document substrings around a
    * boilerplate notice shared by every fifth doc). */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("lined", concat_ws(". ",
      substring(col("text"), 1, 40),
      concat(lit("shared boilerplate notice "),
        pmod(col("doc_id"), lit(5)).cast("string")),
      substring(col("text"), 41, 40)))

  /** The C4 pass as a TRANSFORM ([[graft.ops.TextAnalysis.lineDedupApply]]):
    * drop every line owned elsewhere (and within-doc repeats), reassemble
    * the survivors in original order — the rewritten corpus itself, not
    * just the counts. */
  val text_line_dedup_apply: Q = (s, dir) =>
    TextAnalysis.lineDedupApply(linedDocs(s, dir), col("doc_id"), col("lined"))
      .select(col("id").as("doc_id"), col("n_kept"), col("new_text"))
      .orderBy(col("doc_id"))

  /** Training-mixture token allocation ([[graft.ops.Mixture]]): weights
    * derive deterministically from the source number (the fixture
    * pattern — weight parts 1..3), availability is each source's token
    * count, and the output is the largest no-upsampling budget's
    * per-source allocation in exact integer arithmetic. */
  val pipe_mix_weights: Q = (s, dir) =>
    graft.ops.Mixture.mixAllocation(
      docs(s, dir),
      col("source"),
      size(tokenizeDefault(col("text"))).cast("long"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))

  /** The mixture REALIZED ([[graft.ops.Mixture.mixRealize]]): each
    * source's doc stream cut exactly at its [[pipe_mix_weights]] token
    * budget — the deterministic hash-order prefix whose cumulative
    * token count fits alloc_s, the step [[pipe_temperature_sample]]
    * only hits in expectation. Same fixture weight rule (parts 1..3
    * from the source number); the oracle replays the allocation CTE
    * plus the running-sum cut. One row per source:
    * (source, alloc_tokens, kept_docs, kept_tokens, slack_tokens),
    * slack strictly under the boundary doc's token count. */
  val pipe_mix_realize: Q = (s, dir) =>
    graft.ops.Mixture.mixRealize(
      docs(s, dir),
      col("doc_id"),
      col("source"),
      size(tokenizeDefault(col("text"))).cast("long"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))

  /** The multi-EPOCH mixture plan ([[graft.ops.Mixture.mixEpochs]]):
    * budget = 2× the corpus tokens (past the no-upsampling point), cap
    * at 3 epochs per source, excess reported as shortfall. Same fixture
    * weight rule as [[pipe_mix_weights]]; the oracle replays share,
    * epoch, cap, and shortfall arithmetic (HUGEINT for the ×10⁶
    * epoch scale-up). */
  val pipe_mix_epochs: Q = (s, dir) =>
    graft.ops.Mixture.mixEpochs(
      docs(s, dir),
      col("source"),
      size(tokenizeDefault(col("text"))).cast("long"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1,
      budgetNum = 2L, maxEpochs = 3L)
      .orderBy(col("source"))

  /** The multi-epoch plan COMPLETED ([[graft.ops.Mixture.mixEpochsPlan]]):
    * [[pipe_mix_epochs]] reports capped sources' excess as shortfall;
    * this runs the water-filling fixpoint that redistributes it across
    * the uncapped sources (share ∝ weight, recomputed each round over
    * the survivors) until no share exceeds its 3-epoch cap. Same
    * fixture rule (weights 1..3, budget 2× corpus tokens); on this
    * corpus the fixpoint takes 2–3 rounds and caps 4–5 sources — the
    * oracle replays the identical simultaneous-round integer
    * arithmetic over a fixed 12-round unroll (rounds are idempotent at
    * the fixpoint, so the unroll bound only has to EXCEED the actual
    * round count). */
  val pipe_mix_epochs_plan: Q = (s, dir) =>
    graft.ops.Mixture.mixEpochsPlan(
      docs(s, dir),
      col("source"),
      size(tokenizeDefault(col("text"))).cast("long"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1,
      budgetNum = 2L, maxEpochs = 3L)
      .orderBy(col("source"))

  /** The multi-epoch mixture REALIZED
    * ([[graft.ops.Mixture.mixEpochsRealize]]): per source, ⌊epochs⌋
    * full passes over every doc plus the fractional epoch's hash-order
    * prefix cut, each pass shard-assigned with the epoch folded into
    * the shuffle seed ([[graft.ops.EpochShuffle.epochShuffleTagged]])
    * so repeats land in distinct shard orders. The oracle replays the
    * water-filling unroll, the epoch expansion (generate_series ×
    * doc join), the fractional running-sum cut, and the md5 shard/pos
    * assignment. One row per (doc, epoch):
    * (doc_id, source, n_tok, epoch, shard, pos). */
  val pipe_mix_epochs_realize: Q = (s, dir) =>
    graft.ops.Mixture.mixEpochsRealize(
      docs(s, dir),
      col("doc_id"),
      col("source"),
      size(tokenizeDefault(col("text"))).cast("long"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1,
      budgetNum = 2L, maxEpochs = 3L, seed = "mixep", numShards = 4L)
      .select(col("id").as("doc_id"), col("source"), col("n_tok"),
        col("epoch"), col("shard"), col("pos"))
      .orderBy(col("source"), col("epoch"), col("shard"), col("pos"))

  /** The INTERLEAVE schedule of the realized mixture
    * ([[graft.ops.Mixture.mixSchedule]] over [[pipe_mix_realize]]'s
    * kept rows): stride scheduling — source s's k-th hash-order draw
    * keyed at its stride midpoint ⌊(2k−1)·W / (2·w_s)⌋ — so reading
    * the output key-ascending trains on the mixture's distribution at
    * every prefix instead of source-by-source. Closed-form exact
    * integer arithmetic; the oracle replays the realize cut, per-source
    * hash ranks, and the key. */
  val pipe_mix_schedule: Q = (s, dir) => {
    val wExpr = pmod(substring(col("source"), 4, 10).cast("long"),
      lit(3)) + 1
    graft.ops.Mixture.mixSchedule(
      graft.ops.Mixture.mixRealizeKept(
        docs(s, dir),
        col("doc_id"),
        col("source"),
        size(tokenizeDefault(col("text"))).cast("long"),
        wExpr),
      col("id"), col("source"), wExpr)
      .select(col("skey"), col("source"), col("id").as("doc_id"))
      .orderBy(col("skey"), col("source"), col("doc_id"))
  }

  /** [[pipe_mix_schedule]]'s WIDE-WEIGHT face — the overflow gate for
    * the stride arithmetic's DECIMAL(38,0) widening (r18 verdict #3):
    * weights at token-mass scale ((1..3)·10¹⁸ — the `weight` column is
    * caller-supplied, and a 100 TB mixture spec legitimately carries
    * token counts there), so on this corpus BOTH face the wrap: Σw ≈
    * 3.9×10¹⁹ > 2⁶³ wraps a BIGINT window SUM, and `(2k−1)·W` reaches
    * ~2×10²¹ — silent in Spark Int64, exact in DuckDB's HUGEINT — so
    * the oracle hash-match IS the wrap detector for the sum AND the
    * multiply. Scale-invariance makes the expected values legible:
    * ⌊(2k−1)·cW / (2cw)⌋ = ⌊(2k−1)·W / (2w)⌋ for any c, so these keys
    * equal [[pipe_mix_schedule]]'s narrow arithmetic on the same draws
    * (spec-pinned), and only an overflow can diverge. Runs over the
    * raw corpus (no realize cut — the cut at wide weights would
    * allocate u = 0): [[graft.ops.Mixture.mixSchedule]]'s contract is
    * any (id, source, weight) relation. */
  val pipe_mix_schedule_wide: Q = (s, dir) => {
    val wExpr = (pmod(substring(col("source"), 4, 10).cast("long"),
      lit(3)) + 1) * lit(1000000000000000000L)
    graft.ops.Mixture.mixSchedule(docs(s, dir), col("doc_id"),
        col("source"), wExpr)
      .select(col("skey"), col("source"), col("id").as("doc_id"))
      .orderBy(col("skey"), col("source"), col("doc_id"))
  }

  /** The SCHEDULED multi-epoch shard assignment
    * ([[graft.ops.EpochShuffle.epochShuffleScheduled]] over
    * [[pipe_mix_epochs_realize]]'s kept relation — r18 verdict #1):
    * shard membership is byte-identical to the realize row (same
    * epoch-folded `h64('mixep':epoch:id)` key, same mod-4), but `pos`
    * within each (epoch, shard) is the ascending STRIDE order of that
    * group's rows — per-source rank k in hash order, key
    * ⌊(2k−1)·W/(2w_s)⌋ with W summed over the sources PRESENT in the
    * kept mixture — so a trainer reading one shard sequentially sees
    * each source at its weighted rate in every prefix, which the
    * hash-ordered sink provably does not give (the gap the r18 verdict
    * named: the schedule existed only as a separate artifact the sink
    * ignored). The oracle replays the water-fill unroll, the epoch
    * expansion, the fractional cut, the shard hash, the per-(epoch,
    * shard, source) rank, the HUGEINT stride key, and the dense pos.
    * One row per (doc, epoch): (doc_id, source, epoch, shard, skey,
    * pos). */
  val pipe_mix_shard_schedule: Q = (s, dir) => {
    val wExpr = pmod(substring(col("source"), 4, 10).cast("long"),
      lit(3)) + 1
    val kept = graft.ops.Mixture.mixEpochsKept(
      docs(s, dir), col("doc_id"), col("source"),
      size(tokenizeDefault(col("text"))).cast("long"), wExpr,
      budgetNum = 2L, maxEpochs = 3L)
    graft.ops.EpochShuffle.epochShuffleScheduled(kept, col("id"),
        col("epoch"), col("source"), wExpr, seed = "mixep",
        numShards = 4L)
      .select(col("id").as("doc_id"), col("source"), col("epoch"),
        col("shard"), col("skey"), col("pos"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  /** The HOT-SOURCE form of [[pipe_mix_realize]]
    * ([[graft.ops.Mixture.mixRealizeTwoPass]]): per-source hash
    * thresholds sized to an expected `alloc·slack` token mass bound the
    * windowed survivor set, so no window task ever holds a whole
    * source — the running-sum analogue of [[pipe_domain_quota_2pass]].
    * The oracle replays threshold arithmetic (DECIMAL/HUGEINT) and the
    * cut; the spec pins equality with the window form on this corpus. */
  val pipe_mix_realize_2pass: Q = (s, dir) =>
    graft.ops.Mixture.mixRealizeTwoPass(
      docs(s, dir),
      col("doc_id"),
      col("source"),
      size(tokenizeDefault(col("text"))).cast("long"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))

  /** The full curation pass end-to-end, one call: Gopher quality
    * keep/drop ([[graft.ops.TextAnalysis.gopherKeep]], inline in the
    * corpus projection — single scan), exact dedup among the keepers
    * (first-by-doc_id per content hash, one md5-keyed window), then
    * training-mixture token allocation over the survivors
    * ([[graft.ops.Mixture.mixAllocation]]). The per-stage ops are each
    * gated alone (`text_gopher_filter`, `dedup_exact`,
    * `pipe_mix_weights`); this gates their composition — the pipeline a
    * curation run actually executes. Scale shape: ONE corpus scan, one
    * content-hash shuffle, one source-keyed aggregate. */
  val pipe_curate: Q = (s, dir) => {
    // r20 (guide §2.3 "project before the exchange"): everything past the
    // Gopher filter needs only (doc_id, source, content hash, token
    // count) — computing them BEFORE the dedup window and dropping `text`
    // narrows the window's content-hash exchange from document bytes to
    // ~50 bytes/row. The token count now computes on every Gopher keeper
    // instead of only dedup winners — a per-row map traded for not
    // shipping the corpus text through a shuffle, the §8 "decide with
    // small rows" rule. Values are identical: n_tok/source are pure
    // row-functions, the window key and order are unchanged.
    val survivors = docs(s, dir)
      .where(graft.ops.TextAnalysis.gopherKeep(col("text"),
        stopwords = GopherStops,
        minWords = GopherMinWords, maxWords = GopherMaxWords))
      .select(col("doc_id"), col("source"), md5(col("text")).as("__h"),
        size(tokenizeDefault(col("text"))).cast("long").as("__n_tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
    graft.ops.Mixture.mixAllocation(
      survivors,
      col("source"),
      col("__n_tok"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))
  }

  /** [[pipe_curate]] with the CCNet stage in the chain — the
    * RedPajama-shape pipeline a modern pretraining run executes:
    * Gopher quality keep/drop AND bigram-LM perplexity keep
    * ([[graft.ops.LangModel.bigramNll]] — "reads like the reference
    * corpus"), exact dedup among the double-keepers, mixture allocation
    * over the survivors. Each stage is gated alone; this gates the
    * composition. The LM stage inherently costs a second corpus pass
    * (its model is a global aggregate of the corpus being filtered) and
    * one doc-keyed join to attach the keep bit; everything else rides
    * the single-scan shape of [[pipe_curate]]. */
  val pipe_curate_v2: Q = (s, dir) => {
    val lm = LangModel.bigramNll(
        docs(s, dir).select(col("doc_id"), col("lang"),
          tokenizeDefault(col("text")).as("toks")),
        col("doc_id"), col("toks"), col("lang") === "en", PerBigramNllQ)
      .where(col("keep")).select(col("did").as("doc_id"))
    val survivors = docs(s, dir)
      .join(lm, Seq("doc_id"))
      .where(graft.ops.TextAnalysis.gopherKeep(col("text"),
        stopwords = GopherStops,
        minWords = GopherMinWords, maxWords = GopherMaxWords))
      // project before the window exchange — see pipe_curate (r20, §2.3)
      .select(col("doc_id"), col("source"), md5(col("text")).as("__h"),
        size(tokenizeDefault(col("text"))).cast("long").as("__n_tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
    graft.ops.Mixture.mixAllocation(
      survivors,
      col("source"),
      col("__n_tok"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))
  }

  /** The FineWeb-shape curation chain — the third composition tier:
    * per-domain quota ([[graft.ops.Mixture.domainQuota]]) ∧ Gopher keep
    * ∧ NOT Bloom-contaminated ([[graft.ops.Dedup.decontaminateBloom]],
    * docs < 10 = the benchmark, excluded from the corpus) → exact dedup
    * → mixture allocation (the [[pipe_curate]] tail). Contamination is
    * a doc-level property, so the keep sets intersect — the drop set
    * anti-joins in, and docs too short to shingle (absent from the
    * filter's probe table) are kept by the anti-join's absence
    * semantics, matching the oracle's ANTI JOIN restatement. */
  val pipe_curate_v3: Q = (s, dir) => {
    val quota = graft.ops.Mixture
      .domainQuota(docs(s, dir), col("doc_id"), col("source"), quota = 15L)
      .select(col("id").as("doc_id"))
    val sh = shingled(s, dir)
    val contaminated = Dedup.decontaminateBloom(
        sh.where(col("doc_id") >= 10),
        sh.where(col("doc_id") < 10),
        mBits = 1 << 18, numHashes = 3, minHits = 1L)
      .where(!col("keep")).select(col("doc_id"))
    val survivors = docs(s, dir)
      .where(col("doc_id") >= 10)
      .join(quota, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .where(graft.ops.TextAnalysis.gopherKeep(col("text"),
        stopwords = GopherStops,
        minWords = GopherMinWords, maxWords = GopherMaxWords))
      // project before the window exchange — see pipe_curate (r20, §2.3)
      .select(col("doc_id"), col("source"), md5(col("text")).as("__h"),
        size(tokenizeDefault(col("text"))).cast("long").as("__n_tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
    graft.ops.Mixture.mixAllocation(
      survivors,
      col("source"),
      col("__n_tok"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))
  }

  /** Overlapping token-window chunking — the standard pre-pass of an
    * embedding/RAG pipeline (chunk = 64 tokens, stride 48, so adjacent
    * chunks overlap by 16): one chunk per start position 0, s, 2s, …
    * stopping at the FIRST window that reaches the doc end (a later
    * start would be fully contained in it — zero added coverage for the
    * embed-once stage), that last chunk clamped to the end. Output per
    * chunk: (doc_id, chunk_id, start_tok, n_tok, chunk_hash) with
    * chunk_hash = md5 of the space-joined window, the key a downstream
    * embed-once/dedup-chunks stage joins on. Map-only explode — no
    * shuffle at any scale; chunk arithmetic is exact integers. */
  /** Sentence-boundary chunking under a token budget — the OTHER
    * embedding-pipeline chunker ([[pipe_chunk_windows]] cuts fixed token
    * windows mid-sentence; RAG/embedding pipelines usually prefer
    * sentence-aligned chunks): split each doc into sentences, then group
    * consecutive sentences into chunks of ~32 tokens with the
    * pack_sequences running-sum rule (chunk_id = tokens-before DIV
    * budget — a sentence longer than the budget gets its own chunk, no
    * sentence splits). The window partitions per doc, so chunking
    * parallelizes per document with no global sort. Output:
    * (doc_id, pos, n_tok, chunk_id) — pos is the sentence's original
    * index, positions with only punctuation keep n_tok = 0.
    *
    * The fixture corpus has NO sentence punctuation (r9 verdict #2: the
    * split/window/multi-chunk paths were all unexercised — one sentence
    * per doc, chunk_id 0 everywhere), so the gate synthesizes boundaries
    * first, the text_domains synthesized-URL pattern: '.' is appended to
    * every k-th token with k = 5 + doc_id % 7, giving 4-10 sentences per
    * doc and cum > 32 tokens → chunk_id > 0. Both engines build the
    * IDENTICAL synthetic text (indexed-lambda transform; Spark's index is
    * 0-based, DuckDB's 1-based — the oracle accounts for it). */
  val pipe_chunk_sentences: Q = (s, dir) => {
    val sents = docs(s, dir)
      .withColumn("stext", expr(
        """array_join(transform(split(text, ' '),
          |  (x, i) -> CASE WHEN (i + 1) % (5 + doc_id % 7) = 0
          |            THEN concat(x, '.') ELSE x END), ' ')""".stripMargin))
      .select(col("doc_id"),
        posexplode(split(col("stext"), "\\. ")).as(Seq("pos", "sent")))
      .where(length(trim(col("sent"))) > 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sents
      .withColumn("n_tok", size(tokenizeDefault(col("sent"))).cast("long"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("n_tok"),
        expr("(cum - n_tok) div 32").as("chunk_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  val pipe_chunk_windows: Q = (s, dir) => {
    val (chunk, stride) = (64, 48)
    tokenized(s, dir).where(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          expr(s"""CASE WHEN size(toks) <= $chunk THEN 0
                  |ELSE (size(toks) - $chunk + ${stride - 1}) DIV $stride
                  |END""".stripMargin).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride).cast("long").as("start_tok"),
        least(lit(chunk), size(col("toks")) - col("chunk_id") * stride)
          .cast("long").as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(chunk))))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** DSIR data selection ([[graft.ops.Dsir.importanceScores]]): the `en`
    * documents are the target corpus, every other document is the raw
    * candidate pool; hashed unigram+bigram features in 256 buckets, and
    * the 100 highest-importance candidates are selected (ties to the
    * smaller doc_id). Scores are exact integers (quantized-LLR sums), so
    * the whole selection is oracle-reproducible. */
  val pipe_dsir_select: Q = (s, dir) => {
    val scores = Dsir.importanceScores(
      docs(s, dir).select(col("doc_id"), col("lang"),
        tokenizeDefault(col("text")).as("toks")),
      col("doc_id"), col("toks"), col("lang") === "en", buckets = 256)
    // TakeOrdered cut FIRST (scale-safe global top-k), then the rank
    // window runs over the 100 survivors only — never the corpus. The
    // limit leaves them in one partition, so a window keyed on the
    // partition id numbers them as an unpartitioned one would
    val top = docs(s, dir).where(col("lang") =!= "en")
      .select(col("doc_id"))
      .join(scores, col("doc_id") === col("did"))
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(100)
    top.withColumn("sel_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(spark_partition_id())
          .orderBy(col("score").desc, col("doc_id").asc)))
      .orderBy(col("doc_id"))
  }

  /** Per-bigram quantized-NLL keep threshold for [[pipe_lm_perplexity]]:
    * `ln(ppl_max) · 1e6` for a perplexity ceiling of 30 — the fixture
    * corpus' per-bigram NLL centers at ln(30), so this splits it near the
    * median (CCNet's head/middle/tail split plays the same role on real
    * crawls). ONE definition shared with the oracle SQL so the threshold
    * cannot drift. */
  private val PerBigramNllQ = 3401197L // floor(ln(30) * 1e6)

  /** Mean per-trigram quantized stupid-backoff NLL keep threshold —
    * the same "perplexity ≤ 30" semantics as [[PerBigramNllQ]]
    * (ln(30)·1e6): on the fixture the per-trigram NLL distribution has
    * median 3.51e6 with backed-off documents above it, so this keeps
    * the mostly-in-model ~45% and drops the mostly-backed-off rest.
    * ONE constant shared with the oracle. */
  private val PerTrigramNllQ = 3401197L // floor(ln(30) * 1e6)

  /** Trigram stupid-backoff perplexity filter
    * ([[graft.ops.LangModel.trigramNll]] — Brants et al. 2007, the LM
    * family designed for distributed count tables): train on the 'en'
    * slice, score every document, keep mean per-trigram quantized NLL
    * ≤ [[PerTrigramNllQ]] (ln(30)·10⁶ — the bigram filter's
    * perplexity-30 semantics). The CCNet tier's n=3 member next to the
    * bigram filter and its terciles. */
  val pipe_lm_trigram: Q = (s, dir) =>
    LangModel.trigramNll(
        docs(s, dir).select(col("doc_id"), col("lang"),
          tokenizeDefault(col("text")).as("toks")),
        col("doc_id"), col("toks"), col("lang") === "en", PerTrigramNllQ)
      .orderBy(col("did"))

  /** CCNet-style LM quality filter ([[graft.ops.LangModel.bigramNll]]):
    * the `en` documents train an add-one-smoothed bigram LM; every
    * document scores its exact integer quantized NLL under it, and `keep`
    * is the integral per-bigram-threshold form of "perplexity below 30"
    * ([[PerBigramNllQ]] — ONE constant shared with the oracle SQL).
    * Scores are exact integers, so the whole filter is
    * oracle-reproducible. */
  val pipe_lm_perplexity: Q = (s, dir) =>
    LangModel.bigramNll(
      docs(s, dir).select(col("doc_id"), col("lang"),
        tokenizeDefault(col("text")).as("toks")),
      col("doc_id"), col("toks"), col("lang") === "en", PerBigramNllQ)
      .withColumnRenamed("did", "doc_id")
      .orderBy(col("doc_id"))

  /** Moore–Lewis cross-entropy difference selection (Moore & Lewis
    * 2010, "Intelligent Selection of Language Model Training Data") —
    * the classic two-LM data-selection rule: score every document with
    * `H_in(doc) − H_out(doc)`, its per-bigram NLL under the IN-DOMAIN
    * model (trained on `en`) minus under the GENERAL model (trained on
    * the whole corpus), and keep documents the in-domain model explains
    * better (`ml_q ≤ 0`). Unlike a single-LM perplexity filter this
    * cancels generic easiness: a document scoring well under BOTH models
    * is not selected for domain affinity it doesn't have. Both scores
    * are [[graft.ops.LangModel.bigramNll]]'s exact quantized integers,
    * so the difference and the integer-division normalization are
    * oracle-exact. Two model chains = two corpus passes (inherent —
    * the models have different training sets); the tokenized snapshot
    * is shared. */
  val pipe_moore_lewis: Q = (s, dir) =>
    mooreLewisScored(s, dir).orderBy(col("doc_id"))

  /** [[pipe_moore_lewis]]'s unordered scored table — snapshotted per
    * (session, dir) so the score gate and the [[pipe_curate_v5]]
    * composition share one pair of LM chains (doc-level rows: the
    * snapshot is keep-decision-sized, not corpus-sized). */
  private def mooreLewisScored(s: SparkSession, dir: String): DataFrame =
    memoSnap((s, dir, "mlscore")) { mooreLewisScoredBuild(s, dir) }

  private def mooreLewisScoredBuild(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), col("lang"), tokenizeDefault(col("text")).as("toks"))
      .localCheckpoint(eager = false) // two model chains consume it
    val inS = LangModel.bigramNll(base, col("doc_id"), col("toks"),
        col("lang") === "en", 0L)
      .select(col("did").as("doc_id"), col("n_bigrams"),
        col("nll_q").as("nll_in_q"))
    val outS = LangModel.bigramNll(base, col("doc_id"), col("toks"),
        lit(true), 0L)
      .select(col("did").as("doc_id"), col("nll_q").as("nll_out_q"))
    inS.join(outS, "doc_id")
      .withColumn("ml_q", expr("CASE WHEN n_bigrams > 0" +
        " THEN (nll_in_q - nll_out_q) DIV n_bigrams ELSE 0 END"))
      .withColumn("keep", col("ml_q") <= 0)
  }

  /** The curation chain with the NEW selection tiers standing in for the
    * rule filters: Moore–Lewis domain affinity (∧) the two-pass domain
    * quota, then the shared dedup + mixture tail — the FineWeb shape of
    * [[pipe_curate_v3]] with learned-LM selection replacing Gopher and
    * the hot-domain-safe quota replacing the window form. The oracle
    * replays both selection tiers (two LM chains + threshold/rank
    * passes) before the shared tail fragment. */
  val pipe_curate_v5: Q = (s, dir) => {
    val mlKeep = mooreLewisScored(s, dir)
      .where(col("keep")).select(col("doc_id"))
    val quotaKeep = graft.ops.Mixture
      .domainQuotaTwoPass(docs(s, dir), col("doc_id"), col("source"),
        quota = 15L, slack = 2L)
      .select(col("id").as("doc_id"))
    val keepers = docs(s, dir)
      .join(mlKeep, Seq("doc_id")).join(quotaKeep, Seq("doc_id"))
    val survivors = keepers
      // project before the window exchange — see pipe_curate (r20, §2.3)
      .select(col("doc_id"), col("source"), md5(col("text")).as("__h"),
        size(tokenizeDefault(col("text"))).cast("long").as("__n_tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
    graft.ops.Mixture.mixAllocation(
      survivors,
      col("source"),
      col("__n_tok"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))
  }

  /** Min-K% prob membership audit
    * ([[graft.ops.LangModel.minKProb]], Shi et al. 2023): mean quantized
    * NLL of each document's worst-20% bigram positions under the
    * `en`-trained model — members score suspiciously low even on their
    * worst tokens. The boundary bigram type is taken partially, so the
    * statistic is position-exact, not type-approximate; the spec pins
    * the membership separation (train docs' mean far below
    * non-members'). */
  val pipe_min_k_prob: Q = (s, dir) =>
    LangModel.minKProb(
      docs(s, dir).select(col("doc_id"), col("lang"),
        tokenizeDefault(col("text")).as("toks")),
      col("doc_id"), col("toks"), col("lang") === "en")
      .withColumnRenamed("did", "doc_id")
      .orderBy(col("doc_id"))

  /** Interpolated Kneser–Ney bigram scoring
    * ([[graft.ops.LangModel.kneserNeyNll]]) — the discount/continuation
    * tier of the LM-quality family, same train corpus (`en`), same
    * "perplexity ≤ 30" keep threshold, same quantized-integer NLL
    * discipline; the oracle restates the four count tables, both 1-row
    * scalars, and the ONE fixed-shape probability expression verbatim. */
  val pipe_lm_kneser_ney: Q = (s, dir) =>
    LangModel.kneserNeyNll(
      docs(s, dir).select(col("doc_id"), col("lang"),
        tokenizeDefault(col("text")).as("toks")),
      col("doc_id"), col("toks"), col("lang") === "en", PerBigramNllQ)
      .withColumnRenamed("did", "doc_id")
      .orderBy(col("doc_id"))

  /** One BPE training iteration ([[graft.ops.Bpe.topPairs]]): the 50 most
    * frequent adjacent character pairs over the tokenized corpus, weighted
    * by word frequency — counts exact, ties broken on pair text, rank
    * included so the merge priority order is itself gated. */
  val pipe_bpe_step: Q = (s, dir) =>
    Bpe.topPairs(
      docs(s, dir).select(tokenizeDefault(col("text")).as("toks")),
      col("toks"), k = 50)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("rank"))

  /** CCNet's head/middle/tail perplexity terciles
    * ([[graft.ops.LangModel.perplexityTerciles]]): per-language
    * percentile_disc(1/3, 2/3) boundaries over the integer per-bigram
    * NLL, exact via a value histogram — no corpus sort. The oracle uses
    * DuckDB's native percentile_disc, so the histogram restatement is
    * gated against the textbook definition. */
  val pipe_lm_terciles: Q = (s, dir) =>
    LangModel.perplexityTerciles(
      docs(s, dir).select(col("doc_id"), col("lang"),
        tokenizeDefault(col("text")).as("toks")),
      col("doc_id"), col("lang"), col("toks"), col("lang") === "en")
      .withColumnRenamed("did", "doc_id")
      .orderBy(col("doc_id"))

  /** The FULL BPE training loop at N=3 ([[graft.ops.Bpe.train]]): each
    * round counts pairs over the current segmentation, merges the argmax
    * everywhere, repeats — so rounds 2 and 3 see pairs containing merged
    * symbols the initial frequency table never had. The oracle replays
    * all three rounds unrolled (count → argmax → island-parity merge
    * apply), so the whole loop — not just round 1 — is gated. */
  val pipe_bpe_train: Q = (s, dir) =>
    Bpe.train(
      docs(s, dir).select(tokenizeDefault(col("text")).as("toks")),
      col("toks"), iterations = 3)
      .orderBy(col("iter"))

  /** ENCODE under the table [[pipe_bpe_train]] produces — train and
    * apply gated as one lifecycle: the Spark side re-encodes the
    * vocabulary with the learned 3-merge table via the rank-greedy
    * [[graft.exprs.BpeEncode]], the oracle takes the segmentation the
    * unrolled training replay left behind (sequential application),
    * and the two must agree word-for-word. */
  val pipe_bpe_train_apply: Q = (s, dir) => {
    // trainWithVocab hands back the checkpointed word-frequency table, so
    // the encode pass reuses the one corpus collapse training already paid
    val (mt, words) = Bpe.trainWithVocab(
      docs(s, dir).select(tokenizeDefault(col("text")).as("toks")),
      col("toks"), iterations = 3)
    val merges = mt.orderBy(col("iter")).collect().map(_.getString(1)).toSeq
    words
      .select(col("w").as("word"), col("freq"),
        Bpe.encode(col("w"), merges).as("pieces"))
      .select(col("word"), col("freq"),
        concat_ws(" ", col("pieces")).as("enc"),
        size(col("pieces")).cast("long").as("n_pieces"))
      .orderBy(col("word"))
  }

  /** Hard-negative mining for contrastive training (the DPR/retrieval
    * recipe): for each query document, candidates that are LEXICALLY
    * close (shared 5-gram shingles, the prefix-filterable signal) but
    * NOT among its exact semantic top-10 — the lexically-confusable,
    * semantically-distant examples a bi-encoder learns the most from.
    * The lexical arm counts shared distinct token 3-grams (3, not the
    * dedup tier's 5: confusability needs a DENSE signal — 5-gram df ≤ 3
    * here yields 2 candidate pairs corpus-wide, a degenerate gate; at
    * 100 TB the posting join takes the AllPairs prefix filter or LSH
    * banding exactly as the dedup tier does). Semantic truth is
    * [[graft.ops.Ann.brute]] (the oracle-able stand-in for the trained
    * IVF tier); the negatives are a per-query anti-join of two top-10
    * lists. Output: (qid, neg_id, shared, lex_rank). */
  val pipe_hard_negatives: Q = (s, dir) => {
    // the 3-gram stream feeds both sides of the posting self-join —
    // snapshot so the explode runs once
    val ex = tokenized(s, dir)
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(Dedup.gramArray(col("toks"), 3))).as("s"))
      .localCheckpoint(eager = false)
    val qp = ex.where(col("doc_id") < 20).select(col("doc_id").as("qid"), col("s"))
      .join(ex.select(col("doc_id").as("cand"), col("s")), Seq("s"))
      .where(col("cand") =!= col("qid"))
      .groupBy(col("qid"), col("cand")).agg(count(lit(1)).as("shared"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("shared").desc, col("cand").asc)
    val lex = qp.withColumn("lex_rank", row_number().over(w))
      .where(col("lex_rank") <= 10)
    val e = corpus(s, dir)
    val sem = Ann.brute(
        e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
        e.select(col("vid"), col("v")), k = 10)
      .select(col("qid"), col("neighbor").as("cand"))
    lex.join(sem, Seq("qid", "cand"), "left_anti")
      .select(col("qid"), col("cand").as("neg_id"), col("shared"),
        col("lex_rank"))
      .orderBy(col("qid"), col("lex_rank"))
  }

  /** The BOUNDED hard-negative miner — [[pipe_hard_negatives]]'s 100 TB
    * form, both arms cut the way the production dedup/ANN tiers already
    * are. Lexical arm: candidate pairs are the dedup tier's VERIFIED
    * 5-gram Jaccard ≥ 0.5 pairs ([[graft.ops.Dedup.ngramJaccardPrefix]]
    * — AllPairs prefix-filtered, measured linear in planted-dup mass:
    * 25 → 256 pairs across sf0.01 → sf0.1), then the dense
    * 3-gram-overlap score is computed ONLY on those pairs
    * (`array_intersect` of the two 3-gram sets — per-pair work, no
    * posting join), oriented both ways so every participating doc mines
    * its own confusable set, ranked per query by shared-3-gram count.
    * 3-gram AllPairs prefixes and 16/8 MinHash banding were both probed
    * and rejected for this corpus shape (ProbeHardNeg, in history:
    * `git show 408692e:src/main/scala/graft/tools/ProbeHardNeg.scala`:
    * 409k resp. 6.3k candidates at sf0.1 vs 256 here — hot 3-grams keep
    * df-sized/collision-sized fan-out super-linear). Semantic arm: the
    * TRAINED IVF top-10 ([[graft.ops.Ann.ivf]] over [[trainedCentroids]]
    * — broadcast centroids, cell-keyed candidate join) instead of
    * [[pipe_hard_negatives]]'s declared brute truth tier. Negatives =
    * lexical top-10 minus IVF top-10 per query. The unbounded sibling
    * stays registered as the oracle-able truth baseline, exactly like
    * [[knn_brute]] beside [[knn_ivf_trained]]. */
  val pipe_hard_negatives_bounded: Q = (s, dir) => {
    // the dedup tier's bounded pair set IS the confusability candidate
    // set; snapshot — both orientations consume it
    val pairs = Dedup.ngramJaccardPrefix(shingled(s, dir), threshold = 0.5)
      .localCheckpoint(eager = false)
    // r20: sh3 feeds BOTH sides of the scoring join, and `scored` — the
    // whole pairs + two-join + array_intersect chain — is consumed twice
    // by the orientation union below; without snapshots each ran twice
    // per invocation (two-consumers rule, guide §1/§5).
    val sh3 = Dedup.shingles(tokenized(s, dir), col("doc_id"), col("toks"), 3)
      .localCheckpoint(eager = false)
    val scored = pairs
      .join(sh3.select(col("doc_id").as("a"), col("shingles").as("g3a")), "a")
      .join(sh3.select(col("doc_id").as("b"), col("shingles").as("g3b")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("g3a"), col("g3b"))).cast("long").as("shared"))
      .localCheckpoint(eager = false)
    val oriented = scored
      .select(col("a").as("qid"), col("b").as("cand"), col("shared"))
      .unionByName(scored
        .select(col("b").as("qid"), col("a").as("cand"), col("shared")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("shared").desc, col("cand").asc)
    val lex = oriented.withColumn("lex_rank", row_number().over(w))
      .where(col("lex_rank") <= 10)
    val e = corpus(s, dir)
    val sem = Ann.ivf(
        e.select(col("vid").as("qid"), col("v").as("qv")),
        e.select(col("vid"), col("v")),
        trainedCentroids(s, dir), nProbe = 2, k = 10)
      .select(col("qid"), col("neighbor").as("cand"))
    lex.join(sem, Seq("qid", "cand"), "left_anti")
      .select(col("qid"), col("cand").as("neg_id"), col("shared"),
        col("lex_rank"))
      .orderBy(col("qid"), col("lex_rank"))
  }

  /** T5 span corruption over the corpus
    * ([[graft.ops.TextAnalysis.spanCorrupt]]): 3-token blocks masked at
    * a deterministic 1-in-7 hash rate (≈ the paper's 15% noise density),
    * sentinel-replaced input and sentinel-prefixed target per document —
    * the objective-preparation stage between curation and
    * [[pipe_pack_sequences]]. Corruption is hash-keyed on (doc, block):
    * reproducible across engines and epochs, fresh noise per epoch by
    * salt. */
  val pipe_span_corrupt: Q = (s, dir) =>
    TextAnalysis.spanCorrupt(
      docs(s, dir).select(col("doc_id"), tokenizeDefault(col("text")).as("toks")),
      col("doc_id"), col("toks"), span = 3, modDen = 7L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Weighted sampling WITHOUT replacement, k=20, weight = document
    * length (Efraimidis–Spirakis 2006 via the exponential race: draw
    * u_i from the doc's hash, the winner set is the k SMALLEST
    * `-ln(u_i)/w_i`). Deterministic form of "sample k docs proportional
    * to length": the exponential variate is quantized once
    * (`floor(-ln((h+1)/2^60)·10^6)`, the module's ln discipline) and
    * divided by the weight with truncating DIV — integers end to end,
    * ties on doc_id. One map pass + a TakeOrdered k-cut; rerunning on a
    * grown corpus preserves every surviving doc's key (hash, not
    * rand()), which is what makes the sample resumable. */
  val pipe_weighted_sample: Q = (s, dir) => {
    val keyed = docs(s, dir).select(col("doc_id"), col("n_chars"))
      .withColumn("eq",
        floor(-log((h64(concat(lit("ws:"), col("doc_id").cast("string"))) + 1)
          .cast("double") / lit(1.152921504606846976e18)) * 1e6).cast("long"))
      .withColumn("key_q", expr("eq DIV n_chars"))
    // limit leaves its 20 rows in one partition, so a window keyed on the
    // partition id ranks them as an unpartitioned one would, without
    // WindowExec's warning (a literal key is optimized away)
    val w = Window.partitionBy(spark_partition_id())
      .orderBy(col("key_q").asc, col("doc_id").asc)
    keyed.orderBy(col("key_q").asc, col("doc_id").asc).limit(20)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("n_chars"), col("key_q"))
  }

  /** Integer PageRank over a synthesized link graph
    * ([[graft.ops.Graphs.pageRank]]): each document links to two
    * hash-chosen targets (self-loops dropped, edges deduped — the
    * [[text_domains]] synthesized-structure pattern, since the fixture
    * has no real links), three exact-integer power iterations, every
    * node's final rank emitted. The crawl-curation authority signal
    * (host ranking) as the iterative-graph tier next to
    * [[dedup_cluster_canon]]'s label propagation; the oracle unrolls
    * all three iterations. */
  val pipe_pagerank: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"))
    val nDocs = d.count()
    val targets = Seq("e1", "e2").map { salt =>
      d.select(col("doc_id").as("src"),
        (h64(concat(lit(s"$salt:"), col("doc_id").cast("string"))) % nDocs)
          .as("dst"))
    }.reduce(_ unionByName _)
    val edges = targets.where(col("dst") =!= col("src")).distinct()
    graft.ops.Graphs.pageRank(d.select(col("doc_id").as("id")), edges,
        iterations = 3)
      .select(col("id").as("doc_id"), col("rank_q"))
      .orderBy(col("doc_id"))
  }

  /** Fill-in-the-middle transformation
    * ([[graft.ops.TextAnalysis.fimTransform]]): half the corpus (hash
    * coin on doc_id) re-serialized in PSM order at two hash-chosen cut
    * points, the rest passing through verbatim — [[pipe_span_corrupt]]'s
    * sibling for infilling objectives. Map-only. */
  val pipe_fim_transform: Q = (s, dir) =>
    TextAnalysis.fimTransform(
      docs(s, dir).select(col("doc_id"), tokenizeDefault(col("text")).as("toks")),
      col("doc_id"), col("toks"), fimDen = 2L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Trained WordPiece model per scale dir — merge-table rows (a model
    * artifact, 4 rows) plus the checkpointed word-frequency table,
    * memoized ([[FixtureMemo.model]]) so the train gate and the apply
    * gate share ONE training run (the unigram trainer's memo
    * discipline). */
  private def wordpieceModel(s: SparkSession,
      dir: String): (Seq[(Long, String, Long, Long, Long, Long)], DataFrame) =
    FixtureMemo.model(s"wordpiece:$dir") {
      val (mt, words) = Wordpiece.trainWithVocab(
        docs(s, dir).select(tokenizeDefault(col("text")).as("toks")),
        col("toks"), iterations = 4)
      val rows = mt.orderBy(col("iter")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      (rows, words)
    }

  /** The FULL WordPiece training loop at N=4
    * ([[graft.ops.Wordpiece.train]]): each round counts symbols AND
    * pairs over the current segmentation, merges the argmax of the
    * likelihood-gain score `cnt·10^12 DIV (c_left·c_right)` (quantized
    * integers, ties on pair text), repeats. Emits the full evidence per
    * round — pair count, both component counts, quantized score — and
    * the oracle replays all four rounds unrolled, so the score
    * arithmetic and the `##`-stripping merge apply are both gated. */
  val pipe_wordpiece_train: Q = (s, dir) => {
    import s.implicits._
    wordpieceModel(s, dir)._1
      .toDF("iter", "pair", "cnt", "ca", "cb", "score_q")
      .orderBy(col("iter"))
  }

  /** WordPiece INFERENCE under the trained vocabulary — greedy
    * longest-match-first ([[graft.exprs.WordPieceEncode]]), which is NOT
    * the training replay (longest match can segment differently than the
    * merge sequence did), so the oracle implements longest-match
    * independently: per-position best-match tables joined against the
    * vocabulary, then a recursive walk that follows the longest piece at
    * every step. Vocabulary = corpus alphabet (first + `##` forms) plus
    * the four merge outputs. */
  val pipe_wordpiece_train_apply: Q = (s, dir) => {
    val (mergeRows, words) = wordpieceModel(s, dir)
    val mergePairs = mergeRows.map(_._2)
    val vocab = Wordpiece.vocabFrom(Wordpiece.alphabet(words), mergePairs)
    words
      .select(col("w").as("word"), col("freq"),
        Wordpiece.encode(col("w"), vocab).as("pieces"))
      .select(col("word"), col("freq"),
        concat_ws(" ", col("pieces")).as("enc"),
        size(col("pieces")).cast("long").as("n_pieces"))
      .orderBy(col("word"))
  }

  /** BYTE-LEVEL BPE, trained and applied ([[graft.ops.Bpe.byteLevelToks]]
    * over the [[pipe_bpe_train_apply]] lifecycle): GPT-2-shape regex
    * pre-tokenization (words carry their leading space), every pre-token
    * byte-remapped so its codepoints are its UTF-8 bytes under the
    * printable table (space → 'Ġ'), then the UNCHANGED merge-table
    * machinery — 3 training rounds + rank-greedy encode — runs over the
    * 256-symbol base alphabet. The fixture corpus is pure ASCII, so the
    * gate synthesizes multi-byte text per doc (' café №' + doc_id%5):
    * 'é' exercises the identity Latin-1 bytes, '№' the U+0100+ fallback
    * rows, the digits the number pre-tokens. The oracle rebuilds the
    * byte remap from pure codepoint arithmetic, replays the 3 training
    * rounds unrolled, and takes the sequential segmentation — which the
    * rank-greedy encode must reproduce (the train_apply equivalence).
    * Output: (word, freq, enc, n_pieces) over remapped pre-tokens. */
  val pipe_bpe_bytes: Q = (s, dir) => {
    val synth = docs(s, dir).select(
      concat(col("text"), lit(" café №"),
        (col("doc_id") % 5).cast("string")).as("text"))
    val (mt, words) = Bpe.trainWithVocab(
      synth.select(Bpe.byteLevelToks(col("text")).as("toks")),
      col("toks"), iterations = 3)
    val merges = mt.orderBy(col("iter")).collect().map(_.getString(1)).toSeq
    words
      .select(col("w").as("word"), col("freq"),
        Bpe.encode(col("w"), merges).as("pieces"))
      .select(col("word"), col("freq"),
        concat_ws(" ", col("pieces")).as("enc"),
        size(col("pieces")).cast("long").as("n_pieces"))
      .orderBy(col("word"))
  }

  /** BPE ENCODE under the table [[pipe_bpe_step]] trains — the
    * tokenize-the-corpus pass of the tokenizer lifecycle, at the scale
    * shape that makes it feasible: the corpus collapses to its DISTINCT
    * words first (vocabulary-sized), each encoded once by the tight-loop
    * [[graft.exprs.BpeEncode]] expression, and the 50-entry merge table
    * rides the expression as a model-artifact constant (the
    * [[graft.exprs.Pq]] codebook pattern — collecting a trained model to
    * the driver is not a data collect). The oracle re-derives the same
    * merge table and replays the greedy merge loop as a recursive CTE
    * whose pass-parity arithmetic independently restates the
    * sequential-scan rule, so the encode semantics are gated
    * end-to-end. Output: (word, freq, enc, n_pieces). */
  val pipe_bpe_apply: Q = (s, dir) => {
    val merges = Bpe.topPairs(
        docs(s, dir).select(tokenizeDefault(col("text")).as("toks")),
        col("toks"), k = 50)
      .orderBy(col("rank")).collect().map(_.getString(1)).toSeq
    docs(s, dir).select(explode(tokenizeDefault(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w").as("word"), col("freq"),
        Bpe.encode(col("w"), merges).as("pieces"))
      .select(col("word"), col("freq"),
        concat_ws(" ", col("pieces")).as("enc"),
        size(col("pieces")).cast("long").as("n_pieces"))
      .orderBy(col("word"))
  }

  /** ExactSubstr span removal at the [[dedup_kgram_overlap]] gate point
    * (same 5-gram, same >= 2-distinct-docs rule) — the text actually
    * gets CUT, not just profiled; see [[graft.ops.Dedup.spanScrub]].
    * The oracle restates the rebuild relationally (explode covered
    * positions → anti-join → ordered string_agg), so the HOF coverage
    * logic is gated against an independent formulation. */
  val text_span_scrub: Q = (s, dir) =>
    Dedup.spanScrub(tokenized(s, dir), col("doc_id"), col("toks"), k = ShingleN)
      .orderBy(col("doc_id"))

  // ---- quality-classifier distillation (logreg training loop) ---------

  /** (doc_id, x0..x2, y) — [[graft.ops.TextAnalysis.quantizedQualityFeatures]]
    * at the module's Gopher constants, snapshotted: training iterations
    * and the apply pass all consume it. */
  private def qualityFeats(s: SparkSession, dir: String): DataFrame =
    memoSnap((s, dir, "qfeats")) {
      TextAnalysis.quantizedQualityFeatures(docs(s, dir), col("doc_id"),
        col("text"), GopherStops, GopherMinWords, GopherMaxWords)
    }

  private val QualityLrDen = 10000L

  /** The trained model — ONE 3-iteration training execution per
    * (session, dir), shared by the train gate, the apply gate, and the
    * v4 chain (a collected model artifact over immutable fixtures,
    * through [[FixtureMemo.model]]). Rows: (iter, w_x0..w_x2). */
  private def qualityTrainRows(s: SparkSession,
      dir: String): Seq[(Long, Long, Long, Long)] =
    FixtureMemo.model(s"qtrain:$dir") {
      graft.ops.LogReg.train(qualityFeats(s, dir), numFeatures = 3,
          lrDen = QualityLrDen, iterations = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
    }

  /** The final-iteration weights — the model the apply/v4 consumers
    * serve under. */
  private def qualityWeights(s: SparkSession, dir: String): Seq[Long] = {
    val last = qualityTrainRows(s, dir).last
    Seq(last._2, last._3, last._4)
  }

  /** The FULL logistic-regression training loop at N=3
    * ([[graft.ops.LogReg.train]]) distilling the Gopher rule filter into
    * a learned linear quality model (the fastText/CCNet weak-supervision
    * recipe). Every iteration's weights are gated — rounds 2-3 compute
    * gradients under LEARNED weights, which is what a one-step gate
    * never sees; the oracle unrolls all three with the same quantized
    * sigmoid. */
  val pipe_quality_train: Q = (s, dir) => {
    import s.implicits._
    qualityTrainRows(s, dir).toDF("iter", "w_x0", "w_x1", "w_x2")
      .orderBy(col("iter"))
  }

  /** Inference under the trained model + agreement with the weak label:
    * (doc_id, p_q, keep, gopher_keep) — the distillation quality check
    * rides the gate (how often the learned model reproduces the rule it
    * was trained on is exactly what a curation team reviews before
    * swapping the rule out). */
  val pipe_quality_train_apply: Q = (s, dir) =>
    graft.ops.LogReg.score(qualityFeats(s, dir), qualityWeights(s, dir),
        numFeatures = 3)
      .select(col("id").as("doc_id"), col("p_q"), col("keep"),
        (col("y") === 1L).as("gopher_keep"))
      .orderBy(col("doc_id"))

  /** The distillation payoff: the curation chain with the LEARNED
    * quality model standing in for the rule filter (train → swap the
    * rule out — why a curation team trains the classifier at all, it
    * generalizes past the rule's hard thresholds), then the shared
    * dedup + mixture tail. The oracle replays training AND inference
    * before the tail, so the swap is gated end-to-end. */
  val pipe_curate_v4: Q = (s, dir) => {
    val learnedKeep = graft.ops.LogReg
      .score(qualityFeats(s, dir), qualityWeights(s, dir), numFeatures = 3)
      .where(col("keep")).select(col("id").as("doc_id"))
    val survivors = docs(s, dir)
      .join(learnedKeep, Seq("doc_id"))
      // project before the window exchange — see pipe_curate (r20, §2.3)
      .select(col("doc_id"), col("source"), md5(col("text")).as("__h"),
        size(tokenizeDefault(col("text"))).cast("long").as("__n_tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
    graft.ops.Mixture.mixAllocation(
      survivors,
      col("source"),
      col("__n_tok"),
      pmod(substring(col("source"), 4, 10).cast("long"), lit(3)) + 1)
      .orderBy(col("source"))
  }

  // ---- unigram-LM tokenizer (the second tokenizer family) --------------

  private val UnigramMaxPiece = 4

  /** The unigram gate's word universe: corpus word-frequency table
    * restricted to ASCII alnum words of ≤ 10 codepoints. The bound is a
    * GATE-POINT choice, not an operator limit — the oracle independently
    * restates Viterbi by enumerating EVERY segmentation of every word
    * (exponential in word length, fine at ≤ 10; the engine's DP is
    * linear and unbounded), and ASCII keeps Java-UTF-16 vs binary-UTF-8
    * tie-break collation identical (UnigramEncode scaladoc). */
  private def unigramWords(s: SparkSession, dir: String): DataFrame =
    memoSnap((s, dir, "uniwords")) {
      tokenized(s, dir).select(explode(col("toks")).as("w"))
        .where(length(col("w")) <= 10 && col("w").rlike("^[a-z0-9]+$"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    }

  /** Trained model artifact: (piece, cost_q) rows collected to the
    * driver — V + alphabet rows, the [[graft.ops.Bpe]] merge-table
    * pattern, not a data collect. Memoized per scale dir
    * ([[FixtureMemo.model]] — same immutable-fixture argument): seg and counts
    * share one training pass instead of each retraining — training
    * dominates the chain (ProbeNewOps). */
  private def unigramModel(s: SparkSession, dir: String): Seq[(String, Long)] =
    FixtureMemo.model(s"unimodel:$dir") {
      graft.ops.Unigram.seedVocab(unigramWords(s, dir), UnigramMaxPiece, topV = 200)
        .select(col("piece"), col("cost_q"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }

  /** Unigram-LM (SentencePiece-style) Viterbi segmentation under a seed
    * vocabulary trained on the same corpus — see [[graft.ops.Unigram]]
    * for the lifecycle and [[graft.exprs.UnigramEncode]] for the DP +
    * tie-break contract. `cost_q` re-derives from the piece costs by an
    * exact integer fold, so the oracle gates BOTH the chosen path and
    * its claimed cost. Output: (w, seg, n_pieces, cost_q, freq). */
  val pipe_unigram_seg: Q = (s, dir) => {
    val words = unigramWords(s, dir)
    val model = unigramModel(s, dir)
    val costMap = typedLit(model.toMap)
    words
      .withColumn("pieces",
        graft.ops.Unigram.encode(col("w"), model, UnigramMaxPiece))
      .select(col("w"), array_join(col("pieces"), "|").as("seg"),
        size(col("pieces")).cast("long").as("n_pieces"),
        aggregate(col("pieces"), lit(0L),
          (acc, p) => acc + element_at(costMap, p)).as("cost_q"),
        col("freq"))
      .orderBy(col("w"))
  }

  /** The hard-EM training signal: frequency-weighted Viterbi piece
    * counts over the same segmentation — the expected-count E-step a
    * unigram trainer feeds its re-estimate (Kudo 2018 §3.2, Viterbi
    * flavor). Piece-keyed combiner aggregate over distinct words.
    * Output: (piece, vit_cnt). */
  val pipe_unigram_counts: Q = (s, dir) => {
    val words = unigramWords(s, dir)
    val model = unigramModel(s, dir)
    words
      .withColumn("pieces",
        graft.ops.Unigram.encode(col("w"), model, UnigramMaxPiece))
      .select(explode(col("pieces")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("vit_cnt"))
      .orderBy(col("piece"))
  }

  /** The FULL unigram hard-EM training loop at N=2
    * ([[graft.ops.Unigram.train]]): round 1 re-estimates from the
    * seed-vocab segmentation (pruning zero-count multi-char pieces,
    * alphabet floored at 1), round 2 re-segments under the COMPUTED
    * round-1 costs — the part a one-step gate never sees. The oracle
    * unrolls both rounds: round 2's segmentation is a fresh exhaustive
    * enumeration under the re-estimated costs, so the loop's
    * cross-round determinism (integer Viterbi under re-derived
    * quantized costs) is gated end-to-end. Output: (iter, piece, cnt,
    * cost_q) — each round's re-estimated vocabulary. */
  val pipe_unigram_train: Q = (s, dir) =>
    graft.ops.Unigram.train(unigramWords(s, dir), UnigramMaxPiece,
        topV = 200, iterations = 2)
      .orderBy(col("iter"), col("piece"))

  /** URL-keyed dedup over [[graft.ops.TextAnalysis.canonicalUrl]]: each
    * doc_id-group of four synthesizes the same page behind four surface
    * forms (upper-cased scheme/host + explicit `:443`, trailing slash,
    * pure-utm tracking query, fragment) — the CommonCrawl crawl-record
    * shapes — and canonicalization must collapse all four. The oracle
    * derives the canonical form ARITHMETICALLY from the group number
    * (never runs a regex), so the regex chain is gated against an
    * independent restatement. One md5-keyed shuffle; map-only before it. */
  val dedup_url: Q = (s, dir) => {
    val g = expr("doc_id DIV 4")
    val gs = g.cast("string")
    val host = concat(pmod(g, lit(7)).cast("string"), lit(".example.com/p/"), gs)
    val url = when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("HTTPS://Site"), pmod(g, lit(7)).cast("string"),
          lit(".Example.COM:443/p/"), gs))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit("https://site"), host, lit("/")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(lit("https://site"), host, lit("?utm_source=feed&utm_medium=rss")))
      .otherwise(concat(lit("https://site"), host, lit("#sec2")))
    TextAnalysis.urlDedup(docs(s, dir).withColumn("url", url),
        col("doc_id"), col("url"))
      .select(col("canon_url"), col("keep_id").as("keep_doc_id"), col("copies"))
      .orderBy(col("canon_url"))
  }

  /** Temperature-scaled mixture sampling — see
    * [[graft.ops.Mixture.temperatureSample]] (α = 1/2 over per-source
    * token mass, half-corpus budget, ppm keep rates, md5-hash row
    * selection). All-integer after one exact ⌊√·⌋, so the oracle
    * reproduces rates AND the realized kept counts bit-for-bit. */
  val pipe_temperature_sample: Q = (s, dir) =>
    graft.ops.Mixture.temperatureSample(docs(s, dir), col("doc_id"),
      col("source"), size(tokenizeDefault(col("text"))).cast("long"))
      .orderBy(col("source"))

  /** Fixed-weight linear quality classifier — see
    * [[graft.ops.TextAnalysis.qualityLinear]]: the fastText/logreg
    * scorer shape over the shared Gopher metric features, integer
    * weights over floored features so the decision threshold is
    * engine-exact. Map-only codegen projection. */
  val pipe_quality_logreg: Q = (s, dir) =>
    TextAnalysis.qualityLinear(docs(s, dir), col("doc_id"), col("text"),
      stopwords = GopherStops)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** ANN quality evaluation — recall@5 of the production IVF-PQ tier
    * against the exact brute-force baseline, per query: the acceptance
    * gate any approximate index build runs before serving (probe/recall
    * tradeoffs are tuned against exactly this curve). One row per query:
    * (qid, hits) with hits = |top5_ivfpq ∩ top5_exact| ∈ [0, 5]. Pure
    * composition of the two already-gated tiers ([[knn_brute]],
    * [[knn_ivf_pq]]) plus one intersection count — at scale the exact
    * side runs over a SAMPLE of queries, which is this same plan with a
    * narrower isQuery.
    *
    * Caveat (round 12): this legacy fixed tier's centroids are raw
    * corpus vectors vid<16 — 16 of the 20 evaluation queries are
    * centroids of their own cells, so even this number is biased UP by
    * seed contamination, and it still dilutes to 14% at sf0.1: kept
    * unchanged as the measured cue for why the √n tier exists
    * ([[knn_recall_scaled]], whose seed is now query-disjoint). */
  val knn_recall: Q = (s, dir) => {
    val e = corpus(s, dir)
    val exact = Ann.brute(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.select(col("vid"), col("v")), k = 5)
      .select(col("qid"), col("neighbor"))
    val approx = Ann.ivfPq(e.select(col("vid"), col("v")), _ < 20,
      e.where(col("vid") < 16).select(col("vid").as("cid"), col("v").as("cv")),
      nProbe = 2, numSubspaces = 4, k = 5)
      .select(col("qid"), col("neighbor"))
    val inter = exact.join(approx, Seq("qid", "neighbor"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    e.where(col("vid") < 20).select(col("vid").as("qid"))
      .join(inter, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("qid"))
  }

  /** LSH candidate-quality gate — the dedup-tier analogue of
    * [[knn_recall]]: precision/recall of the MinHash-LSH candidate pairs
    * against the exact shingle-Jaccard >= 0.5 truth set, in exact-integer
    * ppm (the acceptance check a dedup deployment runs before trusting a
    * banding config). One row: missed true pairs cost recall, surviving
    * false candidates cost precision (they only cost verify time — LSH
    * feeds a verifier — which is why recall is the number that matters).
    * Both operands are bounded pair sets; the truth side pays the same
    * posting join its own gate (dedup_ngram_jaccard) already pays. */
  val dedup_lsh_recall: Q = (s, dir) => {
    val sh = shingled(s, dir)
    recallReport(
      Dedup.ngramJaccard(sh, threshold = 0.5).select(col("a"), col("b")),
      Dedup.minhashLsh(sh, numHashes = 16, bands = 8))
  }

  /** Shared candidate-quality report: precision/recall of a candidate
    * (a, b) pair set against a truth pair set, as integer ppm — three
    * 1-row count scalars cross-joined into the report row; an empty
    * candidate (resp. truth) set reports 10^6, vacuous success. ONE
    * definition for every recall gate (LSH, SimHash), mirrored by
    * `recallReportSql` on the oracle side so the ppm convention cannot
    * drift between gates or engines. */
  private def recallReport(truth0: DataFrame, cand0: DataFrame): DataFrame = {
    // Two consumers each (hit join + its own count): snapshot, or the
    // expensive pair tiers behind them — the posting join behind the
    // Jaccard truth set, the signature chain behind the candidates —
    // execute twice per run (r20 optimization: the module's two-consumers
    // rule applied to the report itself; wall/cpu measured ~2× before).
    val truth = truth0.localCheckpoint(eager = false)
    val cand = cand0.localCheckpoint(eager = false)
    val hit = truth.join(cand, Seq("a", "b")).agg(count(lit(1)).as("n_hit"))
    val nt = truth.agg(count(lit(1)).as("n_true"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    nt.crossJoin(nc).crossJoin(hit)
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_cand > 0 THEN n_hit * 1000000 DIV n_cand ELSE 1000000 END")
          .as("precision_ppm"),
        expr("CASE WHEN n_true > 0 THEN n_hit * 1000000 DIV n_true ELSE 1000000 END")
          .as("recall_ppm"))
  }

  /** SimHash candidate-quality gate — the [[dedup_lsh_recall]]
    * methodology for the OTHER signature family: precision/recall (ppm,
    * integer-exact) of Hamming-≤8 SimHash pairs against exact
    * shingle-Jaccard ≥ 0.5 truth. SimHash trades the MinHash banding
    * guarantee for a single 64-bit signature; this gate is where that
    * trade's recall cost stays measured instead of assumed. */
  val dedup_simhash_recall: Q = (s, dir) =>
    recallReport(
      Dedup.ngramJaccard(shingled(s, dir), threshold = 0.5)
        .select(col("a"), col("b")),
      Dedup.simhash(tokenized(s, dir), maxDistance = 8)
        .select(col("a"), col("b")))

  /** Benchmark decontamination: shingle-overlap counts between the
    * corpus (doc_id >= 10) and a benchmark set (docs 0-9 stand in for an
    * eval suite). Benchmark side broadcast → map-side-only corpus pass;
    * see [[graft.ops.Dedup.decontaminate]]. */
  val pipe_decontaminate: Q = (s, dir) => {
    val sh = shingled(s, dir)
    Dedup.decontaminate(
      sh.where(col("doc_id") >= 10),
      sh.where(col("doc_id") < 10))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** The decontamination REPORT at the same fixture — per BENCHMARK doc,
    * the share (ppm) of its distinct shingles found anywhere in the
    * corpus ([[graft.ops.Dedup.contaminationReport]]): where
    * [[pipe_decontaminate]] decides which corpus docs to DROP, this
    * grades which eval items can still be trusted. One row per
    * benchmark doc. */
  val pipe_contamination_report: Q = (s, dir) => {
    val sh = shingled(s, dir)
    Dedup.contaminationReport(
      sh.where(col("doc_id") < 10),
      sh.where(col("doc_id") >= 10))
      .orderBy(col("bench_id"))
  }

  /** Bloom-filter decontamination at the [[pipe_decontaminate]] gate
    * fixture (docs < 10 are the benchmark, the rest the corpus) — see
    * [[graft.ops.Dedup.decontaminateBloom]]. m = 2^18 bits, j = 3
    * probes: false positives are deterministic integer arithmetic, so
    * the oracle reproduces them exactly — what is gated is the filter
    * CONSTRUCTION + membership logic, not a probabilistic claim. */
  val pipe_bloom_decontaminate: Q = (s, dir) => {
    val sh = shingled(s, dir)
    Dedup.decontaminateBloom(
      sh.where(col("doc_id") >= 10),
      sh.where(col("doc_id") < 10),
      mBits = 1 << 18, numHashes = 3, minHits = 1L)
      .orderBy(col("doc_id"))
  }

  /** Embedding-space decontamination at the same benchmark/corpus split
    * shape as [[pipe_decontaminate]] (vec_ids 0–9 stand in for the eval
    * suite's embeddings): a corpus vector whose cosine against ANY
    * benchmark vector clears 0.35 is condemned — the paraphrase-leakage
    * pass that n-gram overlap misses. Broadcast benchmark, map-only
    * corpus scoring — see [[graft.ops.Dedup.decontaminateSemantic]]. */
  val pipe_semantic_decontaminate: Q = (s, dir) => {
    val e = corpus(s, dir)
    Dedup.decontaminateSemantic(
      e.where(col("vid") >= 10),
      e.where(col("vid") < 10)
        .select(col("vid").as("bench_id"), col("v").as("bv")),
      threshold = 0.35)
      .orderBy(col("vid"))
  }

  /** One exact k-means (Lloyd's) iteration training the IVF quantizer:
    * first 16 vectors seed the centroids, update sums are fixed-point
    * integers so the oracle reproduces them exactly — see
    * [[graft.ops.Ann.kmeansStep]]. */
  val pipe_kmeans_step: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.kmeansStep(
      e.select(col("vid"), col("v")),
      e.where(col("vid") < 16).select(col("vid").as("cid"), col("v").as("cv")))
      .orderBy(col("cell"), col("d"))
  }

  /** The FULL k-means training loop at N=3 ([[graft.ops.Ann.kmeansTrain]]):
    * assign → integer centroid update → reassign, seeded from the first
    * 16 vectors. Rounds 2-3 assign against COMPUTED centroids, so the
    * loop's cross-engine determinism story (fixed-point sums, truncating
    * division, float-rounded centroid rebuild) is what the unrolled
    * oracle gates. */
  val pipe_kmeans_train: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.kmeansTrain(
      e.select(col("vid"), col("v")),
      e.where(col("vid") < 16).select(col("vid").as("cid"), col("v").as("cv")),
      iterations = 3)
      .orderBy(col("iter"), col("cell"), col("d"))
  }

  /** The 3-round-trained centroid table (cid, cv) — float vectors
    * rebuilt from [[graft.ops.Ann.kmeansTrain]]'s final-round quantized
    * per-dim values, exactly the kc3 relation the unrolled oracles
    * re-derive. ONE definition shared by every trained-quantizer
    * serving composition. */
  private def trainedCentroids(s: SparkSession, dir: String): DataFrame =
    trainedCentroidsK(s, dir, seedK = 16L)

  /** [[trainedCentroids]] generalized over the seed-cell count — the
    * nlist lever the √n-scaled tier sizes from a census — and the seed
    * WINDOW start: recall-evaluation gates pass `seedFrom = 20` so the
    * seed is disjoint from the vid<20 query set (seed hygiene — see
    * [[knn_recall_scaled]]); mechanics gates keep the default 0.
    *
    * Memoized per process ([[FixtureMemo]], r16 verdict): the loop is
    * pure integer fixed-point over (dir, seedK, seedFrom), so the first
    * construction trains and every later one replays the identical
    * table as a LocalRelation — repeat bench iterations measure the
    * SERVING composition, not this fixture's k-means. */
  private def trainedCentroidsK(s: SparkSession, dir: String,
      seedK: Long, seedFrom: Long = 0L): DataFrame =
    FixtureMemo.table(s, s"kc3:$dir:$seedK:$seedFrom") {
      val e = corpus(s, dir)
      Ann.kmeansTrain(
          e.select(col("vid"), col("v")),
          e.where(col("vid") >= seedFrom && col("vid") < seedFrom + seedK)
            .select(col("vid").as("cid"), col("v").as("cv")),
          iterations = 3)
        .where(col("iter") === 3)
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("d"), col("cq")))).as("ds"))
        .select(col("cell").as("cid"),
          expr("transform(ds, x -> CAST(CAST(x.cq AS DOUBLE) / 1000000.0 AS FLOAT))")
            .as("cv"))
    }

  /** CENTROID-DRIFT gate — what `train --refresh` costs when the data
    * distribution shifts (r14 carried #2, built r16). The fixture:
    * cohort A is the embeddings corpus; cohort B is a SHIFTED cohort
    * (every vector dimension-reversed, vids offset +100000 — reversal
    * is arithmetic-free, so the replay is exact, and it permutes the
    * cluster structure so A-trained centroids genuinely misfit B).
    *
    *  - FROZEN arm: centroids k-means-trained on A alone (what the
    *    incremental refresh serves after B streams in), assignment and
    *    probing over A∪B;
    *  - RETRAINED arm: centroids retrained on A∪B (seeds split across
    *    both cohorts), same probe budget;
    *  - queries: 20 FRESH-cohort vectors (B's first 20) — the
    *    population a drifted quantizer hurts; truth is exact cosine
    *    over A∪B.
    *
    * One row per query: (qid, hits_frozen, hits_retrained) — both arms
    * replayed by the oracle (two prefixed k-means unrolls), so the
    * frozen-vs-retrained comparison is CORRECTNESS-gated at both scale
    * factors every round, not just probe-measured.
    *
    * Measured (2026-08-15, oracle-exact): at sf0.01 recall is flat
    * (frozen 0.58 vs retrained 0.56 — 500+500 vectors in 23 cells, the
    * probe set nearly covers the candidate space); at sf0.1 the drift
    * penalty is real — frozen 0.42 vs retrained 0.53 — the shifted
    * cohort visibly recovers under retraining once the cell cut bites.
    * ProbeDrift documents the adjacent finding: on this near-isotropic
    * synthetic corpus, cosine-FIT and cell-skew statistics do NOT
    * separate a shifted refresh batch from a control batch (and
    * in-sample train fit vs out-of-sample batch fit differ by ~190k
    * ppm even with NO shift), so the `--ann-retrain-threshold` trigger
    * anchors on the FIRST refresh batch's out-of-sample fit
    * ([[graft.ops.Ann.assignFit]]) rather than the train-time fit —
    * decisive on genuinely structured data (StatefulStreamingSpec's
    * planted-cluster gate) and false-trigger-free on control noise. */
  val knn_refresh_drift: Q = (s, dir) => {
    val a = corpus(s, dir).select(col("vid"), col("v"))
    val b = a.select((col("vid") + lit(100000L)).as("vid"),
      reverse(col("v")).as("v"))
    val u = a.unionAll(b)
    val n = a.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
    val nProbe = math.ceil(math.sqrt(nlist.toDouble)).toInt
    def cents(corpusDf: org.apache.spark.sql.DataFrame,
        seeds: org.apache.spark.sql.DataFrame) =
      Ann.kmeansTrain(corpusDf, seeds, iterations = 3)
        .where(col("iter") === 3)
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("d"), col("cq")))).as("ds"))
        .select(col("cell").as("cid"),
          expr("transform(ds, x -> CAST(CAST(x.cq AS DOUBLE) / 1000000.0 AS FLOAT))")
            .as("cv"))
    // the frozen arm IS the serving rows' quantizer (A-trained,
    // seed-disjoint from the query window) — share its memo key; the
    // retrained arm is unique to this gate and memoizes on its own
    val frozen = trainedCentroidsK(s, dir, nlist, seedFrom = 20L)
    val h = (nlist + 1) / 2
    val retrained = FixtureMemo.table(s, s"kc3u:$dir:$nlist") {
      cents(u,
        u.where((col("vid") >= 20 && col("vid") < 20 + h) ||
            (col("vid") >= 100020L && col("vid") < 100020L + (nlist - h)))
          .select(col("vid").as("cid"), col("v").as("cv")))
    }
    val qs = b.where(col("vid") < 100020L)
      .select(col("vid").as("qid"), col("v").as("qv"))
    val exact = Ann.brute(qs, u, k = 5).select(col("qid"), col("neighbor"))
    def hitsOf(c: org.apache.spark.sql.DataFrame, nm: String) =
      exact.join(Ann.ivf(qs, u, c, nProbe, k = 5)
          .select(col("qid"), col("neighbor")), Seq("qid", "neighbor"))
        .groupBy(col("qid")).agg(count(lit(1)).as(nm))
    qs.select(col("qid"))
      .join(hitsOf(frozen, "hf"), Seq("qid"), "left")
      .join(hitsOf(retrained, "hr"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hf"), lit(0L)).as("hits_frozen"),
        coalesce(col("hr"), lit(0L)).as("hits_retrained"))
      .orderBy(col("qid"))
  }

  /** The DRIFT STATISTICS under the oracle — [[graft.ops.Ann.assignFit]]
    * (mean nearest-centroid cosine, per-row ⌊cos·10⁶⌋ then the
    * truncating integer mean) and [[graft.ops.Ann.assignSkew]]
    * (hot-cell share in ppm + occupied cells), computed for the train
    * cohort and the dimension-reversed shifted cohort against the
    * SAME frozen quantizer [[knn_refresh_drift]] trains. These are the
    * numbers the `--ann-retrain-threshold` streaming policy compares,
    * so their integer arithmetic is CORRECTNESS-gated at both scale
    * factors, not only spec-pinned. Two rows:
    * (cohort, n, fit_ppm, top_share_ppm, occupied). */
  val pipe_ann_drift: Q = (s, dir) => {
    val a = corpus(s, dir).select(col("vid"), col("v"))
    val b = a.select((col("vid") + lit(100000L)).as("vid"),
      reverse(col("v")).as("v"))
    val n = a.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
    // identical construction (and memo key) to knn_refresh_drift's
    // frozen arm and the serving rows' quantizer
    val frozen = trainedCentroidsK(s, dir, nlist, seedFrom = 20L)
    def statsOf(cohort: String, df: org.apache.spark.sql.DataFrame) =
      Ann.assignFit(df, frozen)
        .crossJoin(Ann.assignSkew(df, frozen)
          .select(col("top_share_ppm"), col("occupied")))
        .select(lit(cohort).as("cohort"), col("n"), col("fit_ppm"),
          col("top_share_ppm"), col("occupied"))
    statsOf("shifted", b).unionAll(statsOf("train", a))
      .orderBy(col("cohort"))
  }

  /** [[trainedCentroidsK]] over the norm-adversarial SCALED corpus —
    * the `knn_serving_recall_sq8_norms` fixture trains its coarse
    * quantizer on the same vectors it serves (scale-consistency: a
    * quantizer trained on unit norms would mis-assign the scaled
    * corpus and the gate would measure assignment noise, not the
    * shortlist's rank bias). */
  private def trainedCentroidsScaled(s: SparkSession, dir: String,
      seedK: Long, seedFrom: Long): DataFrame =
    FixtureMemo.table(s, s"kc3s:$dir:$seedK:$seedFrom") {
      val e = corpus(s, dir).withColumn("v",
        expr("transform(v, x -> CAST(CAST(x AS DOUBLE) * (vid % 10 + 1) AS FLOAT))"))
      Ann.kmeansTrain(
          e.select(col("vid"), col("v")),
          e.where(col("vid") >= seedFrom && col("vid") < seedFrom + seedK)
            .select(col("vid").as("cid"), col("v").as("cv")),
          iterations = 3)
        .where(col("iter") === 3)
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("d"), col("cq")))).as("ds"))
        .select(col("cell").as("cid"),
          expr("transform(ds, x -> CAST(CAST(x.cq AS DOUBLE) / 1000000.0 AS FLOAT))")
            .as("cv"))
    }

  /** IVF search served from TRAINED centroids — the production ANN
    * lifecycle end-to-end: [[pipe_kmeans_train]]'s round-3 table is
    * rebuilt in-plan into float centroid vectors and fed straight into
    * [[graft.ops.Ann.ivf]]. Gates that the trained quantizer actually
    * serves: assignment, probing, and ranking all run against computed
    * centroids, replayed end-to-end by the oracle. */
  val knn_ivf_trained: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.ivf(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.select(col("vid"), col("v")),
      trainedCentroids(s, dir), nProbe = 2, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** The FULL production ANN tier end-to-end trained: IVF-PQ served from
    * the k-means-trained quantizer — trained coarse cells (rounds 2–3
    * assign against COMPUTED centroids) + PQ codebooks + ADC ranking,
    * replayed end-to-end by the oracle (kmeans unroll composed with the
    * shared PQ/ADC fragments). The last serving composition the
    * one-stage gates ([[knn_ivf_trained]], [[knn_ivf_pq]]) individually
    * cover. */
  val knn_ivfpq_trained: Q = (s, dir) =>
    Ann.ivfPq(corpus(s, dir).select(col("vid"), col("v")),
      isQuery = _ < 20,
      trainedCentroids(s, dir), nProbe = 2, numSubspaces = 4, k = 5)
      .orderBy(col("qid"), col("rank"))

  /** Recall@5 of the √n-SCALED trained IVF tier against exact brute
    * force — [[knn_recall]]'s curve with the sizing rule that survives a
    * scale-up: nlist = ceil(√n) seed cells (3 k-means rounds) and
    * nProbe = ceil(√nlist), BOTH derived from one corpus census inside
    * the query, so the same gate text measures at any sf. Motivated by
    * the r10 measurement that the fixed 16-cell/2-probe tier dilutes
    * 32% → 14% recall across sf0.01 → sf0.1 — this tier's per-probe
    * candidate count stays ~n/√n·√√n ≈ √n-ish, the classic IVF scaling.
    *
    * SEED HYGIENE (round-12 fix, found by ProbeKnn/ProbeKnnDiag): the
    * original seed cut `vid < nlist` CONTAINED the 20 evaluation
    * queries, so every query's neighborhood got a dedicated centroid
    * and the reported recall was flattered — 0.94 with the contaminated
    * seed vs 0.55 with ANY query-disjoint seed at sf0.1 (hash-seeded
    * and vid≥100-seeded both measure 0.55 ± 0.01; the round-10 "recall
    * holds" note was measuring seed bias, not tier quality). The seed
    * now starts at vid 20, disjoint from the query set, so the gate
    * reports the recall a production build would see: 0.49 at sf0.01,
    * 0.50 at sf0.1 — the FLATNESS across the 10× is the √n sizing
    * claim, and it survives the fix; the absolute level is nProbe's
    * knob (ProbeKnn: 0.82 at 2·√nlist probes on the same cells). */
  val knn_recall_scaled: Q = (s, dir) => {
    val e = corpus(s, dir)
    val n = e.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
    val nProbe = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val queries =
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv"))
    val exact = Ann.brute(queries, e.select(col("vid"), col("v")), k = 5)
      .select(col("qid"), col("neighbor"))
    val approx = Ann.ivf(queries, e.select(col("vid"), col("v")),
        trainedCentroidsK(s, dir, nlist, seedFrom = 20L),
        nProbe = nProbe, k = 5)
      .select(col("qid"), col("neighbor"))
    val inter = exact.join(approx, Seq("qid", "neighbor"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    e.where(col("vid") < 20).select(col("vid").as("qid"))
      .join(inter, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("qid"))
  }

  /** Recall@5 of the FULL SERVING read shape against exact brute force —
    * [[graft.ops.Ann.ivfPqServing]], the in-query twin of the CLI
    * trained tier's knn path (spill=2 cell layout, PQ m=4 ADC shortlist
    * of 256, exact-cosine rerank), sized by the same census rules the
    * serving tier uses: nlist = ⌈√n⌉ seed cells (3 k-means rounds,
    * seed-DISJOINT from the vid<20 query set — the [[knn_recall_scaled]]
    * hygiene) and nProbe = 2·⌈√nlist⌉, the knob ProbeKnn measured at
    * recall 0.82 (exact vectors) / 0.94 (spill=2) on the CLI tier. The
    * driver re-measures this row at BOTH scale factors every round, so
    * the serving tier's recall curve lives in CORRECTNESS, not only in
    * probe scaladocs. One row per query: (qid, hits ∈ [0,5]).
    *
    * RESIDUAL encoding since r17 (IVFADC proper — the r16 verdict's top
    * item): codebooks train on `v − centroid(cell)` instead of raw
    * vectors ([[graft.ops.Ann.residuals]] → [[graft.ops.Ann
    * .pqCodebooksTrained]]), each spilled copy encodes the residual
    * against ITS cell, and each (query, probed cell) pair gets its own
    * ADC table over the query's residual in that cell — the coarse
    * quantizer removes between-cell variance so the 256 codewords
    * spend entirely on the within-cell remainder.
    *
    * The probe budget moves with it, 2·⌈√nlist⌉ → 3·⌈√nlist⌉
    * (ProbeResidual: the r16 row was PROBE-bound — its ceiling with a
    * perfect quantizer was 0.91 at sf0.1, and the residual shortlist
    * sits exactly AT the ceiling at every measured budget, so the next
    * recall is bought by probes, not codes; a declared 1.5× read-cost
    * trade).
    *
    * Measured (2026-08-15, oracle-exact at both scales): recall@5
    * 1.00 at sf0.01 and 0.96 at sf0.1 — up from the r16 raw-trained
    * 0.96/0.90 (residual alone closed the quantizer gap to the 0.91
    * ceiling; the probe bump bought the rest), now ABOVE the SQ8 row's
    * 0.96/0.91 at a quarter of the candidate read bandwidth. Declared
    * bench cost: the in-query training (2 integer k-means rounds
    * through the pq_encode kernel) is unchanged — the residual step
    * adds one broadcast-argmax assignment pass over the sample. */
  val knn_serving_recall: Q = (s, dir) => {
    val e = corpus(s, dir)
    val n = e.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
    val nProbe = 3 * math.ceil(math.sqrt(nlist.toDouble)).toInt
    val cents = trainedCentroidsK(s, dir, nlist, seedFrom = 20L)
    // RESIDUAL-trained codebooks: 256 codewords per subspace, 2 integer
    // k-means rounds over the rank-1 residual corpus, seed window
    // disjoint from the vid<20 query set — the same construction the
    // CLI `train --pq` runs with content-hash seeding
    val cb = FixtureMemo.model(s"pqcb:res:$dir:$nlist") {
      Ann.pqCodebooksTrained(
        Ann.residuals(e.select(col("vid"), col("v")), cents),
        numSubspaces = 4, seedLo = 20L, codewords = 256, iterations = 2)
    }
    val approx = Ann.ivfPqServing(e.select(col("vid"), col("v")), _ < 20,
        cents,
        nProbe = nProbe, spill = 2, rerank = 256, k = 5, codebooks = cb)
      .select(col("qid"), col("neighbor"))
    val exact = Ann.brute(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.select(col("vid"), col("v")), k = 5)
      .select(col("qid"), col("neighbor"))
    val inter = exact.join(approx, Seq("qid", "neighbor"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    e.where(col("vid") < 20).select(col("vid").as("qid"))
      .join(inter, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("qid"))
  }

  /** Recall@5 of the SQ8 serving read shape against exact brute force —
    * [[graft.ops.Ann.ivfSq8Serving]] with the same census sizing as
    * [[knn_serving_recall]] (nlist = ⌈√n⌉ seed-disjoint cells,
    * nProbe = 2·⌈√nlist⌉, spill=2, shortlist 256) and the asymmetric
    * integer-dot cut in place of ADC. This row pins the RAW
    * asymmetric-dot arithmetic on the uniform-norm corpus; since r16
    * the CLI `train --sq8` tier cuts on the NORMALIZED
    * (reconstructed-cosine) key, whose twin is
    * [[knn_serving_recall_sq8_norms]] — on uniform norms the two keys
    * measure the same recall (ProbeSq8Norm). The int8 reconstruction has no
    * codebook ceiling, so this row should sit AT the exact tier's
    * recall while the PQ row sits below it — both curves re-measured in
    * CORRECTNESS at both scale factors every round.
    *
    * Measured (2026-08-15, oracle-exact): recall@5 0.96 at sf0.01 and
    * 0.91 at sf0.1 — above the PQ serving row's 0.94/0.82 at the same
    * probe budget. One row per query: (qid, hits ∈ [0,5]). */
  val knn_serving_recall_sq8: Q = (s, dir) => {
    val e = corpus(s, dir)
    val n = e.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
    val nProbe = 2 * math.ceil(math.sqrt(nlist.toDouble)).toInt
    val approx = Ann.ivfSq8Serving(e.select(col("vid"), col("v")), _ < 20,
        trainedCentroidsK(s, dir, nlist, seedFrom = 20L),
        nProbe = nProbe, spill = 2, rerank = 256, k = 5)
      .select(col("qid"), col("neighbor"))
    val exact = Ann.brute(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.select(col("vid"), col("v")), k = 5)
      .select(col("qid"), col("neighbor"))
    val inter = exact.join(approx, Seq("qid", "neighbor"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    e.where(col("vid") < 20).select(col("vid").as("qid"))
      .join(inter, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("qid"))
  }

  /** Recall@5 of the FILTERED serving read shape — [[knn_serving_recall_sq8]]
    * with a metadata candidate filter (`label < 3`, ~30% selectivity),
    * the in-query twin of `knn --filter`: the predicate applies to the
    * probed CANDIDATES before the shortlist cut (pre-filter — the
    * rerank budget is spent only on matching docs; post-filtering would
    * under-fill k), and truth is exact brute force over only the
    * matching corpus. Pins that filtered-ANN serves the top matches,
    * not the unfiltered top-k minus non-matches.
    *
    * Measured (2026-08-15, oracle-exact): recall@5 0.91 at sf0.01 /
    * 0.89 at sf0.1 at the same probe budget as the unfiltered rows
    * (the slight dip vs unfiltered is expected — a filtered truth set
    * reaches deeper into the probe-miss tail). One row per query:
    * (qid, hits ∈ [0,5]). */
  val knn_serving_recall_filtered: Q = (s, dir) => {
    val e = corpus(s, dir)
    val n = e.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
    val nProbe = 2 * math.ceil(math.sqrt(nlist.toDouble)).toInt
    val approx = Ann.ivfSq8Serving(
        e.select(col("vid"), col("v"), col("label")), _ < 20,
        trainedCentroidsK(s, dir, nlist, seedFrom = 20L),
        nProbe = nProbe, spill = 2, rerank = 256, k = 5,
        candFilter = Some(col("label") < 3))
      .select(col("qid"), col("neighbor"))
    val exact = Ann.brute(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.where(col("label") < 3).select(col("vid"), col("v")), k = 5)
      .select(col("qid"), col("neighbor"))
    val inter = exact.join(approx, Seq("qid", "neighbor"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    e.where(col("vid") < 20).select(col("vid").as("qid"))
      .join(inter, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("qid"))
  }

  /** Recall@5 of the SQ8 serving shape on a NORM-ADVERSARIAL corpus —
    * every vector scaled by `(vid % 10) + 1`, a deterministic 10× norm
    * spread that leaves the COSINE truth untouched (cosine is
    * per-vector-scale invariant) but breaks the plain integer-dot
    * shortlist, which orders by reconstructed INNER PRODUCT: high-norm
    * vectors crowd the fixed shortlist ahead of low-norm true
    * neighbors (ProbeSq8Norm: recall@5 0.91 → 0.79 at sf0.1). The
    * `normRank` key divides the exact integer numerator 2²⁴·⟨x̂,q⟩ by
    * the exact integer reconstructed norm (2¹²·‖x̂‖)² under one IEEE
    * division + sqrt — order-independent integer sums, so the DuckDB
    * replay is bit-identical — and recovers the uniform-norm recall.
    *
    * Measured (2026-08-15, oracle-exact): recall@5 0.92 at sf0.01 and
    * 0.91 at sf0.1 — vs 0.79 at sf0.1 with the unnormalized cut, and
    * at the uniform-norm sq8 row's own 0.96/0.91 level (the sf0.01
    * residual vs 0.96 is quantizer coarsening from the 10×-wider
    * per-dim range, not rank bias — see ProbeSq8Norm). One row per
    * query: (qid, hits ∈ [0,5]). */
  val knn_serving_recall_sq8_norms: Q = (s, dir) => {
    val e = corpus(s, dir).withColumn("v",
      expr("transform(v, x -> CAST(CAST(x AS DOUBLE) * (vid % 10 + 1) AS FLOAT))"))
    val n = e.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toLong
    val nProbe = 2 * math.ceil(math.sqrt(nlist.toDouble)).toInt
    val approx = Ann.ivfSq8Serving(e.select(col("vid"), col("v")), _ < 20,
        trainedCentroidsScaled(s, dir, nlist, seedFrom = 20L),
        nProbe = nProbe, spill = 2, rerank = 256, k = 5, normRank = true)
      .select(col("qid"), col("neighbor"))
    val exact = Ann.brute(
      e.where(col("vid") < 20).select(col("vid").as("qid"), col("v").as("qv")),
      e.select(col("vid"), col("v")), k = 5)
      .select(col("qid"), col("neighbor"))
    val inter = exact.join(approx, Seq("qid", "neighbor"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    e.where(col("vid") < 20).select(col("vid").as("qid"))
      .join(inter, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("qid"))
  }

  /** Cluster-balanced sampling over the TRAINED k-means cells
    * ([[graft.ops.Ann.clusterBalance]]): cap each learned cluster at 24
    * kept vectors by md5-hash rank — the diversity-selection pass (cap a
    * cluster's share so dense embedding-space regions don't dominate the
    * mix), the [[pipe_domain_quota]] rule applied to learned cells
    * instead of URL domains. At sf0.01 the 500-vector corpus averages
    * ~31 per cell, so hot cells are genuinely cut. The oracle replays
    * k-means training end-to-end (the kc0→kc3 unroll), then the
    * assignment and the hash-rank window. */
  val pipe_cluster_balance: Q = (s, dir) => {
    val e = corpus(s, dir)
    Ann.clusterBalance(e.select(col("vid"), col("v")),
        trainedCentroids(s, dir), quota = 24)
      .orderBy(col("cell"), col("rk"))
  }

  val all: Map[String, Q] = Map(
    "pipe_decontaminate" -> pipe_decontaminate,
    "pipe_contamination_report" -> pipe_contamination_report,
    "knn_recall_scaled" -> knn_recall_scaled,
    "knn_serving_recall" -> knn_serving_recall,
    "knn_serving_recall_sq8" -> knn_serving_recall_sq8,
    "knn_serving_recall_sq8_norms" -> knn_serving_recall_sq8_norms,
    "knn_refresh_drift" -> knn_refresh_drift,
    "pipe_ann_drift" -> pipe_ann_drift,
    "knn_serving_recall_filtered" -> knn_serving_recall_filtered,
    "pipe_cluster_balance" -> pipe_cluster_balance,
    "pipe_kmeans_step" -> pipe_kmeans_step,
    "pipe_kmeans_train" -> pipe_kmeans_train,
    "knn_ivf_trained" -> knn_ivf_trained,
    "knn_ivfpq_trained" -> knn_ivfpq_trained,
    "text_repetition" -> text_repetition,
    "dedup_cluster_canon" -> dedup_cluster_canon,
    "pipe_split_leakage_safe" -> pipe_split_leakage_safe,
    "pipe_sample_stratified" -> pipe_sample_stratified,
    "pipe_domain_quota" -> pipe_domain_quota,
    "pipe_domain_quota_2pass" -> pipe_domain_quota_2pass,
    "mm_align_filter" -> mm_align_filter,
    "pipe_shard_write" -> pipe_shard_write,
    "pipe_quality_train" -> pipe_quality_train,
    "pipe_quality_train_apply" -> pipe_quality_train_apply,
    "pipe_curate_v4" -> pipe_curate_v4,
    "text_span_scrub" -> text_span_scrub,
    "pipe_bloom_decontaminate" -> pipe_bloom_decontaminate,
    "pipe_semantic_decontaminate" -> pipe_semantic_decontaminate,
    "pipe_unigram_seg" -> pipe_unigram_seg,
    "pipe_unigram_train" -> pipe_unigram_train,
    "pipe_unigram_counts" -> pipe_unigram_counts,
    "text_tfidf_top" -> text_tfidf_top,
    "pipe_hybrid_rrf" -> pipe_hybrid_rrf,
    "pipe_pack_sequences" -> pipe_pack_sequences,
    "pipe_epoch_shuffle" -> pipe_epoch_shuffle,
    "pipe_epoch_shuffle_auto" -> pipe_epoch_shuffle_auto,
    "knn_sq8" -> knn_sq8,
    "knn_sq8_ivf" -> knn_sq8_ivf,
    "knn_pq" -> knn_pq,
    "knn_ivf_pq" -> knn_ivf_pq,
    "knn_recall" -> knn_recall,
    "dedup_lsh_recall" -> dedup_lsh_recall,
    "dedup_simhash_recall" -> dedup_simhash_recall,
    "dedup_semantic_recall" -> dedup_semantic_recall,
    "text_line_dedup" -> text_line_dedup,
    "text_line_dedup_apply" -> text_line_dedup_apply,
    "pipe_mix_weights" -> pipe_mix_weights,
    "pipe_mix_realize" -> pipe_mix_realize,
    "pipe_mix_realize_2pass" -> pipe_mix_realize_2pass,
    "pipe_mix_epochs" -> pipe_mix_epochs,
    "pipe_mix_epochs_plan" -> pipe_mix_epochs_plan,
    "pipe_mix_epochs_realize" -> pipe_mix_epochs_realize,
    "pipe_mix_schedule" -> pipe_mix_schedule,
    "pipe_mix_schedule_wide" -> pipe_mix_schedule_wide,
    "pipe_mix_shard_schedule" -> pipe_mix_shard_schedule,
    "pipe_curate" -> pipe_curate,
    "pipe_curate_v2" -> pipe_curate_v2,
    "pipe_curate_v3" -> pipe_curate_v3,
    "pipe_chunk_windows" -> pipe_chunk_windows,
    "pipe_chunk_sentences" -> pipe_chunk_sentences,
    "pipe_dsir_select" -> pipe_dsir_select,
    "pipe_lm_perplexity" -> pipe_lm_perplexity,
    "pipe_lm_kneser_ney" -> pipe_lm_kneser_ney,
    "pipe_moore_lewis" -> pipe_moore_lewis,
    "pipe_min_k_prob" -> pipe_min_k_prob,
    "pipe_curate_v5" -> pipe_curate_v5,
    "pipe_span_corrupt" -> pipe_span_corrupt,
    "pipe_hard_negatives" -> pipe_hard_negatives,
    "pipe_hard_negatives_bounded" -> pipe_hard_negatives_bounded,
    "pipe_fim_transform" -> pipe_fim_transform,
    "pipe_pagerank" -> pipe_pagerank,
    "pipe_weighted_sample" -> pipe_weighted_sample,
    "pipe_lm_terciles" -> pipe_lm_terciles,
    "pipe_lm_trigram" -> pipe_lm_trigram,
    "pipe_bpe_step" -> pipe_bpe_step,
    "pipe_bpe_apply" -> pipe_bpe_apply,
    "pipe_bpe_bytes" -> pipe_bpe_bytes,
    "pipe_bpe_train" -> pipe_bpe_train,
    "pipe_bpe_train_apply" -> pipe_bpe_train_apply,
    "pipe_wordpiece_train" -> pipe_wordpiece_train,
    "pipe_wordpiece_train_apply" -> pipe_wordpiece_train_apply,
    "dedup_url" -> dedup_url,
    "pipe_temperature_sample" -> pipe_temperature_sample,
    "pipe_quality_logreg" -> pipe_quality_logreg,
    "text_pii_scrub" -> text_pii_scrub,
    "text_domains" -> text_domains,
    "mm_phash_buckets" -> mm_phash_buckets,
    "mm_scene_cuts" -> mm_scene_cuts,
    "knn_lsh" -> knn_lsh,
    "mm_audio_energy" -> mm_audio_energy,
    "dedup_exact" -> dedup_exact,
    "dedup_ngram_jaccard" -> dedup_ngram_jaccard,
    "dedup_kgram_overlap" -> dedup_kgram_overlap,
    "dedup_winnow" -> dedup_winnow,
    "text_boilerplate_ngrams" -> text_boilerplate_ngrams,
    "pipe_source_report" -> pipe_source_report,
    "text_vocab_growth" -> text_vocab_growth,
    "dedup_jaccard_prefix" -> dedup_jaccard_prefix,
    "pipe_dedup_corpus" -> pipe_dedup_corpus,
    "pipe_dedup_incremental" -> pipe_dedup_incremental,
    "text_gopher_filter" -> text_gopher_filter,
    "dedup_minhash_lsh" -> dedup_minhash_lsh,
    "dedup_simhash" -> dedup_simhash,
    "dedup_embedding" -> dedup_embedding,
    "dedup_semantic" -> dedup_semantic,
    "knn_brute" -> knn_brute,
    "knn_cell" -> knn_cell,
    "knn_ivf" -> knn_ivf,
    "knn_mips" -> knn_mips,
    "knn_mips_ivf" -> knn_mips_ivf,
    "knn_mips_recall" -> knn_mips_recall,
    "text_bigrams" -> text_bigrams,
    "mm_frame_sample" -> mm_frame_sample,
    "text_token_count" -> text_token_count,
    "text_quality" -> text_quality,
    "text_char_entropy" -> text_char_entropy,
    "text_langid" -> text_langid,
    "text_fingerprint" -> text_fingerprint,
    "mm_binary_stats" -> mm_binary_stats
  )

  /** DuckDB rendition of [[tokenizeDefault]] (split + filter ≡ the
    * lookaround-extract form; length in chars on both sides) over an
    * arbitrary column — `toksSql` is the `text`-column instance every
    * whole-document oracle uses. */
  private[queries] def toksSqlOf(c: String) =
    raw"""list_filter(regexp_split_to_array(lower($c), '[^\p{L}\p{N}]+'),
         |        t -> t <> '' AND length(t) <= 40)""".stripMargin

  private[queries] val toksSql = toksSqlOf("text")

  /** Water-filling unroll for the multi-epoch oracle: `rounds` chained
    * round CTEs over a `per(source, weight, n_tokens)` CTE, replaying
    * [[graft.ops.Mixture]]'s simultaneous-round fixpoint in HUGEINT —
    * each round computes uncapped shares `w·R // ΣW` (R = budget minus
    * already-capped caps), caps every share that exceeds
    * `n_tokens · maxEpochs`, and is IDEMPOTENT at the fixpoint, so any
    * unroll ≥ the actual round count (2–3 on this corpus, ≤ #sources
    * always) computes the identical allocation. Final state lands in
    * `r$rounds`; the budget scalar in `tot`. */
  private def waterFillCtes(rounds: Int, budgetNum: Int,
      maxEpochs: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""tot AS MATERIALIZED (SELECT CAST(sum(n_tokens) AS HUGEINT) * $budgetNum AS B FROM per),
         |r0 AS MATERIALIZED (SELECT source, weight, n_tokens,
         |  CAST(n_tokens AS HUGEINT) * $maxEpochs AS cap,
         |  FALSE AS capped, CAST(0 AS HUGEINT) AS alloc FROM per)""".stripMargin)
    for (i <- 1 to rounds) {
      val p = s"r${i - 1}"
      sb.append(
        s""",
           |s$i AS MATERIALIZED (SELECT r.*, CASE WHEN r.capped THEN CAST(0 AS HUGEINT)
           |    ELSE CAST(r.weight AS HUGEINT) *
           |      (t.B - (SELECT coalesce(sum(alloc), 0) FROM $p WHERE capped))
           |      // NULLIF((SELECT sum(weight) FROM $p WHERE NOT capped), 0)
           |    END AS share
           |  FROM $p r CROSS JOIN tot t),
           |r$i AS MATERIALIZED (SELECT source, weight, n_tokens, cap,
           |    (capped OR share > cap) AS capped,
           |    CASE WHEN capped THEN alloc WHEN share > cap THEN cap
           |      ELSE share END AS alloc
           |  FROM s$i)""".stripMargin)
    }
    sb.toString
  }

  /** Trigram stupid-backoff oracle chain — restates
    * [[graft.ops.LangModel.trigramNll]]'s three count tables and the
    * CASE-laddered quantized score with identical arithmetic text. */
  private lazy val lmTrigramSql =
    s"""t AS (SELECT doc_id, lang = 'en' AS tr, $toksSql AS toks FROM documents),
       |tg AS (
       |  SELECT doc_id, tr, g,
       |    split_part(g, ' ', 1) || ' ' || split_part(g, ' ', 2) AS p12,
       |    split_part(g, ' ', 2) || ' ' || split_part(g, ' ', 3) AS s23,
       |    split_part(g, ' ', 2) AS w2, split_part(g, ' ', 3) AS w3
       |  FROM (
       |    SELECT doc_id, tr,
       |      unnest(list_transform(range(greatest(len(toks) - 2, 0)),
       |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g
       |    FROM t)),
       |c3 AS (SELECT g, count(*) AS c3 FROM tg WHERE tr GROUP BY g),
       |cb AS (SELECT b, count(*) AS cb FROM (
       |    SELECT unnest(list_transform(range(greatest(len(toks) - 1, 0)),
       |      i -> toks[i+1] || ' ' || toks[i+2])) AS b
       |    FROM t WHERE tr) GROUP BY b),
       |cu AS (SELECT u, count(*) AS cu FROM (
       |    SELECT unnest(toks) AS u FROM t WHERE tr) GROUP BY u),
       |nv AS (SELECT count(*) AS n_tok, count(DISTINCT u) AS v FROM (
       |    SELECT unnest(toks) AS u FROM t WHERE tr)),
       |dg AS (SELECT doc_id, g, p12, s23, w2, w3, count(*) AS cnt FROM tg
       |  GROUP BY doc_id, g, p12, s23, w2, w3),
       |sc AS (
       |  SELECT dg.doc_id,
       |    CAST(sum(dg.cnt) AS BIGINT) AS n_trigrams,
       |    CAST(sum(dg.cnt * CAST(floor(-ln(
       |      CASE WHEN coalesce(c3.c3, 0) > 0
       |             THEN CAST(c3.c3 AS DOUBLE) / CAST(b12.cb AS DOUBLE)
       |           WHEN coalesce(b23.cb, 0) > 0
       |             THEN 0.4 * CAST(b23.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE)
       |           ELSE 0.16 * CAST(coalesce(u3.cu, 0) + 1 AS DOUBLE) /
       |                CAST(nv.n_tok + nv.v AS DOUBLE)
       |      END) * 1000000.0) AS BIGINT)) AS BIGINT) AS nll_q
       |  FROM dg
       |  LEFT JOIN c3 USING (g)
       |  LEFT JOIN cb b12 ON b12.b = dg.p12
       |  LEFT JOIN cb b23 ON b23.b = dg.s23
       |  LEFT JOIN cu u2 ON u2.u = dg.w2
       |  LEFT JOIN cu u3 ON u3.u = dg.w3
       |  CROSS JOIN nv
       |  GROUP BY dg.doc_id)""".stripMargin

  /** The unigram-LM oracle's shared CTE chain (both unigram oracles end
    * in `best` + `words`): re-derives the seed vocabulary (substring
    * counts → top-200 + singles → quantized costs) exactly as
    * [[graft.ops.Unigram.seedVocab]], then INDEPENDENTLY restates
    * Viterbi by enumerating EVERY segmentation of every word with a
    * recursive CTE and taking min (cost, piece-string) — no DP, so the
    * engine's DP + tie-break is gated against exhaustive ground truth.
    * Tractable because the gate's word universe is ≤ 10 codepoints
    * (`unigramWords` scaladoc). */
  private lazy val unigramCtes =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |words AS (
       |  SELECT w, count(*) AS freq FROM (SELECT unnest(toks) AS w FROM t)
       |  WHERE length(w) <= 10 AND regexp_matches(w, '^[a-z0-9]+$$')
       |  GROUP BY w),
       |subs AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq, substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece
       |    FROM words
       |    CROSS JOIN range(1, 11) r1(i)
       |    CROSS JOIN range(1, 5) r2(l)
       |    WHERE i + l - 1 <= length(w))
       |  GROUP BY piece),
       |top AS (SELECT piece, cnt FROM subs WHERE length(piece) >= 2
       |        ORDER BY cnt DESC, piece ASC LIMIT 200),
       |singles AS (SELECT piece, cnt FROM subs WHERE length(piece) = 1),
       |vocab0 AS (SELECT piece, cnt FROM top UNION ALL SELECT piece, cnt FROM singles),
       |tot AS (SELECT sum(cnt) AS total FROM vocab0),
       |vocab AS (SELECT piece, cnt,
       |    CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT) AS cost_q
       |  FROM vocab0 CROSS JOIN tot),
       |seg AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS cost, '' AS segstr FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + length(v.piece), s.cost + v.cost_q,
       |    CASE WHEN s.segstr = '' THEN v.piece ELSE s.segstr || '|' || v.piece END
       |  FROM seg s JOIN vocab v
       |    ON substr(s.w, s.pos + 1, length(v.piece)) = v.piece
       |  WHERE s.pos < length(s.w)),
       |complete AS (SELECT w, cost, segstr FROM seg WHERE pos = length(w)),
       |best AS (
       |  SELECT w, seg, n_pieces, cost_q FROM (
       |    SELECT w, segstr AS seg,
       |      CAST(len(string_split(segstr, '|')) AS BIGINT) AS n_pieces,
       |      cost AS cost_q,
       |      row_number() OVER (PARTITION BY w ORDER BY cost ASC, segstr ASC) AS rn
       |    FROM complete) WHERE rn = 1)""".stripMargin

  /** The quality-feature table (`feats`) — oracle twin of
    * [[graft.ops.TextAnalysis.quantizedQualityFeatures]] at the module's
    * Gopher constants. */
  private lazy val qualityFeatsSql =
    s"""feats AS (
       |  SELECT doc_id,
       |    CAST(1 AS BIGINT) AS x0,
       |    least(stop_hits, 20) - 10 AS x1,
       |    least(n_words, 100) - 50 AS x2,
       |    CASE WHEN $gopherKeepSql THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
       |  FROM (SELECT doc_id, $gopherMetricsSql FROM documents))""".stripMargin

  /** One logreg GD round: quantized sigmoid under wt{r-1}, exact integer
    * gradient sums, truncating-division update —
    * [[graft.ops.LogReg.train]]'s arithmetic restated per round. */
  private def logRegIterSql(r: Int) =
    s"""p$r AS (
       |  SELECT y, x0, x1, x2,
       |    CAST(floor(1000000.0 / (1.0 + exp(-(CAST(w0*x0 + w1*x1 + w2*x2 AS DOUBLE) / 1000000.0)))) AS BIGINT) AS pq
       |  FROM feats CROSS JOIN wt${r - 1}),
       |g$r AS (
       |  SELECT CAST(sum((pq - y*1000000) * x0) AS BIGINT) AS g0,
       |         CAST(sum((pq - y*1000000) * x1) AS BIGINT) AS g1,
       |         CAST(sum((pq - y*1000000) * x2) AS BIGINT) AS g2,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM p$r),
       |wt$r AS (
       |  SELECT w0 - g0 // (n * $QualityLrDen) AS w0,
       |         w1 - g1 // (n * $QualityLrDen) AS w1,
       |         w2 - g2 // (n * $QualityLrDen) AS w2
       |  FROM g$r CROSS JOIN wt${r - 1})""".stripMargin

  private lazy val logRegTrainCtes =
    s"""$qualityFeatsSql,
       |wt0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |        CAST(0 AS BIGINT) AS w2),
       |${logRegIterSql(1)},
       |${logRegIterSql(2)},
       |${logRegIterSql(3)}""".stripMargin

  /** One unigram-training enumeration round: all segmentations of every
    * word under `vocab\$r`'s costs (fresh recursive CTE per round — the
    * oracle re-derives each round's Viterbi from scratch, no DP). */
  private def unigramSegSql(r: Int) =
    s"""seg$r AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS cost, '' AS segstr FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + length(v.piece), s.cost + v.cost_q,
       |    CASE WHEN s.segstr = '' THEN v.piece ELSE s.segstr || '|' || v.piece END
       |  FROM seg$r s JOIN vocab$r v
       |    ON substr(s.w, s.pos + 1, length(v.piece)) = v.piece
       |  WHERE s.pos < length(s.w)),
       |best$r AS (
       |  SELECT w, seg FROM (
       |    SELECT w, segstr AS seg,
       |      row_number() OVER (PARTITION BY w ORDER BY cost ASC, segstr ASC) AS rn
       |    FROM seg$r WHERE pos = length(w)) WHERE rn = 1)""".stripMargin

  /** One unigram-training re-estimate round: Viterbi piece counts from
    * `best\$r`, the alphabet Laplace floor, zero-count multi-char prune,
    * re-quantized costs — [[graft.ops.Unigram.train]]'s update rule
    * restated. */
  private def unigramUpdateSql(r: Int) =
    s"""cnt$r AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(b.seg, '|')) AS piece, wo.freq
       |    FROM best$r b JOIN words wo USING (w))
       |  GROUP BY piece),
       |adj$r AS (
       |  SELECT v.piece,
       |    CASE WHEN length(v.piece) = 1 THEN greatest(coalesce(c.cnt, 0), 1)
       |         ELSE coalesce(c.cnt, 0) END AS cnt
       |  FROM vocab$r v LEFT JOIN cnt$r c USING (piece)),
       |vocab${r + 1} AS (
       |  SELECT piece, cnt,
       |    CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT) AS cost_q
       |  FROM (SELECT piece, cnt FROM adj$r WHERE cnt > 0)
       |  CROSS JOIN (SELECT sum(cnt) AS total FROM adj$r WHERE cnt > 0))""".stripMargin

  /** DuckDB rendition of [[graft.ops.TextAnalysis]]'s gopherMetrics —
    * SELECT-list fragment over `text`, plus the keep predicate over the
    * resulting columns; ONE definition shared by the text_gopher_filter
    * and pipe_curate oracles (mirrors gopherMetrics/gopherKeep sharing
    * on the Scala side so thresholds cannot drift). */
  private val gopherMetricsSql =
    """CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
      |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
      |      / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS mean_word_len,
      |    CAST(len(regexp_extract_all(lower(text), '[0-9]*[a-z][a-z0-9]*')) AS DOUBLE)
      |      / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS alpha_word_frac,
      |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |      t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_hits""".stripMargin

  private val gopherKeepSql =
    """n_words BETWEEN 30 AND 100000 AND mean_word_len BETWEEN 3 AND 10
      |    AND alpha_word_frac >= 0.8 AND stop_hits >= 2""".stripMargin

  /** The curation chain's dedup + mixture tail over a CTE named
    * `keepers(doc_id, source, text)` — ONE copy shared by pipe_curate
    * and pipe_curate_v2 (which differ only in how keepers is filtered).
    *
    * Survivor order: `ORDER BY doc_id` alone is TOTAL here — every gated
    * dataset is the `documents` table, whose doc_id is unique, so two
    * rows in one md5(text) partition can never tie and no further
    * tiebreak is needed on either side. The engine's CLI `pipeline` verb
    * additionally breaks ties on a full-row md5
    * ([[graft.ops.Pipeline.run]]) because ITS inputs may lack an id
    * field (doc_id = md5(text) ⇒ every duplicate ties) — that path is
    * CliSpec-pinned, not oracle-gated, and the gated queries here match
    * this oracle exactly as written. */
  private lazy val curateTailSql =
    s"""surv AS (
       |  SELECT source, text FROM (
       |    SELECT source, text,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM keepers)
       |  WHERE rn = 1),
       |per AS (
       |  SELECT source,
       |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
       |  FROM surv GROUP BY 1, 2),
       |u AS (SELECT min(n_tokens // weight) AS u FROM per)
       |SELECT source, n_docs, n_tokens, CAST(weight AS BIGINT) AS weight,
       |  CAST(weight * u AS BIGINT) AS alloc_tokens
       |FROM per CROSS JOIN u ORDER BY source""".stripMargin

  /** DuckDB rendition of [[linedDocs]] exploded to (doc_id, pos, line)
    * with blanks dropped — ONE copy shared by the line-dedup diagnostic
    * and apply oracles (parallel unnests zip positionally in DuckDB, so
    * `pos` tracks the split index like Spark's posexplode). */
  private val linedLinesSql =
    """SELECT doc_id, pos, trim(l) AS line FROM (
      |    SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS l
      |    FROM (SELECT doc_id, regexp_split_to_array(
      |      substr(text, 1, 40) || '. shared boilerplate notice ' ||
      |        CAST(doc_id % 5 AS VARCHAR) || '. ' || substr(text, 41, 40),
      |      '\. ') AS ls FROM documents))
      |  WHERE len(trim(l)) > 0""".stripMargin

  /** DuckDB rendition of [[graft.ops.Dedup]]'s gramArray at n=5 over a
    * column named `toks` — ONE copy for every 5-gram oracle (shingles,
    * kgram overlap, winnow, incremental) so the gram text cannot drift
    * from the shared Scala builder. */
  /** DuckDB rendition of the BPE trainer's word-frequency + pair-count
    * tables ([[graft.ops.Bpe.topPairs]]) — ONE copy shared by the
    * pipe_bpe_step and pipe_bpe_apply oracles so the trained merge
    * table cannot drift from the one the encoder replays. */
  private val bpeCtesSql =
    s"""t AS (SELECT $toksSql AS toks FROM documents),
       |wf AS (SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |pc AS (
       |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq,
       |      unnest(list_transform(range(greatest(length(w) - 1, 0)),
       |        i -> substr(w, i + 1, 1) || ' ' || substr(w, i + 2, 1))) AS pair
       |    FROM wf) GROUP BY pair)""".stripMargin

  /** DuckDB rendition of [[graft.ops.LangModel.bigramNll]]'s scoring
    * chain (train counts, vocab, per-doc quantized NLL sums) — ONE copy
    * shared by the pipe_lm_perplexity and pipe_lm_terciles oracles so
    * the model arithmetic cannot drift between the filter and tercile
    * views. */
  private val lmScoreCtesSql =
    s"""t AS (SELECT doc_id, lang = 'en' AS tr, $toksSql AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id, tr, g, split_part(g, ' ', 1) AS w1 FROM (
       |    SELECT doc_id, tr,
       |      unnest(list_transform(range(greatest(len(toks) - 1, 0)),
       |        i -> toks[i+1] || ' ' || toks[i+2])) AS g
       |    FROM t)),
       |c2 AS (SELECT g, count(*) AS c2 FROM bg WHERE tr GROUP BY g),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE tr GROUP BY w1),
       |v AS (SELECT count(DISTINCT u) AS v
       |  FROM (SELECT unnest(toks) AS u FROM t WHERE tr)),
       |dg AS (SELECT doc_id, g, w1, count(*) AS cnt FROM bg
       |  GROUP BY doc_id, g, w1),
       |sc AS (
       |  SELECT dg.doc_id,
       |    CAST(sum(dg.cnt) AS BIGINT) AS n_bigrams,
       |    CAST(sum(dg.cnt * CAST(floor(-ln(
       |        CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
       |        CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS nll_q
       |  FROM dg LEFT JOIN c2 USING (g) LEFT JOIN c1 USING (w1) CROSS JOIN v
       |  GROUP BY dg.doc_id)""".stripMargin

  /** DuckDB rendition of ONE BPE training round over the running
    * segmentation `enc{i-1}(w, freq, syms)`: count adjacent pairs
    * weighted by freq (`pc_i`), keep the argmax (`m_i`, ties on pair
    * text), and merge it everywhere (`enc_i`) under the same
    * island-parity overlap rule the pipe_bpe_apply oracle restates —
    * candidate positions `cs`, island id `cs[k]-k`, a candidate merges
    * iff its offset from the island head is even. Generated per
    * iteration so the unroll cannot drift between rounds. */
  private def bpeTrainIterSql(i: Int): String =
    s"""pc$i AS (
       |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq,
       |      unnest(list_transform(range(greatest(len(syms) - 1, 0)),
       |        j -> syms[j + 1] || ' ' || syms[j + 2])) AS pair
       |    FROM enc${i - 1}) GROUP BY pair),
       |m$i AS (SELECT pair, cnt FROM pc$i ORDER BY cnt DESC, pair ASC LIMIT 1),
       |enc$i AS (
       |  SELECT w, freq,
       |    list_transform(
       |      list_filter(range(len(syms)), j -> NOT list_contains(acts, j - 1)),
       |      j -> CASE WHEN list_contains(acts, j)
       |           THEN syms[j + 1] || syms[j + 2] ELSE syms[j + 1] END) AS syms
       |  FROM (
       |    SELECT w, freq, syms,
       |      list_transform(
       |        list_filter(range(len(cs)),
       |          k -> (k - (list_position(diffs, diffs[k + 1]) - 1)) % 2 = 0),
       |        k -> cs[k + 1]) AS acts
       |    FROM (
       |      SELECT w, freq, syms, cs,
       |        list_transform(range(len(cs)), k -> cs[k + 1] - k) AS diffs
       |      FROM (
       |        -- LEFT JOIN (not cross): a round with no merge candidate
       |        -- left must pass the segmentation through unchanged, the
       |        -- same early-stop Bpe.train takes — a cross join against an
       |        -- empty m would silently empty the whole vocabulary
       |        SELECT e.w, e.freq, e.syms,
       |          CASE WHEN m.pair IS NULL THEN CAST([] AS BIGINT[])
       |          ELSE list_filter(range(len(e.syms) - 1),
       |            j -> e.syms[j + 1] || ' ' || e.syms[j + 2] = m.pair)
       |          END AS cs
       |        FROM enc${i - 1} e LEFT JOIN m$i m ON TRUE))))""".stripMargin

  /** The shared unrolled 3-round training chain: char segmentation
    * `enc0` plus [[bpeTrainIterSql]] rounds 1..3. */
  private val bpeTrainCtesSql =
    s"""$bpeCtesSql,
       |enc0 AS (
       |  SELECT w, freq,
       |    list_transform(range(length(w)), j -> substr(w, j + 1, 1)) AS syms
       |  FROM wf),
       |${bpeTrainIterSql(1)},
       |${bpeTrainIterSql(2)},
       |${bpeTrainIterSql(3)}""".stripMargin

  /** DuckDB rendition of [[graft.exprs.ByteRemap]] over a lambda-bound
    * pre-token `tk`, from pure codepoint arithmetic — codepoints →
    * UTF-8 bytes (the standard length-prefix encode, all integer
    * div/mod) → GPT-2 printable remap → chr — so the byte-level gate
    * shares NO code with the expression it gates. */
  private val byteRemapSql =
    """array_to_string(list_transform(
      |  flatten(list_transform(
      |    list_transform(range(length(tk)), i -> unicode(substr(tk, i + 1, 1))),
      |    u -> CASE
      |      WHEN u < 128 THEN [u]
      |      WHEN u < 2048 THEN [192 + u // 64, 128 + u % 64]
      |      WHEN u < 65536 THEN [224 + u // 4096, 128 + (u // 64) % 64,
      |                           128 + u % 64]
      |      ELSE [240 + u // 262144, 128 + (u // 4096) % 64,
      |            128 + (u // 64) % 64, 128 + u % 64] END)),
      |  b -> chr(CAST(CASE
      |    WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
      |      OR (b >= 174) THEN b
      |    WHEN b <= 32 THEN 256 + b
      |    WHEN b <= 160 THEN b + 162
      |    ELSE 323 END AS INTEGER))), '')""".stripMargin

  /** Byte-level tokens of a column named `text` — the
    * [[graft.ops.Bpe.byteLevelToks]] restatement: the SAME
    * `Bpe.PreTokenRegex` string drives both engines (one definition;
    * the pattern avoids lookahead precisely so RE2 can run it), each
    * pre-token remapped by [[byteRemapSql]]. */
  private val byteToksSql =
    s"""list_transform(
       |  regexp_extract_all(text, '${graft.ops.Bpe.PreTokenRegex.replace("'", "''")}'),
       |  tk -> $byteRemapSql)""".stripMargin

  /** [[bpeTrainCtesSql]] with the corpus-to-words step swapped out: the
    * identical unrolled 3-round training chain over ANY `t(toks)` CTE —
    * shared by the byte-level gate so the round arithmetic cannot drift
    * from the word-level one. */
  private def bpeTrainCtesOver(tSql: String): String =
    s"""t AS ($tSql),
       |wf AS (SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |enc0 AS (
       |  SELECT w, freq,
       |    list_transform(range(length(w)), j -> substr(w, j + 1, 1)) AS syms
       |  FROM wf),
       |${bpeTrainIterSql(1)},
       |${bpeTrainIterSql(2)},
       |${bpeTrainIterSql(3)}""".stripMargin

  /** The Moore–Lewis CTE chain: [[lmScoreCtesSql]]'s in-domain model
    * (`sc`) plus the general model trained on ALL rows (`sca`), reusing
    * the same `t`/`bg`/`dg` tables — shared by the score gate and the
    * v5 curation composition. */
  private lazy val mooreLewisCtesSql =
    s"""$lmScoreCtesSql,
       |c2a AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
       |c1a AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |va AS (SELECT count(DISTINCT u) AS v
       |  FROM (SELECT unnest(toks) AS u FROM t)),
       |sca AS (
       |  SELECT dg.doc_id,
       |    CAST(sum(dg.cnt * CAST(floor(-ln(
       |        CAST(coalesce(c2a.c2, 0) + 1 AS DOUBLE) /
       |        CAST(coalesce(c1a.c1, 0) + va.v AS DOUBLE)) * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS nll_q
       |  FROM dg LEFT JOIN c2a USING (g) LEFT JOIN c1a USING (w1) CROSS JOIN va
       |  GROUP BY dg.doc_id)""".stripMargin

  /** The quantized Moore–Lewis score projection over joined `sc`/`sca`
    * rows — ONE definition for the score column and the keep predicate. */
  private val mlQSql =
    """CAST(CASE WHEN coalesce(sc.n_bigrams, 0) > 0
      |    THEN (coalesce(sc.nll_q, 0) - coalesce(sca.nll_q, 0)) // sc.n_bigrams
      |    ELSE 0 END AS BIGINT)""".stripMargin

  /** DuckDB rendition of ONE WordPiece training round over the previous
    * round's segmentation `wenc{i-1}(w, freq, syms)`: symbol counts
    * (`sc_i`), pair counts (`pc_i`), the argmax of the quantized
    * likelihood-gain score `cnt·10^12 // (c_left·c_right)` in HUGEINT
    * (≡ the Spark side's DECIMAL(38,0) widen, both cast back to BIGINT;
    * ties on pair text), and the island-parity merge apply — the
    * [[bpeTrainIterSql]] list machinery with the one WordPiece change:
    * the merged symbol strips the right component's `##`. */
  private def wpTrainIterSql(i: Int): String =
    s"""sc$i AS (SELECT s, CAST(sum(freq) AS BIGINT) AS c FROM (
       |    SELECT freq, unnest(syms) AS s FROM wenc${i - 1}) GROUP BY s),
       |pc$i AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq,
       |      unnest(list_transform(range(greatest(len(syms) - 1, 0)),
       |        j -> syms[j + 1] || ' ' || syms[j + 2])) AS pair
       |    FROM wenc${i - 1}) GROUP BY pair),
       |wm$i AS (
       |  SELECT pair, cnt, ca, cb, score_q FROM (
       |    SELECT p.pair, p.cnt, a.c AS ca, b.c AS cb,
       |      CAST(CAST(p.cnt AS HUGEINT) * 1000000000000 //
       |           (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS score_q
       |    FROM pc$i p
       |    JOIN sc$i a ON a.s = split_part(p.pair, ' ', 1)
       |    JOIN sc$i b ON b.s = split_part(p.pair, ' ', 2))
       |  ORDER BY score_q DESC, pair ASC LIMIT 1),
       |wenc$i AS (
       |  SELECT w, freq,
       |    list_transform(
       |      list_filter(range(len(syms)), j -> NOT list_contains(acts, j - 1)),
       |      j -> CASE WHEN list_contains(acts, j)
       |           THEN syms[j + 1] ||
       |             (CASE WHEN syms[j + 2] LIKE '##%'
       |              THEN substr(syms[j + 2], 3) ELSE syms[j + 2] END)
       |           ELSE syms[j + 1] END) AS syms
       |  FROM (
       |    SELECT w, freq, syms,
       |      list_transform(
       |        list_filter(range(len(cs)),
       |          k -> (k - (list_position(diffs, diffs[k + 1]) - 1)) % 2 = 0),
       |        k -> cs[k + 1]) AS acts
       |    FROM (
       |      SELECT w, freq, syms, cs,
       |        list_transform(range(len(cs)), k -> cs[k + 1] - k) AS diffs
       |      FROM (
       |        -- LEFT JOIN: a round with no candidate passes the
       |        -- segmentation through unchanged (Bpe's early-stop rule)
       |        SELECT e.w, e.freq, e.syms,
       |          CASE WHEN m.pair IS NULL THEN CAST([] AS BIGINT[])
       |          ELSE list_filter(range(len(e.syms) - 1),
       |            j -> e.syms[j + 1] || ' ' || e.syms[j + 2] = m.pair)
       |          END AS cs
       |        FROM wenc${i - 1} e LEFT JOIN wm$i m ON TRUE))))""".stripMargin

  /** The unrolled 4-round WordPiece training chain: `##`-prefixed char
    * segmentation `wenc0` plus [[wpTrainIterSql]] rounds 1..4. */
  private val wpTrainCtesSql =
    s"""t AS (SELECT $toksSql AS toks FROM documents),
       |wf AS (SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |wenc0 AS (
       |  SELECT w, freq,
       |    list_transform(range(length(w)),
       |      j -> CASE WHEN j = 0 THEN substr(w, 1, 1)
       |           ELSE '##' || substr(w, j + 1, 1) END) AS syms
       |  FROM wf),
       |${wpTrainIterSql(1)},
       |${wpTrainIterSql(2)},
       |${wpTrainIterSql(3)},
       |${wpTrainIterSql(4)}""".stripMargin

  /** DuckDB rendition of ONE k-means round against the previous round's
    * centroid table `kc{i-1}(cid, cv)`: cosine-argmax assignment
    * (`asg_i`), fixed-point per-dim sums (`upd_i` — the pipe_kmeans_step
    * arithmetic), truncating-division centroid micro-units (`cq_i`;
    * DuckDB `//` ≡ Spark `div` on negatives), and the float-rounded
    * rebuild (`kc_i`) the next round assigns against. Generated per
    * iteration so the unroll cannot drift between rounds. */
  private def kmeansIterSql(i: Int, src: String = "embeddings",
      pfx: String = ""): String =
    s"""asg$pfx$i AS (
       |  SELECT cid AS cell, embedding FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
       |    FROM $src e CROSS JOIN kc$pfx${i - 1} c)
       |  WHERE crn = 1),
       |upd$pfx$i AS (
       |  SELECT cell, d, CAST(sum(q) AS BIGINT) AS sum_q, count(*) AS n FROM (
       |    SELECT cell, i AS d,
       |      CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
       |    FROM asg$pfx$i CROSS JOIN (SELECT unnest(range(64)) AS i))
       |  GROUP BY cell, d),
       |cq$pfx$i AS (SELECT cell, d, sum_q // n AS cq FROM upd$pfx$i),
       |kc$pfx$i AS (
       |  SELECT cell AS cid,
       |    list(CAST(CAST(cq AS DOUBLE) / 1000000.0 AS FLOAT) ORDER BY d) AS cv
       |  FROM cq$pfx$i GROUP BY cell)""".stripMargin

  private val gram5Sql =
    """list_transform(range(len(toks) - 4),
      |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4], toks[i+5]))""".stripMargin

  private val shingleSql =
    s"""SELECT doc_id,
       |  list_distinct($gram5Sql) AS shingles
       |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |WHERE len(toks) >= 5""".stripMargin

  /** 3-gram sibling of [[shingleSql]] — the DENSE lexical-confusability
    * signal the hard-negative tiers shingle on (see
    * [[pipe_hard_negatives]]'s scaladoc for why 3, not the dedup
    * tier's 5). */
  private val shingle3Sql =
    s"""SELECT doc_id,
       |  list_distinct(list_transform(range(len(toks) - 2),
       |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingles
       |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |WHERE len(toks) >= 3""".stripMargin

  /** Trained-IVF SERVING chain (kc0 seed → 3 unrolled k-means rounds →
    * corpus assignment `asgT` → query probes `probesT` (nProbe=2) →
    * ranked candidates `knn(qid, neighbor, rank)`) over the query set
    * `queryPred` selects — ONE definition shared by [[knn_ivf_trained]]
    * and the bounded hard-negative oracle, so the serving arithmetic
    * cannot drift between the gates that compose it. */
  private def ivfTrainedCtes(queryPred: String): String =
    s"""kc0 AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
       |${kmeansIterSql(1)},
       |${kmeansIterSql(2)},
       |${kmeansIterSql(3)},
       |asgT AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN kc3 c)
       |  WHERE crn = 1),
       |probesT AS (
       |  SELECT qid, qv, cell FROM (
       |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN kc3 c WHERE $queryPred)
       |  WHERE crn <= 2),
       |knn AS (
       |  SELECT p.qid, a.vec_id AS neighbor,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY list_cosine_similarity(p.qv, a.embedding) DESC, a.vec_id ASC) AS rank
       |  FROM probesT p JOIN asgT a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid)""".stripMargin

  /** MinHash-LSH candidate-pair CTE chain, shared verbatim by the pair
    * oracle and the connected-components oracle built on it. */
  private val minhashCtes =
    s"""sh AS ($shingleSql),
       |base AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h
       |         FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |sig AS (
       |  SELECT doc_id, band,
       |    concat_ws('_',
       |      min(((band*2+1) * 2654435761 % 2147483647 * h + (band*2+1) * 40503 % 2147483647) % 2147483647),
       |      min(((band*2+2) * 2654435761 % 2147483647 * h + (band*2+2) * 40503 % 2147483647) % 2147483647)
       |    ) AS sig
       |  FROM base
       |  CROSS JOIN (SELECT unnest(range(8)) AS band)
       |  GROUP BY doc_id, band),
       |prs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM sig l JOIN sig r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id)""".stripMargin

  /** Deterministic-IVF CTE chain (`cents` → `asg` → `probes`): first 16
    * vectors as centroids, exact cosine assignment, nprobe=2 — shared by
    * the cosine-ranked and sq8-ranked IVF oracles. */
  private val ivfCtes =
    """cents AS (
      |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
      |asg AS (
      |  SELECT vec_id, embedding, cid AS cell FROM (
      |    SELECT e.vec_id, e.embedding, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE crn = 1),
      |probes AS (
      |  SELECT qid, qv, cell FROM (
      |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
      |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 20)
      |  WHERE crn <= 2)""".stripMargin

  /** MIPS CTE chain (`mf` → `msd` → `mm` [+ `mcent`/`masg`/`mprobes`/
    * `mappr`, `mex`]) — ONE definition of the norm-spread fixed-point
    * fixture ([[mipsCorpus]]'s transform verbatim), the self-dot table,
    * the M² scalar, and (for the IVF tiers) the augmented assignment /
    * probe / candidate chain mirroring [[graft.ops.Ann.mipsIvf]]'s
    * scalar-form arithmetic: integer dots are exact BIGINT sums
    * (order-independent), the augmentation term is
    * sqrt(CAST(greatest(m2−sd,0) AS DOUBLE)) — the same single
    * correctly-rounded IEEE ops the Spark expression performs, so the
    * scores are bit-identical across engines. */
  private val mipsCtes =
    """mf AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> (1 + vec_id % 10) * CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS f
      |  FROM embeddings),
      |msd AS (
      |  SELECT vec_id, f,
      |    CAST(list_sum(list_transform(range(64), i -> f[i+1] * f[i+1])) AS BIGINT) AS sd
      |  FROM mf),
      |mm AS (SELECT max(sd) AS m2 FROM msd)""".stripMargin

  /** Exact MIPS top-5 CTE (`mex`) — [[knn_mips]]'s ranking as a shared
    * fragment ([[knn_mips]], [[knn_mips_recall]]). */
  private val mipsExactCte =
    """mex AS (
      |  SELECT qid, rank, neighbor FROM (
      |    SELECT q.vec_id AS qid, e.vec_id AS neighbor,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_sum(list_transform(range(64), i -> q.f[i+1] * e.f[i+1])) DESC,
      |          e.vec_id ASC) AS rank
      |    FROM mf q CROSS JOIN mf e WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id)
      |  WHERE rank <= 5)""".stripMargin

  /** Augmented-IVF MIPS candidate CTE chain (`mcent` → `masg` →
    * `mprobes` → `mappr`) — shared by [[knn_mips_ivf]] and
    * [[knn_mips_recall]]. */
  private val mipsIvfCtes =
    """mcent AS (SELECT vec_id AS cid, f, sd FROM msd WHERE vec_id < 16),
      |masg AS (
      |  SELECT vec_id, f, cid AS cell FROM (
      |    SELECT e.vec_id, e.f, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        (CAST(list_sum(list_transform(range(64), i -> e.f[i+1] * c.f[i+1])) AS DOUBLE)
      |         + sqrt(CAST(greatest(mm.m2 - e.sd, 0) AS DOUBLE))
      |         * sqrt(CAST(greatest(mm.m2 - c.sd, 0) AS DOUBLE))) DESC,
      |        c.cid ASC) AS crn
      |    FROM msd e CROSS JOIN mcent c CROSS JOIN mm)
      |  WHERE crn = 1),
      |mprobes AS (
      |  SELECT qid, f, cell FROM (
      |    SELECT e.vec_id AS qid, e.f, c.cid AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(range(64), i -> e.f[i+1] * c.f[i+1])) DESC,
      |        c.cid ASC) AS crn
      |    FROM msd e CROSS JOIN mcent c WHERE e.vec_id < 20)
      |  WHERE crn <= 2),
      |mappr AS (
      |  SELECT qid, rank, neighbor FROM (
      |    SELECT p.qid, a.vec_id AS neighbor,
      |      row_number() OVER (PARTITION BY p.qid ORDER BY
      |        list_sum(list_transform(range(64), i -> p.f[i+1] * a.f[i+1])) DESC,
      |        a.vec_id ASC) AS rank
      |    FROM mprobes p JOIN masg a ON a.cell = p.cell
      |    WHERE a.vec_id <> p.qid)
      |  WHERE rank <= 5)""".stripMargin

  /** int8 scalar-quantization CTE chain (`st` → `mnx` → `q`): per-dim
    * min/max, 256-bin floor quantization — shared by the all-pairs and
    * IVF-cut sq8 oracles. */
  private def sq8Ctes(src: String = "embeddings"): String =
    s"""st AS (
      |  SELECT i, CAST(min(embedding[i + 1]) AS DOUBLE) AS mn,
      |         CAST(max(embedding[i + 1]) AS DOUBLE) AS mx
      |  FROM $src CROSS JOIN (SELECT unnest(range(64)) AS i)
      |  GROUP BY i),
      |mnx AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(range(64), j -> CASE WHEN mxs[j + 1] > mns[j + 1]
      |      THEN CAST(floor((CAST(embedding[j + 1] AS DOUBLE) - mns[j + 1])
      |                      / (mxs[j + 1] - mns[j + 1]) * 255) AS BIGINT)
      |      ELSE 0 END) AS qv
      |  FROM $src, mnx)""".stripMargin

  /** PQ CTE chain (`fx` → `sub` → `cw` → `dists` → `enc`): fixed-point
    * sub-vectors, 16 seed codewords per subspace, squared-L2 distance
    * table, argmin encode — shared by the all-pairs ADC oracle
    * ([[knn_pq]]) and the IVF-cut composition ([[knn_ivf_pq]]). Queries
    * are corpus members, so their lookup tables are the same `dists`
    * rows. */
  private val pqCtes =
    """fx AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS f
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, s, f[s*16+1 : s*16+16] AS fs
      |  FROM fx CROSS JOIN (SELECT unnest(range(4)) AS s)),
      |cw AS (SELECT s, vec_id AS cid, fs FROM sub WHERE vec_id < 16),
      |dists AS (
      |  SELECT a.vec_id, a.s, c.cid,
      |    list_sum(list_transform(range(16),
      |      i -> (a.fs[i+1] - c.fs[i+1]) * (a.fs[i+1] - c.fs[i+1]))) AS dist
      |  FROM sub a JOIN cw c ON c.s = a.s),
      |enc AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT vec_id, s, cid,
      |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cid ASC) AS rn
      |    FROM dists) WHERE rn = 1)""".stripMargin

  /** TRAINED-codebook variant of [[pqCtes]] — the replay of
    * [[graft.ops.Ann.pqCodebooksTrained]] (256-codeword integer k-means
    * per subspace, seed window vec_id >= 20, query-disjoint), exporting
    * the SAME names (`fx`, `sub`, `cw`, `dists`, `enc`) so the serving
    * chain downstream is unchanged. Every round is exact integer
    * arithmetic: squared-L2 argmin on the ×10⁶ fixed-point subvectors
    * (ties by codeword id), truncating integer mean `//` per dim,
    * empty codewords drop. */
  /** The unrolled per-subspace integer-k-means ROUNDS of
    * [[graft.ops.Ann.pqCodebooksTrained]] (pdist/pasg/pupd/pcw chain
    * over a `sub` training-subvector relation and a `pcw0` seed) —
    * shared by the raw-vector chain ([[pqTrainedCtes]]) and the
    * residual chain in the `knn_serving_recall` oracle, so the training
    * arithmetic exists once regardless of what the subvectors are. */
  private def pqTrainRoundsSql(iterations: Int): String =
    (1 to iterations).map { i =>
      s"""pdist$i AS (
         |  SELECT a.vec_id, a.s, c.cid,
         |    list_sum(list_transform(range(16),
         |      j -> (a.fs[j+1] - c.fs[j+1]) * (a.fs[j+1] - c.fs[j+1]))) AS dist
         |  FROM sub a JOIN pcw${i - 1} c ON c.s = a.s),
         |pasg$i AS (
         |  SELECT p.vec_id, p.s, p.cid, a.fs FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |        ORDER BY dist ASC, cid ASC) AS rn
         |    FROM pdist$i) p
         |  JOIN sub a ON a.vec_id = p.vec_id AND a.s = p.s
         |  WHERE p.rn = 1),
         |pupd$i AS (
         |  SELECT s, cid, j AS d,
         |    CAST(sum(fs[j+1]) AS BIGINT) // count(*) AS cq
         |  FROM pasg$i CROSS JOIN (SELECT unnest(range(16)) AS j)
         |  GROUP BY s, cid, j),
         |pcw$i AS (
         |  SELECT s, cid, list(cq ORDER BY d) AS fs FROM pupd$i
         |  GROUP BY s, cid)""".stripMargin
    }.mkString(",\n")

  private def pqTrainedCtes(iterations: Int): String = {
    val rounds = pqTrainRoundsSql(iterations)
    s"""fx AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS f
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, s, f[s*16+1 : s*16+16] AS fs
       |  FROM fx CROSS JOIN (SELECT unnest(range(4)) AS s)),
       |pseed AS (
       |  SELECT vec_id FROM embeddings WHERE vec_id >= 20
       |  ORDER BY vec_id LIMIT 256),
       |pcw0 AS (
       |  SELECT s, vec_id AS cid, fs FROM sub JOIN pseed USING (vec_id)),
       |$rounds,
       |cw AS (SELECT s, cid, fs FROM pcw$iterations),
       |dists AS (
       |  SELECT a.vec_id, a.s, c.cid,
       |    list_sum(list_transform(range(16),
       |      i -> (a.fs[i+1] - c.fs[i+1]) * (a.fs[i+1] - c.fs[i+1]))) AS dist
       |  FROM sub a JOIN cw c ON c.s = a.s),
       |enc AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT vec_id, s, cid,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cid ASC) AS rn
       |    FROM dists) WHERE rn = 1)""".stripMargin
  }

  /** IVF-PQ ADC candidate CTE (`adc`, over the ivfCtes + pqCtes names) —
    * ONE definition shared by the gated tier ([[knn_ivf_pq]]) and the
    * recall evaluation composed on top of it ([[knn_recall]]), so a
    * distance/tie-break change lands in both at once. */
  private val ivfPqAdcCte =
    """adc AS (
      |  SELECT p.qid, a.vec_id AS neighbor, CAST(sum(dq.dist) AS BIGINT) AS adist
      |  FROM probes p JOIN asg a ON a.cell = p.cell
      |  JOIN enc e ON e.vec_id = a.vec_id
      |  JOIN dists dq ON dq.s = e.s AND dq.cid = e.cid AND dq.vec_id = p.qid
      |  WHERE a.vec_id <> p.qid
      |  GROUP BY p.qid, a.vec_id)""".stripMargin

  /** Exact cosine top-5 per query (`exact`) — knn_brute's ranking as a
    * shared fragment ([[knn_brute]], [[knn_recall]]). */
  private def bruteTop5Cte(src: String = "embeddings"): String =
    s"""exact AS (
      |  SELECT qid, rank, neighbor FROM (
      |    SELECT q.vec_id AS qid, e.vec_id AS neighbor,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id ASC) AS rank
      |    FROM $src q CROSS JOIN $src e
      |    WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id)
      |  WHERE rank <= 5)""".stripMargin

  /** Oracle twin of `recallReport` over named truth/candidate pair
    * relations — the ppm arithmetic exists exactly once per engine. */
  private def recallReportSql(truthRel: String, candRel: String) =
    s"""hit AS (SELECT count(*) AS n_hit
       |  FROM $truthRel j JOIN $candRel p ON p.a = j.a AND p.b = j.b),
       |nt AS (SELECT count(*) AS n_true FROM $truthRel),
       |nc AS (SELECT count(*) AS n_cand FROM $candRel)
       |SELECT n_true, n_cand, n_hit,
       |  CASE WHEN n_cand > 0 THEN n_hit * 1000000 // n_cand
       |       ELSE 1000000 END AS precision_ppm,
       |  CASE WHEN n_true > 0 THEN n_hit * 1000000 // n_true
       |       ELSE 1000000 END AS recall_ppm
       |FROM nt, nc, hit""".stripMargin

  /** Bloom-filter membership chain over a CTE named `sh` (the
    * [[graft.ops.Dedup.decontaminateBloom]] gate shape: docs < 10 build
    * the filter, docs >= 10 probe it; m = 2^18, j = 3) ending in
    * `bhits(doc_id, sh, all_hit)` — ONE definition shared by the
    * decontamination oracle and the curation chains composing it. */
  private val bloomCtes =
    """bsh AS (SELECT DISTINCT unnest(shingles) AS sh FROM sh WHERE doc_id < 10),
      |bp AS (
      |  SELECT widx, bit_or(mask) AS wv FROM (
      |    SELECT (bit // 32) AS widx,
      |      (CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER)) AS mask
      |    FROM (
      |      SELECT CAST(('0x' || substr(md5('bloom' || CAST(t AS VARCHAR) || ':' || sh), 1, 15)) AS BIGINT) % 262144 AS bit
      |      FROM bsh CROSS JOIN range(0, 3) r(t)))
      |  GROUP BY widx),
      |cp AS (
      |  SELECT doc_id, sh, (bit // 32) AS widx,
      |    (CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER)) AS mask
      |  FROM (
      |    SELECT doc_id, sh,
      |      CAST(('0x' || substr(md5('bloom' || CAST(t AS VARCHAR) || ':' || sh), 1, 15)) AS BIGINT) % 262144 AS bit
      |    FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh WHERE doc_id >= 10)
      |    CROSS JOIN range(0, 3) r(t))),
      |bhits AS (
      |  SELECT doc_id, sh,
      |    min(CASE WHEN (coalesce(wv, 0) // mask) % 2 = 1 THEN 1 ELSE 0 END) AS all_hit
      |  FROM cp LEFT JOIN bp USING (widx)
      |  GROUP BY doc_id, sh)""".stripMargin

  /** SimHash signature CTE (`shth`, `shsig`) — ONE definition shared by
    * the pair oracle and the recall gate, mirroring
    * [[graft.exprs.SigExprs]]'s simhash_sig exactly (md5-60 token
    * hashes, 63 bit-majority votes). */
  private val simhashSigCtes =
    s"""shth AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)),
       |shsig AS (
       |  SELECT doc_id,
       |    bit_or(CASE WHEN cnt > 0 THEN power_of_two ELSE 0 END) AS simhash
       |  FROM (
       |    SELECT doc_id, bit,
       |      CAST(power(2, bit) AS BIGINT) AS power_of_two,
       |      sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
       |    FROM shth CROSS JOIN (SELECT unnest(range(63)) AS bit)
       |    GROUP BY doc_id, bit)
       |  GROUP BY doc_id)""".stripMargin

  /** The exact shingle-Jaccard >= 0.5 pair fragment (`ex`, `jac`) over a
    * CTE named `sh` the caller supplies — split out so chains that
    * already define `sh` (the MinHash one, in the recall gate) can
    * compose without duplicating the pair arithmetic. */
  private val jaccardPairCtes =
    """ex AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM sh),
      |jac AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter,
      |    a.nsh + b.nsh - count(*) AS uni
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, a.nsh, b.nsh
      |  HAVING CAST(count(*) AS DOUBLE) / (a.nsh + b.nsh - count(*)) >= 0.5)""".stripMargin

  /** Exact shingle-Jaccard >= 0.5 pair CTE chain (`sh`, `ex`, `jac`) —
    * ONE definition shared by the plain pair oracle, the prefix-filtered
    * pair oracle (identical by design: prefix filtering only prunes
    * candidates), and the end-to-end dedup oracle. A threshold or
    * tokenizer change lands in every gated query at once. */
  private val jaccardCtes =
    s"""sh AS ($shingleSql),
       |$jaccardPairCtes""".stripMargin

  /** Recursive label-reachability fragment: connected components with
    * min-id canon over a named (a, b) pair relation (every vertex
    * reaches its component's smaller ids through edges; min = canon).
    * Shared by every oracle that ends in a components step. */
  private def ccCtes(pairsRel: String) =
    s"""edges AS (SELECT a AS u, b AS v FROM $pairsRel
       |          UNION ALL SELECT b AS u, a AS v FROM $pairsRel),
       |reach(doc, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.doc = e.v),
       |canon AS (SELECT doc, min(lbl) AS canon_id FROM reach GROUP BY doc)""".stripMargin

  /** DuckDB oracle SQL per registered query.
    *
    * TYPE CONVENTION (r9 verdict #1): the driver hashes TYPED values, and
    * DuckDB widens `sum()` over integers to HUGEINT — which `//` and `%`
    * propagate — so ANY projected column derived from `sum()` MUST be
    * wrapped in `CAST(... AS BIGINT)` or it arrives as decimal128 where
    * Spark emits int64 and the hash diverges on equal values. `count(*)`,
    * `row_number()`, `len()` are already BIGINT and need no cast.
    * `tools/oracle_check.py` enforces this locally (type-family-strict
    * compare since r10). */
  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_doc_id, count(*) AS copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $jaccardCtes
         |SELECT a, b, inter, uni FROM jac ORDER BY a, b""".stripMargin,
    // LSH candidates (prs) scored against the exact truth set (jac):
    // the two shared chains compose over the one sh definition
    "dedup_lsh_recall" ->
      s"""WITH $minhashCtes,
         |$jaccardPairCtes,
         |${recallReportSql("jac", "prs")}""".stripMargin,
    "dedup_jaccard_prefix" ->
      s"""WITH $jaccardCtes
         |SELECT a, b, inter, uni FROM jac ORDER BY a, b""".stripMargin,
    "pipe_source_report" ->
      s"""WITH m AS (SELECT source, text, $gopherMetricsSql FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "text_vocab_growth" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t),
         |owned AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new_tokens FROM (
         |    SELECT tok, min(doc_id) AS doc_id FROM e GROUP BY tok)
         |  GROUP BY doc_id)
         |SELECT t.doc_id, CAST(coalesce(o.n_new_tokens, 0) AS BIGINT) AS n_new_tokens
         |FROM t LEFT JOIN owned o ON o.doc_id = t.doc_id
         |WHERE len(t.toks) > 0 ORDER BY t.doc_id""".stripMargin,
    "text_boilerplate_ngrams" ->
      s"""WITH sh AS ($shingleSql),
         |e AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
         |g AS (
         |  SELECT d.source, e.gram, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM e JOIN documents d ON d.doc_id = e.doc_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT source, gram, n_docs, row_number() OVER (
         |    PARTITION BY source ORDER BY n_docs DESC, gram) AS rank
         |  FROM g)
         |SELECT source, gram, n_docs, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "dedup_winnow" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |gh AS (
         |  SELECT doc_id, list_transform(
         |    ${gram5Sql},
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
         |  FROM t WHERE len(toks) >= 8),
         |fp AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(hs) - 3),
         |    i -> list_min(hs[i+1:i+4])))) AS fp
         |  FROM gh)
         |SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY a, b""".stripMargin,
    "dedup_kgram_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(${gram5Sql}) AS gram
         |  FROM t WHERE len(toks) >= 5),
         |dup AS (
         |  SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
         |  WHERE nd >= 2),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |        FROM g GROUP BY doc_id),
         |d AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_dup
         |      FROM g JOIN dup ON g.gram = dup.gram GROUP BY g.doc_id)
         |SELECT tot.doc_id, tot.n_grams,
         |  CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup
         |FROM tot LEFT JOIN d ON tot.doc_id = d.doc_id
         |ORDER BY tot.doc_id""".stripMargin,
    "pipe_dedup_incremental" ->
      s"""WITH toks0 AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |corp AS (
         |  SELECT doc_id, list_distinct(${gram5Sql}) AS shingles
         |  FROM toks0 WHERE len(toks) >= 5 AND doc_id < 400),
         |newdocs AS (
         |  SELECT doc_id, toks FROM toks0 WHERE doc_id >= 400
         |  UNION ALL
         |  SELECT doc_id + 100000, toks FROM toks0 WHERE doc_id < 100 AND doc_id % 7 = 3),
         |newsh AS (
         |  SELECT doc_id, list_distinct(${gram5Sql}) AS shingles
         |  FROM newdocs WHERE len(toks) >= 5),
         |jac AS (
         |  SELECT n.doc_id AS doc_id, c.doc_id AS cid
         |  FROM newsh n, corp c
         |  WHERE CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
         |    / (len(n.shingles) + len(c.shingles) - len(list_intersect(n.shingles, c.shingles))) >= 0.5),
         |m AS (SELECT doc_id, min(cid) AS dup_of FROM jac GROUP BY doc_id)
         |SELECT n.doc_id, m.dup_of, m.dup_of IS NULL AS keep
         |FROM newsh n LEFT JOIN m ON m.doc_id = n.doc_id
         |ORDER BY n.doc_id""".stripMargin,
    "pipe_dsir_select" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |feat AS (
         |  SELECT doc_id, tgt,
         |    CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 256 AS bucket
         |  FROM (
         |    SELECT doc_id, lang = 'en' AS tgt,
         |      unnest(list_concat(toks,
         |        list_transform(range(greatest(len(toks) - 1, 0)),
         |          i -> toks[i+1] || ' ' || toks[i+2]))) AS f
         |    FROM t)),
         |bc AS (
         |  SELECT bucket,
         |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t,
         |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS c_r
         |  FROM feat GROUP BY bucket),
         |lr AS (
         |  SELECT bucket, CAST(floor(ln(
         |      (CAST(c_t + 1 AS DOUBLE) * CAST(sum(c_r) OVER () + 256 AS DOUBLE)) /
         |      (CAST(c_r + 1 AS DOUBLE) * CAST(sum(c_t) OVER () + 256 AS DOUBLE)))
         |    * 1000000.0) AS BIGINT) AS lr
         |  FROM bc),
         |sc AS (
         |  SELECT doc_id, CAST(sum(lr) AS BIGINT) AS score
         |  FROM feat JOIN lr USING (bucket) GROUP BY doc_id),
         |sel AS (
         |  SELECT d.doc_id, coalesce(sc.score, 0) AS score,
         |    row_number() OVER (ORDER BY coalesce(sc.score, 0) DESC, d.doc_id ASC)
         |      AS sel_rank
         |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |  WHERE d.lang <> 'en')
         |SELECT doc_id, score, sel_rank FROM sel WHERE sel_rank <= 100
         |ORDER BY doc_id""".stripMargin,
    "pipe_lm_perplexity" ->
      s"""WITH $lmScoreCtesSql
         |SELECT d.doc_id,
         |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |  coalesce(sc.nll_q, 0) AS nll_q,
         |  coalesce(sc.nll_q, 0) <= coalesce(sc.n_bigrams, 0) * $PerBigramNllQ
         |    AS keep
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // A-ES weighted sampling: the exponential-race keys restated with
    // identical quantization and truncating division
    "pipe_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    CAST(floor(-ln(
        |      CAST(CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE)
        |      / 1.152921504606846976e18) * 1e6) AS BIGINT) AS eq
        |  FROM documents),
        |s AS (SELECT doc_id, n_chars, eq // n_chars AS key_q FROM k
        |      ORDER BY key_q ASC, doc_id ASC LIMIT 20)
        |SELECT row_number() OVER (ORDER BY key_q ASC, doc_id ASC) AS rank,
        |  doc_id, n_chars, CAST(key_q AS BIGINT) AS key_q
        |FROM s ORDER BY rank""".stripMargin,
    // PageRank: three unrolled integer power iterations; the damping
    // arithmetic (150000 + (85*inflow)//100) and truncating per-degree
    // division restate the Spark expressions exactly
    "pipe_pagerank" -> {
      def iter(i: Int) =
        s"""inf$i AS (
           |  SELECT e.dst AS id, CAST(sum(r.rank_q // e.deg) AS BIGINT) AS inflow
           |  FROM e JOIN r${i - 1} r ON r.id = e.src GROUP BY e.dst),
           |r$i AS (
           |  SELECT d.doc_id AS id,
           |    CAST(150000 + (85 * coalesce(inf.inflow, 0)) // 100 AS BIGINT) AS rank_q
           |  FROM documents d LEFT JOIN inf$i inf ON inf.id = d.doc_id)""".stripMargin
      s"""WITH ed AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT doc_id AS src,
         |      CAST(('0x' || substr(md5('e1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % (SELECT count(*) FROM documents) AS dst
         |    FROM documents
         |    UNION ALL
         |    SELECT doc_id AS src,
         |      CAST(('0x' || substr(md5('e2:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % (SELECT count(*) FROM documents) AS dst
         |    FROM documents)
         |  WHERE dst <> src),
         |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |e AS (SELECT ed.src, ed.dst, deg.deg FROM ed JOIN deg USING (src)),
         |r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS rank_q FROM documents),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id AS doc_id, rank_q FROM r3 ORDER BY doc_id""".stripMargin
    },
    // FIM: the PSM re-serialization restated with list slicing; all
    // three hash draws key on doc_id alone
    "pipe_fim_transform" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |x AS (
         |  SELECT doc_id, toks, len(toks) AS L,
         |    CAST(('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 2 = 0 AS fim,
         |    CAST(('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % (len(toks) + 1) AS c1,
         |    CAST(('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % (len(toks) + 1) AS c2
         |  FROM t),
         |y AS (SELECT doc_id, toks, fim, L,
         |        LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi FROM x)
         |SELECT doc_id, fim,
         |  -- array_to_string of an empty list is NULL in DuckDB where
         |  -- Spark's array_join is '' -- coalesce every slice
         |  CASE WHEN NOT fim THEN coalesce(array_to_string(toks, ' '), '')
         |  ELSE '<PRE> ' || coalesce(array_to_string(toks[1:lo], ' '), '') ||
         |       ' <SUF> ' || coalesce(array_to_string(toks[hi+1:L], ' '), '') ||
         |       ' <MID> ' || coalesce(array_to_string(toks[lo+1:hi], ' '), '') END AS out
         |FROM y ORDER BY doc_id""".stripMargin,
    // hard negatives: lexical top-10 by shared shingles, anti-joined
    // against the exact semantic top-10 per query
    "pipe_hard_negatives" ->
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
         |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))) AS s
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) >= 3),
         |qp AS (
         |  SELECT q.doc_id AS qid, c.doc_id AS cand, count(*) AS shared
         |  FROM ex q JOIN ex c ON q.s = c.s AND c.doc_id <> q.doc_id
         |  WHERE q.doc_id < 20
         |  GROUP BY qid, cand),
         |lex AS (
         |  SELECT qid, cand, shared, lex_rank FROM (
         |    SELECT qid, cand, shared,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY shared DESC, cand ASC) AS lex_rank
         |    FROM qp)
         |  WHERE lex_rank <= 10),
         |sem AS (
         |  SELECT qid, cand FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS cand,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
         |                 e.vec_id ASC) AS rank
         |    FROM embeddings q CROSS JOIN embeddings e
         |    WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id)
         |  WHERE rank <= 10)
         |SELECT l.qid, l.cand AS neg_id, CAST(l.shared AS BIGINT) AS shared,
         |  l.lex_rank
         |FROM lex l LEFT JOIN sem s ON s.qid = l.qid AND s.cand = l.cand
         |WHERE s.cand IS NULL
         |ORDER BY l.qid, l.lex_rank""".stripMargin,
    // bounded miner: the dedup tier's exact 5-gram-Jaccard pairs (shared
    // jaccardCtes — prefix filtering only prunes candidates, the
    // dedup_jaccard_prefix convention) scored by 3-gram intersect on
    // those pairs only, the shared trained-IVF chain for the semantic arm
    "pipe_hard_negatives_bounded" ->
      s"""WITH $jaccardCtes,
         |sh3 AS ($shingle3Sql),
         |scored AS (
         |  SELECT j.a, j.b,
         |    CAST(len(list_intersect(ga.shingles, gb.shingles)) AS BIGINT) AS shared
         |  FROM jac j
         |  JOIN sh3 ga ON ga.doc_id = j.a
         |  JOIN sh3 gb ON gb.doc_id = j.b),
         |ori AS (SELECT a AS qid, b AS cand, shared FROM scored
         |        UNION ALL SELECT b AS qid, a AS cand, shared FROM scored),
         |lex AS (
         |  SELECT qid, cand, shared, lex_rank FROM (
         |    SELECT qid, cand, shared,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY shared DESC, cand ASC) AS lex_rank
         |    FROM ori)
         |  WHERE lex_rank <= 10),
         |${ivfTrainedCtes("TRUE")}
         |SELECT l.qid, l.cand AS neg_id, l.shared, l.lex_rank
         |FROM lex l LEFT JOIN knn s
         |  ON s.qid = l.qid AND s.neighbor = l.cand AND s.rank <= 10
         |WHERE s.neighbor IS NULL
         |ORDER BY l.qid, l.lex_rank""".stripMargin,
    // span corruption: sentinel numbering restated via the same
    // masked-block window; assembly by ordered string_agg with FILTER
    "pipe_span_corrupt" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (
         |  SELECT doc_id, pos, toks[pos + 1] AS tok, pos // 3 AS blk
         |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS pos FROM t)),
         |em AS (
         |  SELECT e.*,
         |    CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' ||
         |      CAST(blk AS VARCHAR)), 1, 15)) AS BIGINT) % 7 = 0 AS masked
         |  FROM e),
         |mb AS (
         |  SELECT doc_id, blk,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY blk) AS sent
         |  FROM (SELECT DISTINCT doc_id, blk FROM em WHERE masked)),
         |j AS (
         |  SELECT em.doc_id, em.pos, em.tok, mb.sent
         |  FROM em LEFT JOIN mb ON mb.doc_id = em.doc_id AND mb.blk = em.blk),
         |agg AS (
         |  SELECT doc_id,
         |    string_agg(CASE WHEN sent IS NULL THEN tok
         |        ELSE '<X_' || sent || '>' END, ' ' ORDER BY pos)
         |      FILTER (WHERE sent IS NULL OR pos % 3 = 0) AS input,
         |    string_agg(CASE WHEN pos % 3 = 0
         |        THEN '<X_' || sent || '> ' || tok ELSE tok END, ' ' ORDER BY pos)
         |      FILTER (WHERE sent IS NOT NULL) AS target,
         |    CAST(count(*) FILTER (WHERE sent IS NOT NULL) AS BIGINT) AS n_masked
         |  FROM j GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(agg.input, '') AS input,
         |  coalesce(agg.target, '') AS target,
         |  coalesce(agg.n_masked, 0) AS n_masked
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Moore-Lewis: the in-domain chain is lmScoreCtesSql verbatim; the
    // general-model chain reuses its t/bg/dg tables with all-rows counts
    "pipe_moore_lewis" ->
      s"""WITH $mooreLewisCtesSql
         |SELECT d.doc_id,
         |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |  coalesce(sc.nll_q, 0) AS nll_in_q,
         |  coalesce(sca.nll_q, 0) AS nll_out_q,
         |  $mlQSql AS ml_q,
         |  $mlQSql <= 0 AS keep
         |FROM documents d
         |LEFT JOIN sc ON sc.doc_id = d.doc_id
         |LEFT JOIN sca ON sca.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // v5: Moore-Lewis affinity AND the two-pass quota, then the shared
    // dedup + mixture tail -- both selection tiers replayed in full
    "pipe_curate_v5" ->
      s"""WITH $mooreLewisCtesSql,
         |mlk AS (
         |  SELECT d.doc_id FROM documents d
         |  LEFT JOIN sc ON sc.doc_id = d.doc_id
         |  LEFT JOIN sca ON sca.doc_id = d.doc_id
         |  WHERE $mlQSql <= 0),
         |qb AS (
         |  SELECT doc_id, source,
         |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |qc AS (SELECT source, count(*) AS n FROM qb GROUP BY source),
         |qs AS (
         |  SELECT qb.doc_id, qb.source, qb.h
         |  FROM qb JOIN qc USING (source)
         |  WHERE qb.h < CAST(LEAST(CAST(1152921504606846976 AS HUGEINT),
         |    CAST(1152921504606846976 // qc.n AS HUGEINT) * 30) AS BIGINT)),
         |qk AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
         |    FROM qs)
         |  WHERE rk <= 15),
         |keepers AS (
         |  SELECT d.doc_id, d.source, d.text FROM documents d
         |  JOIN mlk ON mlk.doc_id = d.doc_id
         |  JOIN qk ON qk.doc_id = d.doc_id),
         |$curateTailSql""".stripMargin,
    // min-k% prob: per-type NLLs from the shared LM chain, a per-doc
    // window ordered by (nll desc, g) with the partial boundary take
    "pipe_min_k_prob" ->
      s"""WITH $lmScoreCtesSql,
         |st AS (
         |  SELECT dg.doc_id, dg.g, dg.cnt,
         |    CAST(floor(-ln(
         |      CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
         |      CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) * 1000000.0) AS BIGINT) AS nllq
         |  FROM dg LEFT JOIN c2 USING (g) LEFT JOIN c1 USING (w1) CROSS JOIN v),
         |wn AS (
         |  SELECT doc_id, g, cnt, nllq,
         |    sum(cnt) OVER (PARTITION BY doc_id) AS n,
         |    sum(cnt) OVER (PARTITION BY doc_id ORDER BY nllq DESC, g ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM st),
         |tk AS (
         |  SELECT doc_id, n, (n * 20 + 99) // 100 AS topn,
         |    greatest(0, least(cnt, (n * 20 + 99) // 100 - (run - cnt))) AS take,
         |    nllq
         |  FROM wn),
         |agg AS (
         |  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_bigrams,
         |    CAST(sum(take * nllq) // max(topn) AS BIGINT) AS mink_q
         |  FROM tk WHERE take > 0 GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(agg.n_bigrams, 0) AS n_bigrams,
         |  coalesce(agg.mink_q, 0) AS mink_q
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // interpolated Kneser-Ney: the probability expression is restated
    // with the IDENTICAL shape and casts as the Spark-side expr string —
    // one double expression over exact integer counts, quantized once
    "pipe_lm_kneser_ney" ->
      s"""WITH t AS (SELECT doc_id, lang = 'en' AS tr, $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, tr, g,
         |    split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2 FROM (
         |    SELECT doc_id, tr,
         |      unnest(list_transform(range(greatest(len(toks) - 1, 0)),
         |        i -> toks[i+1] || ' ' || toks[i+2])) AS g
         |    FROM t)),
         |c2 AS (SELECT g, count(*) AS c2 FROM bg WHERE tr GROUP BY g),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE tr GROUP BY w1),
         |typ AS (SELECT DISTINCT w1, w2 FROM bg WHERE tr),
         |n1f AS (SELECT w1, count(*) AS n1f FROM typ GROUP BY w1),
         |n1b AS (SELECT w2, count(*) AS n1b FROM typ GROUP BY w2),
         |nbbt AS (SELECT count(*) AS nbb FROM typ),
         |v AS (SELECT count(DISTINCT u) AS v
         |  FROM (SELECT unnest(toks) AS u FROM t WHERE tr)),
         |dg AS (SELECT doc_id, g, w1, w2, count(*) AS cnt FROM bg
         |  GROUP BY doc_id, g, w1, w2),
         |sc AS (
         |  SELECT dg.doc_id,
         |    CAST(sum(dg.cnt) AS BIGINT) AS n_bigrams,
         |    CAST(sum(dg.cnt * CAST(floor(-ln(
         |      CASE WHEN c1.c1 IS NOT NULL THEN
         |        greatest(CAST(coalesce(c2.c2, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1.c1 AS DOUBLE)
         |          + (0.75 * CAST(n1f.n1f AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) *
         |            (CAST(coalesce(n1b.n1b, 0) + 1 AS DOUBLE) / CAST(nbbt.nbb + v.v AS DOUBLE))
         |      ELSE CAST(coalesce(n1b.n1b, 0) + 1 AS DOUBLE) / CAST(nbbt.nbb + v.v AS DOUBLE) END
         |    ) * 1e6) AS BIGINT)) AS BIGINT) AS nll_q
         |  FROM dg LEFT JOIN c2 USING (g) LEFT JOIN c1 USING (w1)
         |    LEFT JOIN n1f USING (w1) LEFT JOIN n1b USING (w2)
         |    CROSS JOIN nbbt CROSS JOIN v
         |  GROUP BY dg.doc_id)
         |SELECT d.doc_id,
         |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |  coalesce(sc.nll_q, 0) AS nll_q,
         |  coalesce(sc.nll_q, 0) <= coalesce(sc.n_bigrams, 0) * $PerBigramNllQ
         |    AS keep
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // the unrolled 3-round k-means chain: rounds 2-3 assign against
    // computed (fixed-point, float-rounded) centroids, gating the full
    // assign->update->reassign loop, not just one step
    "pipe_kmeans_train" ->
      s"""WITH kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |${kmeansIterSql(1)},
         |${kmeansIterSql(2)},
         |${kmeansIterSql(3)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS iter, cell, d, cq FROM cq1
         |  UNION ALL SELECT 2, cell, d, cq FROM cq2
         |  UNION ALL SELECT 3, cell, d, cq FROM cq3)
         |ORDER BY iter, cell, d""".stripMargin,
    // the trained-quantizer serving path: the same unrolled training
    // chain, then assignment/probing/ranking against kc3 — knn_ivf's
    // query shape with computed centroids
    "knn_ivf_trained" ->
      s"""WITH ${ivfTrainedCtes("e.vec_id < 20")}
         |SELECT qid, rank, neighbor FROM knn WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "pipe_cluster_balance" ->
      s"""WITH kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |${kmeansIterSql(1)},
         |${kmeansIterSql(2)},
         |${kmeansIterSql(3)},
         |asgT AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c)
         |  WHERE crn = 1),
         |rk AS (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) AS rk
         |  FROM (
         |    SELECT vec_id, cell,
         |      CAST(('0x' || substr(md5('cbal:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |    FROM asgT))
         |SELECT vec_id AS vid, cell, rk FROM rk WHERE rk <= 24
         |ORDER BY cell, rk""".stripMargin,
    // native percentile_disc on the oracle side vs the exact histogram
    // restatement on the Spark side — the tercile boundary definition is
    // what's being gated
    "pipe_lm_terciles" ->
      s"""WITH $lmScoreCtesSql,
         |d2 AS (
         |  SELECT d.doc_id, d.lang,
         |    coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |    coalesce(sc.nll_q, 0) AS nll_q,
         |    CASE WHEN coalesce(sc.n_bigrams, 0) > 0
         |         THEN coalesce(sc.nll_q, 0) // sc.n_bigrams ELSE 0 END AS ppl_q
         |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
         |b AS (
         |  SELECT lang,
         |    percentile_disc(1.0/3) WITHIN GROUP (ORDER BY ppl_q) AS t1,
         |    percentile_disc(2.0/3) WITHIN GROUP (ORDER BY ppl_q) AS t2
         |  FROM d2 GROUP BY lang)
         |SELECT doc_id, lang, n_bigrams, nll_q, ppl_q,
         |  CASE WHEN ppl_q <= t1 THEN 'head'
         |       WHEN ppl_q <= t2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM d2 JOIN b USING (lang) ORDER BY doc_id""".stripMargin,
    "pipe_bpe_step" ->
      s"""WITH $bpeCtesSql
         |SELECT row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank,
         |  pair, cnt
         |FROM pc ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin,
    // the merge table re-derives via the SAME pc fragment the trainer
    // oracle uses; the greedy merge loop replays as a recursive CTE —
    // one iteration per applied merge, the within-pass "merge the 1st,
    // 3rd, ... of overlapping occurrences" rule restated as island
    // parity over the candidate positions (cs ascending, diff cs[k]-k
    // constant within an island of consecutive candidates; a candidate
    // merges iff its offset from the island head is even)
    "pipe_bpe_apply" ->
      s"""WITH RECURSIVE $bpeCtesSql,
         |ms AS (
         |  SELECT list(pair ORDER BY rnk) AS ms FROM (
         |    SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rnk
         |    FROM pc) WHERE rnk <= 50),
         |enc AS (
         |  SELECT w, freq,
         |    list_transform(range(length(w)), i -> substr(w, i + 1, 1)) AS syms,
         |    length(w) < 2 AS done
         |  FROM wf
         |  UNION ALL
         |  SELECT w, freq,
         |    CASE WHEN minr IS NULL THEN syms ELSE
         |      list_transform(
         |        list_filter(range(len(syms)), i -> NOT list_contains(acts, i - 1)),
         |        i -> CASE WHEN list_contains(acts, i)
         |             THEN syms[i + 1] || syms[i + 2] ELSE syms[i + 1] END)
         |    END AS syms,
         |    minr IS NULL AS done
         |  FROM (
         |    SELECT w, freq, syms, minr,
         |      CASE WHEN minr IS NULL THEN CAST([] AS BIGINT[]) ELSE
         |        list_transform(
         |          list_filter(range(len(cs)),
         |            k -> (k - (list_position(diffs, diffs[k + 1]) - 1)) % 2 = 0),
         |          k -> cs[k + 1]) END AS acts
         |    FROM (
         |      SELECT w, freq, syms, minr, cs,
         |        list_transform(range(len(cs)), k -> cs[k + 1] - k) AS diffs
         |      FROM (
         |        SELECT w, freq, syms, minr,
         |          CASE WHEN minr IS NULL THEN CAST([] AS BIGINT[])
         |          ELSE list_filter(range(len(prs)), i -> prs[i + 1] = ms[minr])
         |          END AS cs
         |        FROM (
         |          SELECT w, freq, syms, prs, ms,
         |            list_min(list_filter(
         |              list_transform(prs, p -> list_position(ms, p)),
         |              r -> r IS NOT NULL AND r > 0)) AS minr
         |          FROM (
         |            SELECT e.w, e.freq, e.syms, m.ms,
         |              list_transform(range(len(e.syms) - 1),
         |                i -> e.syms[i + 1] || ' ' || e.syms[i + 2]) AS prs
         |            FROM enc e, ms m WHERE NOT e.done))))))
         |SELECT w AS word, CAST(freq AS BIGINT) AS freq,
         |  array_to_string(syms, ' ') AS enc,
         |  CAST(len(syms) AS BIGINT) AS n_pieces
         |FROM enc WHERE done ORDER BY word""".stripMargin,
    // the unrolled 3-round training chain: each m_i is the argmax over
    // pair counts of the PREVIOUS round's segmentation, so rounds 2-3
    // gate the count→merge→recount loop, not just the initial table
    "pipe_bpe_train" ->
      s"""WITH $bpeTrainCtesSql
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS iter, pair, cnt FROM m1
         |  UNION ALL SELECT 2, pair, cnt FROM m2
         |  UNION ALL SELECT 3, pair, cnt FROM m3)
         |ORDER BY iter""".stripMargin,
    // the segmentation the training replay leaves behind IS the oracle
    // for encode-under-the-trained-table (sequential application ≡
    // rank-greedy encode)
    "pipe_bpe_train_apply" ->
      s"""WITH $bpeTrainCtesSql
         |SELECT w AS word, CAST(freq AS BIGINT) AS freq,
         |  array_to_string(syms, ' ') AS enc,
         |  CAST(len(syms) AS BIGINT) AS n_pieces
         |FROM enc3 ORDER BY word""".stripMargin,
    "pipe_wordpiece_train" ->
      s"""WITH $wpTrainCtesSql
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS iter, pair, cnt, ca, cb, score_q FROM wm1
         |  UNION ALL SELECT 2, pair, cnt, ca, cb, score_q FROM wm2
         |  UNION ALL SELECT 3, pair, cnt, ca, cb, score_q FROM wm3
         |  UNION ALL SELECT 4, pair, cnt, ca, cb, score_q FROM wm4)
         |ORDER BY iter""".stripMargin,
    // WordPiece inference is longest-match-first, NOT merge replay — the
    // oracle derives per-position best-match lengths against the final
    // vocabulary, then a recursive walk follows the longest piece at
    // each step; a position with no match fails the whole word to [UNK]
    "pipe_wordpiece_train_apply" ->
      s"""WITH RECURSIVE $wpTrainCtesSql,
         |vocab AS (
         |  SELECT DISTINCT s AS sym FROM (SELECT unnest(syms) AS s FROM wenc0)
         |  UNION
         |  SELECT split_part(pair, ' ', 1) ||
         |    (CASE WHEN split_part(pair, ' ', 2) LIKE '##%'
         |     THEN substr(split_part(pair, ' ', 2), 3)
         |     ELSE split_part(pair, ' ', 2) END) AS sym
         |  FROM (SELECT pair FROM wm1 UNION ALL SELECT pair FROM wm2
         |        UNION ALL SELECT pair FROM wm3 UNION ALL SELECT pair FROM wm4)),
         |bf AS (
         |  SELECT w, max(length(sym)) AS cons
         |  FROM wf JOIN vocab ON sym NOT LIKE '##%'
         |    AND substr(w, 1, length(sym)) = sym
         |  GROUP BY w),
         |bc AS (
         |  SELECT pos.w, pos.p, max(length(sym) - 2) AS cons
         |  FROM (SELECT w, unnest(range(2, length(w) + 1)) AS p FROM wf) pos
         |  JOIN vocab ON sym LIKE '##%' AND length(sym) > 2
         |    AND substr(pos.w, CAST(pos.p AS INTEGER), length(sym) - 2) = substr(sym, 3)
         |  GROUP BY pos.w, pos.p),
         |walk AS (
         |  SELECT w, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS np,
         |    '' AS ps, FALSE AS failed
         |  FROM wf
         |  UNION ALL
         |  SELECT w,
         |    CASE WHEN cons = 0 THEN length(w) + 1 ELSE p + cons END AS p,
         |    np + CASE WHEN cons = 0 THEN 0 ELSE 1 END AS np,
         |    CASE WHEN cons = 0 THEN ps
         |         WHEN ps = '' THEN piece
         |         ELSE ps || ' ' || piece END AS ps,
         |    failed OR cons = 0 AS failed
         |  FROM (
         |    SELECT wk.w, wk.p, wk.np, wk.ps, wk.failed,
         |      coalesce(CASE WHEN wk.p = 1 THEN f.cons ELSE c.cons END, 0) AS cons,
         |      CASE WHEN wk.p = 1 THEN substr(wk.w, 1, f.cons)
         |           ELSE '##' || substr(wk.w, CAST(wk.p AS INTEGER), c.cons) END AS piece
         |    FROM walk wk
         |    LEFT JOIN bf f ON wk.p = 1 AND f.w = wk.w
         |    LEFT JOIN bc c ON wk.p > 1 AND c.w = wk.w AND c.p = wk.p
         |    WHERE wk.p <= length(wk.w) AND NOT wk.failed)),
         |fin AS (SELECT w, np, ps, failed FROM walk WHERE p = length(w) + 1)
         |SELECT wf.w AS word, CAST(wf.freq AS BIGINT) AS freq,
         |  CASE WHEN f.failed THEN '[UNK]' ELSE f.ps END AS enc,
         |  CAST(CASE WHEN f.failed THEN 1 ELSE f.np END AS BIGINT) AS n_pieces
         |FROM wf JOIN fin f ON f.w = wf.w
         |ORDER BY word""".stripMargin,
    // the byte-level lifecycle: synthesized multi-byte corpus → regex
    // pre-tokens → arithmetic byte remap → the SAME unrolled 3-round
    // chain; enc3's sequential segmentation gates the rank-greedy encode
    "pipe_bpe_bytes" ->
      s"""WITH ${bpeTrainCtesOver(
             s"""SELECT $byteToksSql AS toks
                |  FROM (SELECT text || ' café №' || CAST(doc_id % 5 AS VARCHAR) AS text
                |        FROM documents)""".stripMargin)}
         |SELECT w AS word, CAST(freq AS BIGINT) AS freq,
         |  array_to_string(syms, ' ') AS enc,
         |  CAST(len(syms) AS BIGINT) AS n_pieces
         |FROM enc3 ORDER BY word""".stripMargin,
    // canonical URL derived ARITHMETICALLY from the group number — an
    // independent restatement of what the Spark-side regex chain must
    // collapse the four synthesized surface forms into
    "dedup_url" ->
      """SELECT 'https://site' || CAST((doc_id // 4) % 7 AS VARCHAR)
        |    || '.example.com/p/' || CAST(doc_id // 4 AS VARCHAR) AS canon_url,
        |  CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
        |  CAST(count(*) AS BIGINT) AS copies
        |FROM documents GROUP BY 1 ORDER BY canon_url""".stripMargin,
    "pipe_temperature_sample" ->
      s"""WITH rows_ AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM rows_ GROUP BY source),
         |r1 AS (
         |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
         |  FROM per),
         |r2 AS (
         |  SELECT *, CAST((w * (sum(n_tokens) OVER () // 2))
         |      // sum(w) OVER () AS BIGINT) AS target_tokens
         |  FROM r1),
         |r3 AS (
         |  SELECT *, CAST(least(1000000, (CAST(target_tokens AS HUGEINT)
         |      * 1000000) // n_tokens) AS BIGINT) AS rate_ppm
         |  FROM r2),
         |kept AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS kept_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS kept_tokens
         |  FROM rows_ JOIN r3 USING (source)
         |  WHERE CAST(('0x' || substr(md5('tsamp:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) % 1000000 < rate_ppm
         |  GROUP BY source)
         |SELECT source, n_docs, n_tokens, w, target_tokens, rate_ppm,
         |  coalesce(kept_docs, 0) AS kept_docs,
         |  coalesce(kept_tokens, 0) AS kept_tokens
         |FROM r3 LEFT JOIN kept USING (source) ORDER BY source""".stripMargin,
    "pipe_quality_logreg" ->
      s"""WITH m AS (SELECT doc_id, $gopherMetricsSql FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(floor(alpha_word_frac * 1000) AS BIGINT) AS f_alpha,
         |    least(stop_hits, 20) AS f_stop,
         |    CAST(floor(mean_word_len * 100) AS BIGINT) AS f_len
         |  FROM m)
         |SELECT doc_id,
         |  f_alpha * 3 + f_stop * 150 - abs(f_len - 550) * 2 - 2500 AS score_q,
         |  f_alpha * 3 + f_stop * 150 - abs(f_len - 550) * 2 - 2500 >= 0 AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "text_gopher_filter" ->
      s"""WITH m AS (
         |  SELECT doc_id, $gopherMetricsSql
         |  FROM documents)
         |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stop_hits,
         |  ($gopherKeepSql) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "pipe_dedup_corpus" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |${ccCtes("jac")}
         |SELECT d.doc_id, coalesce(c.canon_id, d.doc_id) AS canon_id,
         |  coalesce(c.canon_id, d.doc_id) = d.doc_id AS keep
         |FROM documents d LEFT JOIN canon c ON c.doc = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashCtes
         |SELECT a, b FROM prs ORDER BY a, b""".stripMargin,
    "dedup_cluster_canon" ->
      s"""WITH RECURSIVE $minhashCtes,
         |${ccCtes("prs")}
         |SELECT doc AS doc_id, canon_id FROM canon ORDER BY doc_id""".stripMargin,
    // the same components chain, then side = f(cluster md5 bucket) —
    // structurally leak-free: one side per cluster by construction
    "pipe_split_leakage_safe" ->
      s"""WITH RECURSIVE $minhashCtes,
         |${ccCtes("prs")},
         |grp AS (
         |  SELECT d.doc_id, coalesce(c.canon_id, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN canon c ON c.doc = d.doc_id),
         |bkt AS (
         |  SELECT doc_id, group_id,
         |    CAST(('0x' || substr(md5('split:' || CAST(group_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM grp)
         |SELECT doc_id, group_id, bucket,
         |  CASE WHEN bucket < 20 THEN 'test' ELSE 'train' END AS side
         |FROM bkt ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t2 AS (
         |  SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) >= 2),
         |uni AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks, CAST(max(c) AS BIGINT) AS top_uni
         |  FROM (SELECT doc_id, tok, count(*) AS c
         |        FROM (SELECT doc_id, unnest(toks) AS tok FROM t2)
         |        GROUP BY doc_id, tok)
         |  GROUP BY doc_id),
         |bi AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi, CAST(max(c) AS BIGINT) AS top_bi,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bi
         |  FROM (SELECT doc_id, bigram, count(*) AS c
         |        FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
         |                i -> toks[i+1] || ' ' || toks[i+2])) AS bigram FROM t2)
         |        GROUP BY doc_id, bigram)
         |  GROUP BY doc_id)
         |SELECT uni.doc_id AS doc_id, n_toks,
         |  CAST(top_uni AS DOUBLE) / n_toks AS top_unigram_frac,
         |  CAST(top_bi AS DOUBLE) / n_bi AS top_bigram_frac,
         |  CAST(dup_bi AS DOUBLE) / n_bi AS dup_bigram_frac
         |FROM uni JOIN bi ON uni.doc_id = bi.doc_id
         |ORDER BY doc_id""".stripMargin,
    "pipe_decontaminate" ->
      s"""WITH sh AS ($shingleSql),
         |c AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id >= 10),
         |b AS (SELECT doc_id AS bench_id, unnest(shingles) AS s FROM sh WHERE doc_id < 10)
         |SELECT c.doc_id AS doc_id, b.bench_id, count(*) AS n_shared
         |FROM c JOIN b ON c.s = b.s
         |GROUP BY 1, 2
         |HAVING count(*) >= 1
         |ORDER BY doc_id, bench_id""".stripMargin,
    "pipe_contamination_report" ->
      s"""WITH sh AS ($shingleSql),
         |b AS (SELECT doc_id AS bench_id, unnest(shingles) AS s FROM sh WHERE doc_id < 10),
         |cg AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id >= 10),
         |hits AS (SELECT bench_id, count(*) AS n_hit FROM b JOIN cg USING (s) GROUP BY 1),
         |ng AS (SELECT doc_id AS bench_id, CAST(len(shingles) AS BIGINT) AS n_grams
         |       FROM sh WHERE doc_id < 10)
         |SELECT ng.bench_id, ng.n_grams,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(h.n_hit, 0) * 1000000 // ng.n_grams AS BIGINT) AS hit_ppm
         |FROM ng LEFT JOIN hits h ON h.bench_id = ng.bench_id
         |ORDER BY ng.bench_id""".stripMargin,
    "pipe_kmeans_step" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT cid AS cell, embedding FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
        |    FROM embeddings e CROSS JOIN cents c)
        |  WHERE crn = 1)
        |SELECT cell, d, CAST(sum(q) AS BIGINT) AS sum_q, count(*) AS n
        |FROM (SELECT cell, i AS d,
        |        CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |      FROM asg CROSS JOIN (SELECT unnest(range(64)) AS i))
        |GROUP BY cell, d ORDER BY cell, d""".stripMargin,
    "pipe_sample_stratified" ->
      """SELECT doc_id, lang, bucket FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |ORDER BY doc_id""".stripMargin,
    "pipe_bloom_decontaminate" ->
      s"""WITH sh AS ($shingleSql),
         |$bloomCtes,
         |perdoc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         |    CAST(sum(all_hit) AS BIGINT) AS n_hits
         |  FROM bhits GROUP BY doc_id)
         |SELECT doc_id, coalesce(n_sh, 0) AS n_sh,
         |  coalesce(n_hits, 0) AS n_hits,
         |  coalesce(n_hits, 0) < 1 AS keep
         |FROM (SELECT doc_id FROM sh WHERE doc_id >= 10)
         |LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "pipe_semantic_decontaminate" ->
      """WITH bench AS (
        |  SELECT vec_id AS bench_id, embedding AS bv FROM embeddings WHERE vec_id < 10),
        |corp AS (
        |  SELECT vec_id AS vid, embedding AS v FROM embeddings WHERE vec_id >= 10),
        |hits AS (
        |  SELECT c.vid, count(*) AS n_hits, min(b.bench_id) AS first_bench
        |  FROM corp c CROSS JOIN bench b
        |  WHERE list_cosine_similarity(c.v, b.bv) >= 0.35
        |  GROUP BY c.vid)
        |SELECT c.vid, coalesce(h.n_hits, 0) AS n_hits,
        |  CAST(coalesce(h.first_bench, -1) AS BIGINT) AS first_bench,
        |  coalesce(h.n_hits, 0) = 0 AS keep
        |FROM corp c LEFT JOIN hits h USING (vid)
        |ORDER BY vid""".stripMargin,
    "pipe_curate_v3" ->
      s"""WITH sh AS ($shingleSql),
         |$bloomCtes,
         |bloomdrop AS (
         |  SELECT doc_id FROM bhits GROUP BY doc_id HAVING sum(all_hit) >= 1),
         |quota AS (SELECT doc_id FROM (
         |    SELECT doc_id,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
         |                 doc_id) AS rk
         |    FROM documents)
         |  WHERE rk <= 15),
         |keepers AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT d.doc_id, d.source, d.text, $gopherMetricsSql
         |    FROM documents d
         |    JOIN quota USING (doc_id)
         |    ANTI JOIN bloomdrop USING (doc_id)
         |    WHERE d.doc_id >= 10)
         |  WHERE $gopherKeepSql),
         |$curateTailSql""".stripMargin,
    "text_span_scrub" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g0 AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks) - 4),
         |    i -> {'gpos': i,
         |          'gram': concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4], toks[i+5])})) AS ge
         |  FROM t WHERE len(toks) >= 5),
         |g AS (SELECT doc_id, ge.gpos AS gpos, ge.gram AS gram FROM g0),
         |dup AS (
         |  SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
         |  WHERE nd >= 2),
         |cov AS (
         |  SELECT DISTINCT g.doc_id, g.gpos + j AS tpos
         |  FROM g JOIN dup USING (gram) CROSS JOIN range(0, 5) r(j)),
         |tp0 AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks)),
         |    i -> {'tpos': i, 'tok': toks[i+1]})) AS te
         |  FROM t),
         |tp AS (SELECT doc_id, te.tpos AS tpos, te.tok AS tok FROM tp0),
         |kept AS (
         |  SELECT tp.doc_id, tp.tpos, tp.tok FROM tp
         |  ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.tpos = cov.tpos),
         |res AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY tpos) AS scrubbed
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
         |  coalesce(res.n_kept, 0) AS n_kept,
         |  coalesce(res.scrubbed, '') AS scrubbed
         |FROM t LEFT JOIN res ON t.doc_id = res.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "pipe_lm_trigram" ->
      s"""WITH $lmTrigramSql
         |SELECT t.doc_id AS did,
         |  CAST(coalesce(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(sc.nll_q, 0) AS BIGINT) AS nll_q,
         |  coalesce(sc.nll_q, 0) <= coalesce(sc.n_trigrams, 0) * $PerTrigramNllQ AS keep
         |FROM t LEFT JOIN sc ON sc.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "pipe_unigram_seg" ->
      s"""WITH RECURSIVE $unigramCtes
         |SELECT b.w, b.seg, b.n_pieces, b.cost_q, wo.freq
         |FROM best b JOIN words wo USING (w) ORDER BY w""".stripMargin,
    "pipe_unigram_train" ->
      s"""WITH RECURSIVE $unigramCtes,
         |vocab1 AS (SELECT piece, cnt, cost_q FROM vocab),
         |best1 AS (SELECT w, seg FROM best),
         |${unigramUpdateSql(1)},
         |${unigramSegSql(2)},
         |${unigramUpdateSql(2)}
         |SELECT CAST(1 AS BIGINT) AS iter, piece, cnt, cost_q FROM vocab2
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS iter, piece, cnt, cost_q FROM vocab3
         |ORDER BY iter, piece""".stripMargin,
    "pipe_unigram_counts" ->
      s"""WITH RECURSIVE $unigramCtes
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS vit_cnt FROM (
         |  SELECT unnest(string_split(b.seg, '|')) AS piece, wo.freq
         |  FROM best b JOIN words wo USING (w))
         |GROUP BY piece ORDER BY piece""".stripMargin,
    "pipe_quality_train" ->
      s"""WITH $logRegTrainCtes
         |SELECT CAST(1 AS BIGINT) AS iter, w0 AS w_x0, w1 AS w_x1, w2 AS w_x2 FROM wt1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS iter, w0, w1, w2 FROM wt2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT) AS iter, w0, w1, w2 FROM wt3
         |ORDER BY iter""".stripMargin,
    "pipe_quality_train_apply" ->
      s"""WITH $logRegTrainCtes
         |SELECT doc_id, pq AS p_q, pq >= 500000 AS keep, y = 1 AS gopher_keep FROM (
         |  SELECT f.doc_id, f.y,
         |    CAST(floor(1000000.0 / (1.0 + exp(-(CAST(w0*x0 + w1*x1 + w2*x2 AS DOUBLE) / 1000000.0)))) AS BIGINT) AS pq
         |  FROM feats f CROSS JOIN wt3)
         |ORDER BY doc_id""".stripMargin,
    "mm_align_filter" ->
      """SELECT vec_id,
        |  coalesce(CASE WHEN isnan(c) THEN false ELSE c >= 0.1 END, false) AS keep
        |FROM (
        |  SELECT vec_id,
        |    list_cosine_similarity(embedding[1:32], embedding[33:64]) AS c
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin,
    "pipe_curate_v4" ->
      s"""WITH $logRegTrainCtes,
         |keepers AS (
         |  SELECT d.doc_id, d.source, d.text FROM documents d JOIN (
         |    SELECT f.doc_id FROM feats f CROSS JOIN wt3
         |    WHERE CAST(floor(1000000.0 / (1.0 + exp(-(CAST(w0*x0 + w1*x1 + w2*x2 AS DOUBLE) / 1000000.0)))) AS BIGINT) >= 500000
         |  ) k ON k.doc_id = d.doc_id),
         |$curateTailSql""".stripMargin,
    "pipe_shard_write" ->
      """WITH k AS (
        |  SELECT doc_id, length(text) AS sz,
        |    CAST(('0x' || substr(md5('epoch1:' || doc_id), 1, 15)) AS BIGINT) AS key
        |  FROM documents)
        |SELECT key % 8 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS last_pos,
        |  CAST(sum(sz) AS BIGINT) AS n_chars
        |FROM k GROUP BY 1 ORDER BY shard""".stripMargin,
    "pipe_domain_quota" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |               doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15 ORDER BY doc_id""".stripMargin,
    // two-pass: thresholds in HUGEINT (the Spark side widens to
    // DECIMAL(38,0) -- (2^60 DIV 1)*30 overflows BIGINT), then the
    // exact-rank window runs over threshold survivors only
    "pipe_domain_quota_2pass" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n FROM b GROUP BY source),
        |s AS (
        |  SELECT b.doc_id, b.source, b.h
        |  FROM b JOIN c USING (source)
        |  WHERE b.h < CAST(LEAST(CAST(1152921504606846976 AS HUGEINT),
        |    CAST(1152921504606846976 // c.n AS HUGEINT) * 30) AS BIGINT)),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        |  FROM s)
        |SELECT doc_id, source, rk FROM r
        |WHERE rk <= 15 ORDER BY doc_id""".stripMargin,
    "text_tfidf_top" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
         |  GROUP BY doc_id, term),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(tf.tf AS BIGINT) *
         |      CAST(floor(ln((n_docs + 1.0) / (df + 1.0)) * 1000000.0) AS BIGINT) AS tfidf_q
         |  FROM tf JOIN dft USING (term) CROSS JOIN n)
         |SELECT doc_id, rank, term, tfidf_q FROM (
         |  SELECT doc_id, term, tfidf_q,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf_q DESC, term ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "pipe_hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, len(toks) AS dl,
         |        len(list_filter(toks, x -> x = 'spark')) AS tf0,
         |        len(list_filter(toks, x -> x = 'join')) AS tf1
         |      FROM t),
         |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl,
         |            sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |            sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
         |          FROM d),
         |bmscored AS (
         |  SELECT doc_id,
         |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0)
         |      / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
         |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0)
         |      / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS score
         |  FROM d CROSS JOIN stats),
         |bm AS (SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |    FROM bmscored WHERE score > 0)
         |  WHERE rank <= 10),
         |cos AS (SELECT doc_id, rank FROM (
         |    SELECT e.vec_id AS doc_id,
         |      row_number() OVER (ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
         |                         e.vec_id ASC) AS rank
         |    FROM embeddings e CROSS JOIN embeddings q
         |    WHERE q.vec_id = 7 AND e.vec_id <> 7)
         |  WHERE rank <= 10),
         |arms AS (SELECT doc_id, rank FROM bm UNION ALL SELECT doc_id, rank FROM cos),
         |fused AS (
         |  SELECT doc_id, CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_q
         |  FROM arms GROUP BY doc_id)
         |SELECT rank, doc_id, rrf_q FROM (
         |  SELECT doc_id, rrf_q,
         |    row_number() OVER (ORDER BY rrf_q DESC, doc_id ASC) AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "pipe_epoch_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('epoch1:' || doc_id), 1, 15)) AS BIGINT) AS key
        |  FROM documents)
        |SELECT doc_id, key % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY key % 8
        |    ORDER BY key ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM k ORDER BY doc_id""".stripMargin,
    "pipe_epoch_shuffle_auto" ->
      """WITH n AS (
        |  SELECT GREATEST(1, (sum(length(text)) + 19999) // 20000) AS ns
        |  FROM documents),
        |k AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('epoch1:' || doc_id), 1, 15)) AS BIGINT) AS key
        |  FROM documents)
        |SELECT doc_id, CAST(key % ns AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY key % ns
        |    ORDER BY key ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM k, n ORDER BY doc_id""".stripMargin,
    "pipe_pack_sequences" ->
      s"""SELECT source, doc_id, n_tok, CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id
         |FROM (
         |  SELECT source, doc_id, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM (SELECT source, doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok
         |        FROM documents))
         |ORDER BY source, doc_id""".stripMargin,
    "knn_sq8" ->
      s"""WITH ${sq8Ctes()},
         |cand AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS neighbor,
         |    list_sum(list_transform(range(64), j -> a.qv[j + 1] * b.qv[j + 1])) AS qdot
         |  FROM q a JOIN q b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 20)
         |SELECT qid, rank, neighbor FROM (
         |  SELECT qid, neighbor,
         |    row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, neighbor ASC) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // knn_ivf's candidate cut + knn_sq8's integer ranking, composed from
    // the same shared CTEs that gate each piece alone
    "knn_sq8_ivf" ->
      s"""WITH $ivfCtes,
         |${sq8Ctes()},
         |cand AS (
         |  SELECT p.qid, a.vec_id AS neighbor,
         |    list_sum(list_transform(range(64), j -> qq.qv[j + 1] * qa.qv[j + 1])) AS qdot
         |  FROM probes p JOIN asg a ON a.cell = p.cell
         |  JOIN q qq ON qq.vec_id = p.qid
         |  JOIN q qa ON qa.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid, rank, neighbor FROM (
         |  SELECT qid, neighbor,
         |    row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, neighbor ASC) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "knn_pq" ->
      s"""WITH $pqCtes,
         |adc AS (
         |  SELECT dq.vec_id AS qid, e.vec_id AS neighbor, CAST(sum(dq.dist) AS BIGINT) AS adist
         |  FROM enc e JOIN dists dq ON dq.s = e.s AND dq.cid = e.cid
         |  WHERE dq.vec_id < 20 AND e.vec_id <> dq.vec_id
         |  GROUP BY dq.vec_id, e.vec_id)
         |SELECT qid, rank, neighbor FROM (
         |  SELECT qid, neighbor,
         |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, neighbor ASC) AS rank
         |  FROM adc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // the same curation chain with the LM keep ANDed in — the shared
    // lmScoreCtesSql supplies the model arithmetic, so the filter stage
    // and the standalone perplexity gate cannot drift
    "pipe_curate_v2" ->
      s"""WITH $lmScoreCtesSql,
         |lmkeep AS (
         |  SELECT d.doc_id FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |  WHERE coalesce(sc.nll_q, 0) <= coalesce(sc.n_bigrams, 0) * $PerBigramNllQ),
         |keepers AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text, $gopherMetricsSql
         |    FROM documents JOIN lmkeep USING (doc_id))
         |  WHERE $gopherKeepSql),
         |$curateTailSql""".stripMargin,
    "pipe_curate" ->
      s"""WITH keepers AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text, $gopherMetricsSql
         |    FROM documents)
         |  WHERE $gopherKeepSql),
         |$curateTailSql""".stripMargin,
    "pipe_chunk_sentences" ->
      s"""WITH synth AS (
         |  SELECT doc_id, array_to_string(
         |    list_transform(string_split(text, ' '),
         |      (x, i) -> CASE WHEN i % (5 + doc_id % 7) = 0
         |                THEN x || '.' ELSE x END), ' ') AS text
         |  FROM documents),
         |sents AS (
         |  SELECT doc_id, pos, s FROM (
         |    SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS s
         |    FROM (SELECT doc_id, regexp_split_to_array(text, '\\. ') AS ls
         |          FROM synth))
         |  WHERE len(trim(s)) > 0),
         |tok AS (
         |  SELECT doc_id, pos, CAST(len(${toksSqlOf("s")}) AS BIGINT) AS n_tok
         |  FROM sents)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, n_tok,
         |  CAST((cum - n_tok) // 32 AS BIGINT) AS chunk_id
         |FROM (
         |  SELECT doc_id, pos, n_tok,
         |    sum(n_tok) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM tok)
         |ORDER BY doc_id, pos""".stripMargin,
    "pipe_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, toks, unnest(range(
         |    CASE WHEN len(toks) <= 64 THEN 1
         |         ELSE (len(toks) - 64 + 47) // 48 + 1 END)) AS chunk_id
         |  FROM t WHERE len(toks) > 0)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(chunk_id * 48 AS BIGINT) AS start_tok,
         |  CAST(least(64, len(toks) - chunk_id * 48) AS BIGINT) AS n_tok,
         |  md5(array_to_string(toks[chunk_id*48+1:chunk_id*48+64], ' ')) AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "pipe_mix_weights" ->
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1, 2),
         |u AS (SELECT min(n_tokens // weight) AS u FROM per)
         |SELECT source, n_docs, n_tokens, CAST(weight AS BIGINT) AS weight,
         |  CAST(weight * u AS BIGINT) AS alloc_tokens
         |FROM per CROSS JOIN u ORDER BY source""".stripMargin,
    "pipe_mix_realize" ->
      s"""WITH rows AS (
         |  SELECT doc_id, source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok,
         |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |per AS (
         |  SELECT source, weight, sum(n_tok) AS n_tokens
         |  FROM rows GROUP BY 1, 2),
         |u AS (SELECT min(n_tokens // weight) AS u FROM per),
         |alloc AS (
         |  SELECT source, CAST(weight * u AS BIGINT) AS alloc_tokens
         |  FROM per CROSS JOIN u),
         |cum AS (
         |  SELECT r.source, a.alloc_tokens, r.n_tok,
         |    sum(r.n_tok) OVER (PARTITION BY r.source ORDER BY r.h, r.doc_id) AS c
         |  FROM rows r JOIN alloc a USING (source)),
         |kept AS (
         |  SELECT source, count(*) AS kept_docs, sum(n_tok) AS kept_tokens
         |  FROM cum WHERE c <= alloc_tokens GROUP BY 1)
         |SELECT a.source, a.alloc_tokens,
         |  CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs,
         |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |  CAST(a.alloc_tokens - coalesce(k.kept_tokens, 0) AS BIGINT) AS slack_tokens
         |FROM alloc a LEFT JOIN kept k USING (source)
         |ORDER BY a.source""".stripMargin,
    "pipe_mix_epochs" ->
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1, 2),
         |t AS (SELECT sum(n_tokens) * 2 AS tt, sum(weight) AS sw FROM per)
         |SELECT source, n_tokens, CAST(weight AS BIGINT) AS weight,
         |  CAST(weight * tt // sw AS BIGINT) AS alloc_tokens,
         |  CAST(CAST(weight * tt // sw AS HUGEINT) * 1000000 // n_tokens AS BIGINT) AS epochs_ppm,
         |  CAST(LEAST(weight * tt // sw, n_tokens * 3) AS BIGINT) AS capped_tokens,
         |  CAST(weight * tt // sw - LEAST(weight * tt // sw, n_tokens * 3) AS BIGINT) AS shortfall_tokens
         |FROM per CROSS JOIN t ORDER BY source""".stripMargin,
    "pipe_mix_epochs_plan" ->
      s"""WITH per AS MATERIALIZED (
         |  SELECT source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1, 2),
         |${waterFillCtes(12, 2, 3)}
         |SELECT f.source, CAST(f.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(f.weight AS BIGINT) AS weight,
         |  CAST(f.alloc AS BIGINT) AS alloc_tokens,
         |  CAST(CASE WHEN f.n_tokens > 0 THEN f.alloc * 1000000 // f.n_tokens
         |    ELSE 0 END AS BIGINT) AS epochs_ppm,
         |  f.capped AS capped,
         |  CAST(t.B - (SELECT sum(alloc) FROM r12) AS BIGINT) AS residual_tokens
         |FROM r12 f CROSS JOIN tot t
         |ORDER BY f.source""".stripMargin,
    "pipe_mix_epochs_realize" ->
      s"""WITH rows AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok,
         |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |per AS MATERIALIZED (
         |  SELECT source, weight, sum(n_tok) AS n_tokens
         |  FROM rows GROUP BY 1, 2),
         |${waterFillCtes(12, 2, 3)},
         |fullspec AS MATERIALIZED (
         |  SELECT source, CAST(alloc // n_tokens AS BIGINT) AS full_e,
         |    CAST(alloc - (alloc // n_tokens) * n_tokens AS BIGINT) AS frac_tok
         |  FROM r12),
         |fullrows AS (
         |  SELECT r.doc_id, r.source, r.n_tok, e.e AS epoch
         |  FROM rows r JOIN fullspec f USING (source)
         |  JOIN (SELECT unnest(generate_series(0, 2)) AS e) e ON e.e < f.full_e),
         |frac AS (
         |  SELECT doc_id, source, n_tok, full_e AS epoch FROM (
         |    SELECT r.doc_id, r.source, r.n_tok, f.full_e, f.frac_tok,
         |      sum(r.n_tok) OVER (PARTITION BY r.source ORDER BY r.h, r.doc_id) AS c
         |    FROM rows r JOIN fullspec f USING (source)
         |    WHERE f.frac_tok > 0)
         |  WHERE c <= frac_tok),
         |keyed AS (
         |  SELECT doc_id, source, n_tok, CAST(epoch AS BIGINT) AS epoch,
         |    CAST(('0x' || substr(md5('mixep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS k
         |  FROM (SELECT * FROM fullrows UNION ALL SELECT * FROM frac))
         |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok, epoch,
         |  CAST(k % 4 AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY epoch, k % 4 ORDER BY k, doc_id) AS BIGINT) AS pos
         |FROM keyed
         |ORDER BY source, epoch, shard, pos""".stripMargin,
    "pipe_mix_schedule" ->
      s"""WITH rows AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok,
         |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |per AS (
         |  SELECT source, weight, sum(n_tok) AS n_tokens
         |  FROM rows GROUP BY 1, 2),
         |u AS (SELECT min(n_tokens // weight) AS u FROM per),
         |alloc AS (
         |  SELECT source, CAST(weight * u AS BIGINT) AS alloc_tokens
         |  FROM per CROSS JOIN u),
         |kept AS (
         |  SELECT source, doc_id, weight, h FROM (
         |    SELECT r.source, r.doc_id, r.weight, r.h,
         |      sum(r.n_tok) OVER (PARTITION BY r.source ORDER BY r.h, r.doc_id) AS c,
         |      a.alloc_tokens
         |    FROM rows r JOIN alloc a USING (source))
         |  WHERE c <= alloc_tokens),
         |tot AS (
         |  SELECT sum(weight) AS wsum FROM (
         |    SELECT DISTINCT source, weight FROM kept)),
         |ks AS (
         |  SELECT doc_id, source, weight,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS k
         |  FROM kept)
         |SELECT CAST((CAST(2 * k - 1 AS HUGEINT) * wsum) // (2 * weight) AS BIGINT) AS skey,
         |  source, doc_id
         |FROM ks CROSS JOIN tot
         |ORDER BY skey, source, doc_id""".stripMargin,
    "pipe_mix_schedule_wide" ->
      s"""WITH rows AS (
         |  SELECT doc_id, source,
         |    (CAST(substr(source, 4) AS BIGINT) % 3 + 1) * 1000000000000000000 AS weight,
         |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |tot AS (
         |  SELECT sum(weight) AS wsum FROM (
         |    SELECT DISTINCT source, weight FROM rows)),
         |ks AS (
         |  SELECT doc_id, source, weight,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS k
         |  FROM rows)
         |SELECT CAST((CAST(2 * k - 1 AS HUGEINT) * wsum) // (2 * weight) AS BIGINT) AS skey,
         |  source, doc_id
         |FROM ks CROSS JOIN tot
         |ORDER BY skey, source, doc_id""".stripMargin,
    "pipe_mix_shard_schedule" ->
      s"""WITH rows AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok,
         |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |per AS MATERIALIZED (
         |  SELECT source, weight, sum(n_tok) AS n_tokens
         |  FROM rows GROUP BY 1, 2),
         |${waterFillCtes(12, 2, 3)},
         |fullspec AS MATERIALIZED (
         |  SELECT source, CAST(alloc // n_tokens AS BIGINT) AS full_e,
         |    CAST(alloc - (alloc // n_tokens) * n_tokens AS BIGINT) AS frac_tok
         |  FROM r12),
         |fullrows AS (
         |  SELECT r.doc_id, r.source, e.e AS epoch
         |  FROM rows r JOIN fullspec f USING (source)
         |  JOIN (SELECT unnest(generate_series(0, 2)) AS e) e ON e.e < f.full_e),
         |frac AS (
         |  SELECT doc_id, source, full_e AS epoch FROM (
         |    SELECT r.doc_id, r.source, f.full_e, f.frac_tok,
         |      sum(r.n_tok) OVER (PARTITION BY r.source ORDER BY r.h, r.doc_id) AS c
         |    FROM rows r JOIN fullspec f USING (source)
         |    WHERE f.frac_tok > 0)
         |  WHERE c <= frac_tok),
         |keyed AS MATERIALIZED (
         |  SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS w,
         |    CAST(('0x' || substr(md5('mixep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
         |  FROM (SELECT * FROM fullrows UNION ALL SELECT * FROM frac)),
         |wtot AS (
         |  SELECT sum(w) AS wsum FROM (
         |    SELECT DISTINCT source, w FROM keyed)),
         |ranked AS (
         |  SELECT doc_id, source, epoch, w,
         |    CAST(hk % 4 AS BIGINT) AS shard,
         |    CAST(row_number() OVER (PARTITION BY epoch, hk % 4, source ORDER BY hk, doc_id) AS BIGINT) AS k
         |  FROM keyed),
         |sched AS (
         |  SELECT doc_id, source, epoch, shard,
         |    CAST((CAST(2 * k - 1 AS HUGEINT) * wsum) // (2 * w) AS BIGINT) AS skey
         |  FROM ranked CROSS JOIN wtot)
         |SELECT doc_id, source, epoch, shard, skey,
         |  CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY skey, source, doc_id) AS BIGINT) AS pos
         |FROM sched
         |ORDER BY epoch, shard, pos""".stripMargin,
    "pipe_mix_realize_2pass" ->
      s"""WITH rows AS (
         |  SELECT doc_id, source,
         |    CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS weight,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok,
         |    CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |per AS (
         |  SELECT source, weight, sum(n_tok) AS n_tokens
         |  FROM rows GROUP BY 1, 2),
         |u AS (SELECT min(n_tokens // weight) AS u FROM per),
         |alloc AS (
         |  SELECT source, CAST(weight * u AS BIGINT) AS alloc_tokens,
         |    CAST(LEAST(CAST(1152921504606846976 AS HUGEINT),
         |      CAST(1152921504606846976 // n_tokens AS HUGEINT)
         |        * CAST(weight * u AS HUGEINT) * 2) AS BIGINT) AS thr
         |  FROM per CROSS JOIN u),
         |cum AS (
         |  SELECT r.source, a.alloc_tokens, r.n_tok,
         |    sum(r.n_tok) OVER (PARTITION BY r.source ORDER BY r.h, r.doc_id) AS c
         |  FROM rows r JOIN alloc a USING (source)
         |  WHERE r.h < a.thr),
         |kept AS (
         |  SELECT source, count(*) AS kept_docs, sum(n_tok) AS kept_tokens
         |  FROM cum WHERE c <= alloc_tokens GROUP BY 1)
         |SELECT a.source, a.alloc_tokens,
         |  CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs,
         |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |  CAST(a.alloc_tokens - coalesce(k.kept_tokens, 0) AS BIGINT) AS slack_tokens
         |FROM alloc a LEFT JOIN kept k USING (source)
         |ORDER BY a.source""".stripMargin,
    "text_line_dedup" ->
      s"""WITH lines AS ($linedLinesSql)
         |, owned AS (
         |  SELECT doc_id, count(*) AS n_kept FROM (
         |    SELECT line, min(doc_id) AS doc_id FROM lines GROUP BY line)
         |  GROUP BY doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
         |SELECT c.doc_id, CAST(c.n_lines AS BIGINT) AS n_lines,
         |  CAST(coalesce(o.n_kept, 0) AS BIGINT) AS n_kept
         |FROM cnt c LEFT JOIN owned o ON o.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "text_line_dedup_apply" ->
      s"""WITH lines AS ($linedLinesSql)
         |, owner AS (SELECT line, min(doc_id) AS doc_id FROM lines GROUP BY line),
         |firstpos AS (
         |  SELECT doc_id, line, min(pos) AS pos FROM lines GROUP BY doc_id, line)
         |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  string_agg(f.line, '. ' ORDER BY f.pos) AS new_text
         |FROM firstpos f JOIN owner o ON o.line = f.line AND o.doc_id = f.doc_id
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
    // recall@5 of the IVF-PQ tier vs the exact baseline: the two gated
    // tiers' own shared CTE fragments plus one intersection count
    "knn_recall" ->
      s"""WITH $ivfCtes,
         |$pqCtes,
         |$ivfPqAdcCte,
         |approx AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT qid, neighbor,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist ASC, neighbor ASC) AS rank
         |    FROM adc) WHERE rank <= 5),
         |${bruteTop5Cte()},
         |inter AS (
         |  SELECT exact.qid, count(*) AS hits
         |  FROM exact JOIN approx ON approx.qid = exact.qid
         |    AND approx.neighbor = exact.neighbor
         |  GROUP BY exact.qid)
         |SELECT q.vec_id AS qid, CAST(coalesce(i.hits, 0) AS BIGINT) AS hits
         |FROM embeddings q LEFT JOIN inter i ON i.qid = q.vec_id
         |WHERE q.vec_id < 20
         |ORDER BY qid""".stripMargin,
    // the √n-scaled trained tier: nlist and nProbe both derive from the
    // census CTE, then the SAME unrolled k-means chain (kc0 is just a
    // different seed cut) and knn_ivf_trained's serving shape; the seed
    // window starts at vid 20 — DISJOINT from the evaluation queries
    // (seed hygiene, round 12 — see the engine-side scaladoc)
    "knn_recall_scaled" ->
      s"""WITH sz AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist,
         |    CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) AS nprobe
         |  FROM embeddings),
         |kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings, sz
         |  WHERE vec_id >= 20 AND vec_id < 20 + sz.nlist),
         |${kmeansIterSql(1)},
         |${kmeansIterSql(2)},
         |${kmeansIterSql(3)},
         |asgT AS (
         |  SELECT vec_id, embedding, cid AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c)
         |  WHERE crn = 1),
         |probesT AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c WHERE e.vec_id < 20)
         |  WHERE crn <= (SELECT nprobe FROM sz)),
         |approx AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT p.qid, a.vec_id AS neighbor,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY list_cosine_similarity(p.qv, a.embedding) DESC, a.vec_id ASC) AS rank
         |    FROM probesT p JOIN asgT a ON a.cell = p.cell
         |    WHERE a.vec_id <> p.qid)
         |  WHERE rank <= 5),
         |${bruteTop5Cte()},
         |inter AS (
         |  SELECT exact.qid, count(*) AS hits
         |  FROM exact JOIN approx ON approx.qid = exact.qid
         |    AND approx.neighbor = exact.neighbor
         |  GROUP BY exact.qid)
         |SELECT q.vec_id AS qid, CAST(coalesce(i.hits, 0) AS BIGINT) AS hits
         |FROM embeddings q LEFT JOIN inter i ON i.qid = q.vec_id
         |WHERE q.vec_id < 20
         |ORDER BY qid""".stripMargin,
    // the RESIDUAL (IVFADC) serving read shape unrolled: census sizing,
    // seed-disjoint kmeans, spill-2 layout WITH per-cell residual codes
    // (each copy encodes v − cv of ITS cell), residual-trained
    // codebooks (the shared pq rounds over rank-1 residual subvectors),
    // per-(query, probed-cell) residual lookup tables, per-copy ADC
    // then MIN over a row's probed copies, 256-slot shortlist,
    // exact-cosine rerank
    "knn_serving_recall" ->
      s"""WITH sz AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist,
         |    3 * CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) AS nprobe
         |  FROM embeddings),
         |kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings, sz
         |  WHERE vec_id >= 20 AND vec_id < 20 + sz.nlist),
         |${kmeansIterSql(1)},
         |${kmeansIterSql(2)},
         |${kmeansIterSql(3)},
         |asgR AS (
         |  SELECT vec_id, embedding, cid AS cell, cv, crn FROM (
         |    SELECT e.vec_id, e.embedding, c.cid, c.cv,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c)
         |  WHERE crn <= 2),
         |rsub AS (
         |  SELECT vec_id, cell, crn, s, f[s*16+1 : s*16+16] AS fs FROM (
         |    SELECT vec_id, cell, crn, list_transform(range(64), j ->
         |      CAST(round((CAST(embedding[j+1] AS DOUBLE) - CAST(cv[j+1] AS DOUBLE)) * 1000000.0) AS BIGINT)) AS f
         |    FROM asgR)
         |  CROSS JOIN (SELECT unnest(range(4)) AS s)),
         |sub AS (SELECT vec_id, s, fs FROM rsub WHERE crn = 1),
         |pseed AS (
         |  SELECT vec_id FROM embeddings WHERE vec_id >= 20
         |  ORDER BY vec_id LIMIT 256),
         |pcw0 AS (
         |  SELECT s, vec_id AS cid, fs FROM sub JOIN pseed USING (vec_id)),
         |${pqTrainRoundsSql(2)},
         |cw AS (SELECT s, cid, fs FROM pcw2),
         |encR AS (
         |  SELECT vec_id, cell, s, cid FROM (
         |    SELECT r.vec_id, r.cell, r.s, c.cid,
         |      row_number() OVER (PARTITION BY r.vec_id, r.cell, r.s
         |        ORDER BY list_sum(list_transform(range(16),
         |          i -> (r.fs[i+1] - c.fs[i+1]) * (r.fs[i+1] - c.fs[i+1]))) ASC, c.cid ASC) AS rn
         |    FROM rsub r JOIN cw c ON c.s = r.s)
         |  WHERE rn = 1),
         |probesR AS (
         |  SELECT qid, qv, cell, cv FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell, c.cv,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c WHERE e.vec_id < 20)
         |  WHERE crn <= (SELECT nprobe FROM sz)),
         |qsub AS (
         |  SELECT qid, cell, s, f[s*16+1 : s*16+16] AS fs FROM (
         |    SELECT qid, cell, list_transform(range(64), j ->
         |      CAST(round((CAST(qv[j+1] AS DOUBLE) - CAST(cv[j+1] AS DOUBLE)) * 1000000.0) AS BIGINT)) AS f
         |    FROM probesR)
         |  CROSS JOIN (SELECT unnest(range(4)) AS s)),
         |qlut AS (
         |  SELECT q.qid, q.cell, q.s, c.cid,
         |    list_sum(list_transform(range(16),
         |      i -> (q.fs[i+1] - c.fs[i+1]) * (q.fs[i+1] - c.fs[i+1]))) AS dist
         |  FROM qsub q JOIN cw c ON c.s = q.s),
         |adcCell AS (
         |  SELECT p.qid, a.vec_id AS neighbor, p.cell,
         |    CAST(sum(dq.dist) AS BIGINT) AS adist
         |  FROM probesR p
         |  JOIN asgR a ON a.cell = p.cell AND a.vec_id <> p.qid
         |  JOIN encR en ON en.vec_id = a.vec_id AND en.cell = a.cell
         |  JOIN qlut dq ON dq.qid = p.qid AND dq.cell = p.cell
         |    AND dq.s = en.s AND dq.cid = en.cid
         |  GROUP BY p.qid, a.vec_id, p.cell),
         |adcS AS (
         |  SELECT qid, neighbor, min(adist) AS adist
         |  FROM adcCell GROUP BY qid, neighbor),
         |short AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT qid, neighbor,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY adist ASC, neighbor ASC) AS srn
         |    FROM adcS)
         |  WHERE srn <= 256),
         |approx AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT s.qid, s.neighbor,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC, s.neighbor ASC) AS rank
         |    FROM short s
         |    JOIN embeddings q ON q.vec_id = s.qid
         |    JOIN embeddings n ON n.vec_id = s.neighbor)
         |  WHERE rank <= 5),
         |${bruteTop5Cte()},
         |inter AS (
         |  SELECT exact.qid, count(*) AS hits
         |  FROM exact JOIN approx ON approx.qid = exact.qid
         |    AND approx.neighbor = exact.neighbor
         |  GROUP BY exact.qid)
         |SELECT q.vec_id AS qid, CAST(coalesce(i.hits, 0) AS BIGINT) AS hits
         |FROM embeddings q LEFT JOIN inter i ON i.qid = q.vec_id
         |WHERE q.vec_id < 20
         |ORDER BY qid""".stripMargin,
    // the SQ8 serving twin: same census sizing / spill layout / probes /
    // rerank as knn_serving_recall, with the asymmetric integer-dot cut
    // (codes from the shared sq8Ctes, per-query fixed-point weights at
    // the 2^24 scale) in place of the PQ ADC shortlist
    "knn_serving_recall_sq8" ->
      s"""WITH sz AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist,
         |    2 * CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) AS nprobe
         |  FROM embeddings),
         |kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings, sz
         |  WHERE vec_id >= 20 AND vec_id < 20 + sz.nlist),
         |${kmeansIterSql(1)},
         |${kmeansIterSql(2)},
         |${kmeansIterSql(3)},
         |${sq8Ctes()},
         |asgS AS (
         |  SELECT vec_id, embedding, cid AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c)
         |  WHERE crn <= 2),
         |probesS AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c WHERE e.vec_id < 20)
         |  WHERE crn <= (SELECT nprobe FROM sz)),
         |cand AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS neighbor
         |  FROM probesS p JOIN asgS a ON a.cell = p.cell
         |  WHERE a.vec_id <> p.qid),
         |qw AS (
         |  SELECT vec_id, list_transform(range(64), j ->
         |    CAST(floor(CAST(embedding[j + 1] AS DOUBLE)
         |      * ((mxs[j + 1] - mns[j + 1]) / 255.0)
         |      * ${graft.exprs.Sq8.AdcScale.toLong}.0) AS BIGINT)) AS w
         |  FROM embeddings, mnx WHERE vec_id < 20),
         |idot AS (
         |  SELECT c.qid, c.neighbor,
         |    CAST(list_sum(list_transform(range(64),
         |      j -> cd.qv[j + 1] * w.w[j + 1])) AS BIGINT) AS idot
         |  FROM cand c
         |  JOIN q cd ON cd.vec_id = c.neighbor
         |  JOIN qw w ON w.vec_id = c.qid),
         |short AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT qid, neighbor,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY idot DESC, neighbor ASC) AS srn
         |    FROM idot)
         |  WHERE srn <= 256),
         |approx AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT s.qid, s.neighbor,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY list_cosine_similarity(qe.embedding, n.embedding) DESC, s.neighbor ASC) AS rank
         |    FROM short s
         |    JOIN embeddings qe ON qe.vec_id = s.qid
         |    JOIN embeddings n ON n.vec_id = s.neighbor)
         |  WHERE rank <= 5),
         |${bruteTop5Cte()},
         |inter AS (
         |  SELECT exact.qid, count(*) AS hits
         |  FROM exact JOIN approx ON approx.qid = exact.qid
         |    AND approx.neighbor = exact.neighbor
         |  GROUP BY exact.qid)
         |SELECT qe.vec_id AS qid, CAST(coalesce(i.hits, 0) AS BIGINT) AS hits
         |FROM embeddings qe LEFT JOIN inter i ON i.qid = qe.vec_id
         |WHERE qe.vec_id < 20
         |ORDER BY qid""".stripMargin,
    // the centroid-DRIFT gate: frozen arm trained on cohort A only,
    // retrained arm on A + the dimension-reversed cohort B (vids
    // +100000), both unrolled k-means chains prefixed (f/r) so they
    // coexist; queries are B's first 20, truth exact cosine over A∪B
    "knn_refresh_drift" ->
      s"""WITH emba AS (SELECT vec_id, embedding FROM embeddings),
         |embb AS (
         |  SELECT vec_id + 100000 AS vec_id, list_reverse(embedding) AS embedding
         |  FROM embeddings),
         |embu AS (SELECT * FROM emba UNION ALL SELECT * FROM embb),
         |sz AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist,
         |    CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) AS nprobe,
         |    (CAST(ceil(sqrt(count(*))) AS BIGINT) + 1) // 2 AS h
         |  FROM emba),
         |kcf0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM emba, sz
         |  WHERE vec_id >= 20 AND vec_id < 20 + sz.nlist),
         |${kmeansIterSql(1, "emba", "f")},
         |${kmeansIterSql(2, "emba", "f")},
         |${kmeansIterSql(3, "emba", "f")},
         |kcr0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embu, sz
         |  WHERE (vec_id >= 20 AND vec_id < 20 + sz.h)
         |     OR (vec_id >= 100020 AND vec_id < 100020 + (sz.nlist - sz.h))),
         |${kmeansIterSql(1, "embu", "r")},
         |${kmeansIterSql(2, "embu", "r")},
         |${kmeansIterSql(3, "embu", "r")},
         |asgF AS (
         |  SELECT vec_id, embedding, cid AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embu e CROSS JOIN kcf3 c)
         |  WHERE crn = 1),
         |probesF AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embu e CROSS JOIN kcf3 c
         |    WHERE e.vec_id >= 100000 AND e.vec_id < 100020)
         |  WHERE crn <= (SELECT nprobe FROM sz)),
         |knnF AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT p.qid, a.vec_id AS neighbor,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY list_cosine_similarity(p.qv, a.embedding) DESC, a.vec_id ASC) AS rank
         |    FROM probesF p JOIN asgF a ON a.cell = p.cell
         |    WHERE a.vec_id <> p.qid)
         |  WHERE rank <= 5),
         |asgR AS (
         |  SELECT vec_id, embedding, cid AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embu e CROSS JOIN kcr3 c)
         |  WHERE crn = 1),
         |probesR AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embu e CROSS JOIN kcr3 c
         |    WHERE e.vec_id >= 100000 AND e.vec_id < 100020)
         |  WHERE crn <= (SELECT nprobe FROM sz)),
         |knnR AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT p.qid, a.vec_id AS neighbor,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY list_cosine_similarity(p.qv, a.embedding) DESC, a.vec_id ASC) AS rank
         |    FROM probesR p JOIN asgR a ON a.cell = p.cell
         |    WHERE a.vec_id <> p.qid)
         |  WHERE rank <= 5),
         |exact AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS neighbor,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id ASC) AS rank
         |    FROM embu q CROSS JOIN embu e
         |    WHERE q.vec_id >= 100000 AND q.vec_id < 100020
         |      AND e.vec_id <> q.vec_id)
         |  WHERE rank <= 5),
         |hf AS (
         |  SELECT exact.qid, count(*) AS hits FROM exact
         |  JOIN knnF ON knnF.qid = exact.qid AND knnF.neighbor = exact.neighbor
         |  GROUP BY exact.qid),
         |hr AS (
         |  SELECT exact.qid, count(*) AS hits FROM exact
         |  JOIN knnR ON knnR.qid = exact.qid AND knnR.neighbor = exact.neighbor
         |  GROUP BY exact.qid)
         |SELECT q.vec_id AS qid,
         |  CAST(coalesce(hf.hits, 0) AS BIGINT) AS hits_frozen,
         |  CAST(coalesce(hr.hits, 0) AS BIGINT) AS hits_retrained
         |FROM embb q
         |LEFT JOIN hf ON hf.qid = q.vec_id
         |LEFT JOIN hr ON hr.qid = q.vec_id
         |WHERE q.vec_id < 100020
         |ORDER BY qid""".stripMargin,
    // the drift statistics replayed: frozen chain over cohort A, both
    // cohorts assigned (cosine argmax, ties by cid), per-row
    // floor(cos*1e6) then truncating integer mean; skew = hot-cell
    // share ppm + occupied cells
    "pipe_ann_drift" ->
      s"""WITH emba AS (SELECT vec_id, embedding FROM embeddings),
         |embb AS (
         |  SELECT vec_id + 100000 AS vec_id, list_reverse(embedding) AS embedding
         |  FROM embeddings),
         |sz AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist FROM emba),
         |kcf0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM emba, sz
         |  WHERE vec_id >= 20 AND vec_id < 20 + sz.nlist),
         |${kmeansIterSql(1, "emba", "f")},
         |${kmeansIterSql(2, "emba", "f")},
         |${kmeansIterSql(3, "emba", "f")},
         |cohorts AS (
         |  SELECT 'train' AS cohort, vec_id, embedding FROM emba
         |  UNION ALL
         |  SELECT 'shifted' AS cohort, vec_id, embedding FROM embb),
         |asg AS (
         |  SELECT cohort, vec_id, cell,
         |    CAST(floor(cos * 1000000.0) AS BIGINT) AS q
         |  FROM (
         |    SELECT e.cohort, e.vec_id, c.cid AS cell,
         |      list_cosine_similarity(e.embedding, c.cv) AS cos,
         |      row_number() OVER (PARTITION BY e.cohort, e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM cohorts e CROSS JOIN kcf3 c)
         |  WHERE crn = 1),
         |fit AS (
         |  SELECT cohort, count(*) AS n,
         |    CAST(sum(q) AS BIGINT) // count(*) AS fit_ppm
         |  FROM asg GROUP BY cohort),
         |cellc AS (
         |  SELECT cohort, cell, count(*) AS c FROM asg GROUP BY cohort, cell),
         |skew AS (
         |  SELECT cohort,
         |    (CAST(max(c) AS BIGINT) * 1000000) // CAST(sum(c) AS BIGINT)
         |      AS top_share_ppm,
         |    count(*) AS occupied
         |  FROM cellc GROUP BY cohort)
         |SELECT f.cohort, CAST(f.n AS BIGINT) AS n, f.fit_ppm,
         |  s2.top_share_ppm, CAST(s2.occupied AS BIGINT) AS occupied
         |FROM fit f JOIN skew s2 ON s2.cohort = f.cohort
         |ORDER BY f.cohort""".stripMargin,
    // the NORM-ADVERSARIAL sq8 serving twin: corpus scaled by
    // (vec_id % 10 + 1), shortlist cut on the normalized key
    // (2^24-scale integer numerator mq + idot over the sqrt of the
    // exact integer reconstructed norm-squared at 2^12 fixed point) —
    // one IEEE division + sqrt per candidate, everything summed as
    // integers so the replay is bit-identical
    "knn_serving_recall_sq8_norms" ->
      s"""WITH embx AS (
         |  SELECT vec_id, label, list_transform(embedding,
         |    x -> CAST(CAST(x AS DOUBLE) * (vec_id % 10 + 1) AS FLOAT)) AS embedding
         |  FROM embeddings),
         |sz AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist,
         |    2 * CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) AS nprobe
         |  FROM embx),
         |kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embx, sz
         |  WHERE vec_id >= 20 AND vec_id < 20 + sz.nlist),
         |${kmeansIterSql(1, "embx")},
         |${kmeansIterSql(2, "embx")},
         |${kmeansIterSql(3, "embx")},
         |${sq8Ctes("embx")},
         |asgS AS (
         |  SELECT vec_id, embedding, cid AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embx e CROSS JOIN kc3 c)
         |  WHERE crn <= 2),
         |probesS AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embx e CROSS JOIN kc3 c WHERE e.vec_id < 20)
         |  WHERE crn <= (SELECT nprobe FROM sz)),
         |cand AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS neighbor
         |  FROM probesS p JOIN asgS a ON a.cell = p.cell
         |  WHERE a.vec_id <> p.qid),
         |qw AS (
         |  SELECT vec_id, list_transform(range(64), j ->
         |    CAST(floor(CAST(embedding[j + 1] AS DOUBLE)
         |      * ((mxs[j + 1] - mns[j + 1]) / 255.0)
         |      * ${graft.exprs.Sq8.AdcScale.toLong}.0) AS BIGINT)) AS w,
         |    CAST(list_sum(list_transform(range(64), j ->
         |      CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * mns[j + 1]
         |        * ${graft.exprs.Sq8.AdcScale.toLong}.0) AS BIGINT))) AS BIGINT) AS mq
         |  FROM embx, mnx WHERE vec_id < 20),
         |ab AS (
         |  SELECT
         |    list_transform(range(64), j ->
         |      CAST(floor(mns[j + 1] * 4096.0) AS BIGINT)) AS a,
         |    list_transform(range(64), j ->
         |      CAST(floor((mxs[j + 1] - mns[j + 1]) / 255.0 * 4096.0) AS BIGINT)) AS b
         |  FROM mnx),
         |keyed AS (
         |  SELECT c.qid, c.neighbor,
         |    CAST(list_sum(list_transform(range(64),
         |      j -> cd.qv[j + 1] * w.w[j + 1])) AS BIGINT) AS idot,
         |    CAST(list_sum(list_transform(range(64), j ->
         |      (ab.a[j + 1] + cd.qv[j + 1] * ab.b[j + 1])
         |        * (ab.a[j + 1] + cd.qv[j + 1] * ab.b[j + 1]))) AS BIGINT) AS den,
         |    w.mq AS mq
         |  FROM cand c
         |  JOIN q cd ON cd.vec_id = c.neighbor
         |  JOIN qw w ON w.vec_id = c.qid, ab),
         |short AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT qid, neighbor,
         |      row_number() OVER (PARTITION BY qid ORDER BY
         |        CASE WHEN den = 0 THEN -1.7976931348623157e308
         |             ELSE CAST(mq + idot AS DOUBLE) / sqrt(CAST(den AS DOUBLE))
         |        END DESC, neighbor ASC) AS srn
         |    FROM keyed)
         |  WHERE srn <= 256),
         |approx AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT s.qid, s.neighbor,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY list_cosine_similarity(qe.embedding, n.embedding) DESC, s.neighbor ASC) AS rank
         |    FROM short s
         |    JOIN embx qe ON qe.vec_id = s.qid
         |    JOIN embx n ON n.vec_id = s.neighbor)
         |  WHERE rank <= 5),
         |${bruteTop5Cte("embx")},
         |inter AS (
         |  SELECT exact.qid, count(*) AS hits
         |  FROM exact JOIN approx ON approx.qid = exact.qid
         |    AND approx.neighbor = exact.neighbor
         |  GROUP BY exact.qid)
         |SELECT qe.vec_id AS qid, CAST(coalesce(i.hits, 0) AS BIGINT) AS hits
         |FROM embx qe LEFT JOIN inter i ON i.qid = qe.vec_id
         |WHERE qe.vec_id < 20
         |ORDER BY qid""".stripMargin,
    // the FILTERED serving twin: the sq8 oracle with the label < 3
    // candidate pre-filter and a matching-corpus-only brute truth arm
    "knn_serving_recall_filtered" ->
      s"""WITH sz AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist,
         |    2 * CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) AS nprobe
         |  FROM embeddings),
         |kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings, sz
         |  WHERE vec_id >= 20 AND vec_id < 20 + sz.nlist),
         |${kmeansIterSql(1)},
         |${kmeansIterSql(2)},
         |${kmeansIterSql(3)},
         |${sq8Ctes()},
         |asgS AS (
         |  SELECT vec_id, embedding, label, cid AS cell FROM (
         |    SELECT e.vec_id, e.embedding, e.label, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c)
         |  WHERE crn <= 2),
         |probesS AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c WHERE e.vec_id < 20)
         |  WHERE crn <= (SELECT nprobe FROM sz)),
         |cand AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS neighbor
         |  FROM probesS p JOIN asgS a ON a.cell = p.cell
         |  WHERE a.vec_id <> p.qid AND a.label < 3),
         |qw AS (
         |  SELECT vec_id, list_transform(range(64), j ->
         |    CAST(floor(CAST(embedding[j + 1] AS DOUBLE)
         |      * ((mxs[j + 1] - mns[j + 1]) / 255.0)
         |      * ${graft.exprs.Sq8.AdcScale.toLong}.0) AS BIGINT)) AS w
         |  FROM embeddings, mnx WHERE vec_id < 20),
         |idot AS (
         |  SELECT c.qid, c.neighbor,
         |    CAST(list_sum(list_transform(range(64),
         |      j -> cd.qv[j + 1] * w.w[j + 1])) AS BIGINT) AS idot
         |  FROM cand c
         |  JOIN q cd ON cd.vec_id = c.neighbor
         |  JOIN qw w ON w.vec_id = c.qid),
         |short AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT qid, neighbor,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY idot DESC, neighbor ASC) AS srn
         |    FROM idot)
         |  WHERE srn <= 256),
         |approx AS (
         |  SELECT qid, neighbor FROM (
         |    SELECT s.qid, s.neighbor,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY list_cosine_similarity(qe.embedding, n.embedding) DESC, s.neighbor ASC) AS rank
         |    FROM short s
         |    JOIN embeddings qe ON qe.vec_id = s.qid
         |    JOIN embeddings n ON n.vec_id = s.neighbor)
         |  WHERE rank <= 5),
         |exact AS (
         |  SELECT qid, rank, neighbor FROM (
         |    SELECT qe.vec_id AS qid, e.vec_id AS neighbor,
         |      row_number() OVER (PARTITION BY qe.vec_id
         |        ORDER BY list_cosine_similarity(qe.embedding, e.embedding) DESC, e.vec_id ASC) AS rank
         |    FROM embeddings qe CROSS JOIN embeddings e
         |    WHERE qe.vec_id < 20 AND e.vec_id <> qe.vec_id AND e.label < 3)
         |  WHERE rank <= 5),
         |inter AS (
         |  SELECT exact.qid, count(*) AS hits
         |  FROM exact JOIN approx ON approx.qid = exact.qid
         |    AND approx.neighbor = exact.neighbor
         |  GROUP BY exact.qid)
         |SELECT qe.vec_id AS qid, CAST(coalesce(i.hits, 0) AS BIGINT) AS hits
         |FROM embeddings qe LEFT JOIN inter i ON i.qid = qe.vec_id
         |WHERE qe.vec_id < 20
         |ORDER BY qid""".stripMargin,
    // knn_ivf's candidate cut + knn_pq's ADC ranking, composed from the
    // same shared CTEs that gate each tier alone
    "knn_ivf_pq" ->
      s"""WITH $ivfCtes,
         |$pqCtes,
         |$ivfPqAdcCte
         |SELECT qid, rank, neighbor FROM (
         |  SELECT qid, neighbor,
         |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, neighbor ASC) AS rank
         |  FROM adc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "knn_ivfpq_trained" ->
      s"""WITH kc0 AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |${kmeansIterSql(1)},
         |${kmeansIterSql(2)},
         |${kmeansIterSql(3)},
         |asg AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c)
         |  WHERE crn = 1),
         |probes AS (
         |  SELECT qid, cell FROM (
         |    SELECT e.vec_id AS qid, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN kc3 c WHERE e.vec_id < 20)
         |  WHERE crn <= 2),
         |$pqCtes,
         |$ivfPqAdcCte
         |SELECT qid, rank, neighbor FROM (
         |  SELECT qid, neighbor,
         |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, neighbor ASC) AS rank
         |  FROM adc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashSigCtes
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  bit_count(xor(a.simhash, b.simhash)) AS dist
         |FROM shsig a JOIN shsig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
         |ORDER BY a, b""".stripMargin,
    "dedup_simhash_recall" ->
      s"""WITH $jaccardCtes,
         |$simhashSigCtes,
         |shprs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM shsig a JOIN shsig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8),
         |${recallReportSql("jac", "shprs")}""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS a, b.vec_id AS b
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY a, b""".stripMargin,
    // brute all-pairs truth vs cell-bounded candidates — recall prices
    // the cross-cell pairs the coarse clustering gives up
    "dedup_semantic_recall" ->
      s"""WITH truth AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
         |cand AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
         |${recallReportSql("truth", "cand")}""".stripMargin,
    "dedup_semantic" ->
      s"""WITH RECURSIVE prc AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    list_cosine_similarity(a.embedding, b.embedding) AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
         |${ccCtes("prc")},
         |ms AS (
         |  SELECT m_vid, max(qcos) AS max_sim FROM (
         |    SELECT a AS m_vid, CAST(floor(cos * 10000.0) AS BIGINT) AS qcos
         |      FROM prc
         |    UNION ALL
         |    SELECT b AS m_vid, CAST(floor(cos * 10000.0) AS BIGINT) AS qcos
         |      FROM prc)
         |  GROUP BY m_vid),
         |rk AS (
         |  SELECT c.doc AS vec_id, c.canon_id AS group_id,
         |    row_number() OVER (PARTITION BY c.canon_id
         |      ORDER BY ms.max_sim ASC, c.doc ASC) AS rk
         |  FROM canon c JOIN ms ON ms.m_vid = c.doc)
         |SELECT e.vec_id, coalesce(rk.group_id, e.vec_id) AS group_id,
         |  coalesce(rk.rk = 1, TRUE) AS keep
         |FROM embeddings e LEFT JOIN rk ON rk.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    "knn_brute" ->
      s"""WITH ${bruteTop5Cte()}
         |SELECT qid, rank, neighbor FROM exact ORDER BY qid, rank""".stripMargin,
    "knn_cell" ->
      """SELECT qid, rank, neighbor FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS neighbor,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id ASC) AS rank
        |  FROM embeddings q JOIN embeddings e ON q.label = e.label
        |  WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "knn_ivf" ->
      s"""WITH $ivfCtes,
         |cand AS (
         |  SELECT p.qid, a.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY p.qid
         |      ORDER BY list_cosine_similarity(p.qv, a.embedding) DESC, a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cell = p.cell
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid, rank, neighbor FROM cand WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "knn_mips" ->
      s"""WITH $mipsCtes,
         |$mipsExactCte
         |SELECT qid, rank, neighbor FROM mex ORDER BY qid, rank""".stripMargin,
    "knn_mips_ivf" ->
      s"""WITH $mipsCtes,
         |$mipsIvfCtes
         |SELECT qid, rank, neighbor FROM mappr ORDER BY qid, rank""".stripMargin,
    "knn_mips_recall" ->
      s"""WITH $mipsCtes,
         |$mipsExactCte,
         |$mipsIvfCtes,
         |mh AS (
         |  SELECT x.qid, count(*) AS hits FROM mex x
         |  JOIN mappr a ON a.qid = x.qid AND a.neighbor = x.neighbor
         |  GROUP BY x.qid)
         |SELECT e.vec_id AS qid, coalesce(mh.hits, 0) AS hits
         |FROM embeddings e LEFT JOIN mh ON mh.qid = e.vec_id
         |WHERE e.vec_id < 20 ORDER BY qid""".stripMargin,
    "text_bigrams" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bi AS (
         |  SELECT unnest(list_transform(range(len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
         |  FROM t WHERE len(toks) >= 2)
         |SELECT bigram, count(*) AS n FROM bi GROUP BY bigram
         |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id,
        |  to_base64(encode(substring(text, 1, 8))) AS f0,
        |  to_base64(encode(substring(text, 1 + length(text) // 4, 8))) AS f1,
        |  to_base64(encode(substring(text, 1 + length(text) // 2, 8))) AS f2,
        |  to_base64(encode(substring(text, 1 + 3 * (length(text) // 4), 8))) AS f3
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(trim(text), '\S+')) AS ws_tokens,
        |  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS word_tokens,
        |  len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+')) AS bpe_tokens,
        |  length(text) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-char quantized entropy terms summed as exact integers — the
    // LangModel discipline, so no float-order drift between engines
    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, c FROM (
        |    SELECT doc_id, unnest(list_transform(range(length(text)),
        |      i -> substr(text, CAST(i + 1 AS INT), 1))) AS c
        |    FROM documents)
        |  WHERE c <> ''),
        |cf AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
        |wn AS (SELECT doc_id, cnt,
        |  sum(cnt) OVER (PARTITION BY doc_id) AS n FROM cf),
        |sc AS (
        |  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
        |    CAST(sum(cnt * CAST(floor(ln(CAST(n AS DOUBLE) / cnt) * 1000000.0)
        |      AS BIGINT)) AS BIGINT) AS ent_q
        |  FROM wn GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(sc.n_chars, 0) AS n_chars,
        |  coalesce(sc.ent_q, 0) AS ent_q
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  len(toks) AS n_words,
         |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |    / greatest(length(text), 1) AS alpha_ratio,
         |  CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
         |    / greatest(len(toks), 1) AS stopword_ratio
         |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id,
         |  CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
         |    WHEN s_de THEN 'de'
         |    WHEN s_en THEN 'en'
         |    WHEN s_es THEN 'es'
         |    WHEN s_fr THEN 'fr'
         |    ELSE 'zh' END AS pred_lang
         |FROM (
         |  SELECT doc_id,
         |    len(list_filter(toks, t -> t IN ('der','die','und','das'))) AS s_de,
         |    len(list_filter(toks, t -> t IN ('the','a','and','of'))) AS s_en,
         |    len(list_filter(toks, t -> t IN ('el','la','los','de'))) AS s_es,
         |    len(list_filter(toks, t -> t IN ('le','la','et','les'))) AS s_fr,
         |    len(list_filter(toks, t -> t IN ('de','shi','le','wo'))) AS s_zh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
         |  CASE WHEN len(hs) = 0 THEN NULL
         |       ELSE list_reduce(hs, (acc, h) -> (acc * 1000003 + h) % 2147483647)
         |  END AS rolling_hash
         |FROM (SELECT doc_id, text,
         |        list_transform($toksSql,
         |          t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 2147483647) AS hs
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "mm_binary_stats" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_hash,
        |  to_base64(encode(substring(text, 1, 8))) AS frame0
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_audio_energy" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(range(length(text)), i -> CAST(ord(text[i + 1]) AS BIGINT)) AS vs
        |  FROM documents WHERE length(text) >= 32)
        |SELECT doc_id, i AS window_idx,
        |  CAST(list_sum(list_transform(list_slice(vs, i * 32 + 1, i * 32 + 32), x -> x * x)) AS BIGINT) AS energy
        |FROM (SELECT doc_id, vs,
        |        unnest(range(CAST(len(vs) // 32 AS BIGINT))) AS i
        |      FROM t)
        |ORDER BY doc_id, window_idx""".stripMargin,
    "knn_lsh" ->
      """WITH sg AS (
        |  SELECT vec_id, embedding,
        |    list_transform(range(16), i ->
        |      CASE WHEN list_sum(list_transform(range(64), j ->
        |          CAST(round(CAST(embedding[j + 1] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |          ((CAST('0x' || substr(md5(i || '_' || (j + 1)), 1, 15) AS BIGINT) % 2001) - 1000))
        |        ) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
        |  FROM embeddings),
        |sig AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(range(8), i -> bits[i + 1] << i)) AS sig1,
        |    list_sum(list_transform(range(8), i -> bits[i + 9] << i)) AS sig2
        |  FROM sg),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, q.embedding AS qv,
        |         e.vec_id AS neighbor, e.embedding AS ev
        |  FROM sig q JOIN sig e
        |    ON (q.sig1 = e.sig1 OR q.sig2 = e.sig2) AND e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20)
        |SELECT qid, rank, neighbor FROM (
        |  SELECT qid, neighbor,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY list_cosine_similarity(qv, ev) DESC, neighbor ASC) AS rank
        |  FROM cand)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "text_pii_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  length(regexp_replace(
        |    regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrubbed_len
        |FROM (SELECT doc_id,
        |        text || ' contact user' || doc_id || '@example.com from 10.0.' ||
        |        (doc_id % 256) || '.1 end' AS raw
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_domains" ->
      """SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT doc_id, unnest(list_distinct(
        |    regexp_extract_all(lower(raw), 'https?://([a-z0-9.-]+)', 1))) AS domain
        |  FROM (SELECT doc_id,
        |          text || ' see https://site' || (doc_id % 7) || '.example.com/p/' ||
        |          doc_id || ' and http://cdn.assets-' || (doc_id % 3) || '.net/x' AS raw
        |        FROM documents))
        |GROUP BY domain ORDER BY domain""".stripMargin,
    // scene cuts: per-frame pHash restated from ord/substr arithmetic
    // (absolute sample position = 1 + f*flen + (flen*i)//16), cuts by
    // bit_count(xor) on consecutive frames
    "mm_scene_cuts" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) // 8 AS flen
        |  FROM documents WHERE length(text) >= 128),
        |fr AS (
        |  SELECT doc_id, f,
        |    list_transform(range(16),
        |      i -> ord(substr(text, CAST(1 + f * flen + (flen * i) // 16 AS INT), 1))) AS samples
        |  FROM d, (SELECT unnest(range(8)) AS f)),
        |ph AS (
        |  SELECT doc_id, f,
        |    CAST(list_sum(list_transform(range(16),
        |      i -> CASE WHEN samples[i + 1] > list_sum(samples) // 16
        |           THEN CAST(1 AS BIGINT) << CAST(i AS INT)
        |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
        |  FROM fr),
        |cuts AS (
        |  SELECT a.doc_id,
        |    CAST(sum(CASE WHEN bit_count(xor(a.phash, b.phash)) >= 8
        |      THEN CAST(1 AS BIGINT) << CAST(a.f AS INT)
        |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS cut_mask
        |  FROM ph a JOIN ph b ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  GROUP BY a.doc_id)
        |SELECT d.doc_id, CAST(8 AS BIGINT) AS n_frames,
        |  CAST(bit_count(CAST(cut_mask AS BIGINT)) AS BIGINT) AS n_cuts, cut_mask
        |FROM d JOIN cuts ON cuts.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "mm_phash_buckets" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_transform(range(16),
        |      i -> ord(substr(text, CAST(1 + (length(text) * i) // 16 AS INT), 1))) AS samples
        |  FROM documents WHERE length(text) >= 16),
        |p AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(16),
        |      i -> CASE WHEN samples[i + 1] > list_sum(samples) // 16
        |                THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
        |  FROM s)
        |SELECT phash, count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM p GROUP BY phash HAVING count(*) >= 2 ORDER BY phash""".stripMargin
  )
}
