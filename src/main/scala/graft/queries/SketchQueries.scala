package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.table
import graft.functions.TextFunctions.tokenizeDefault
import graft.ops.Sketch

/** The sketch tier: approximate distinct counting and frequency estimation
  * whose state is constant-size and mergeable — what a 100 TB datasheet
  * pass actually runs when exact `COUNT(DISTINCT)` (a full shuffle of every
  * key) and exact frequency tables (vocabulary-sized state) stop being
  * affordable per split. Every gate REPORTS the sketch error against
  * the exact answer on the same fixture — measured, not assumed, in the
  * same spirit as the dedup/ANN recall gates.
  *
  * Determinism: registers and counters derive from [[graft.ops.Hashing.h64]]
  * md5 prefixes and pure integer arithmetic (see [[graft.ops.Sketch]]), so
  * the DuckDB oracles reproduce every register, counter, and estimate
  * bit-for-bit — unlike the engine-private layouts behind
  * `approx_count_distinct`.
  */
object SketchQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic HyperLogLog distinct-order estimate per lineitem return
    * flag plus a merged `__all__` row — the merge is `max(m)` over the
    * SAME per-group register tables (the sketch property: partial sketches
    * combine without revisiting rows). Output reports the raw estimate,
    * the exact distinct count, and the error in ppm. At sf0.01 the groups
    * hold ~11k distinct orders against m=256 registers (standard error
    * 1.04/√256 ≈ 6.5%). Scale shape: one `(grp, bucket)` max-aggregate
    * shuffling ≤ groups×256 rows; the exact tier alongside it is the
    * expensive truth baseline the sketch replaces at scale. */
  val sketch_hll: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val keyed = li.select(col("l_returnflag").as("grp"),
      col("l_orderkey").cast("string").as("k"))
    val regs = Sketch.hllRegisters(keyed, col("grp"), col("k"))
      .localCheckpoint(eager = false) // two consumers: per-group + merged
    val merged = regs.groupBy(col("bucket")).agg(max(col("m")).as("m"))
      .select(lit("__all__").as("grp"), col("bucket"), col("m"))
    val est = Sketch.hllEstimate(regs.unionByName(merged))
    // r21 NEGATIVE RESULT (kept as the old form on measurement): fusing
    // the two exact passes into one orderkey-keyed
    // groupBy(...).agg(collect_set(flag)) pass measured wall ×1.50 /
    // cpu ×1.24 in the paired probe (ProbeR21 "hll-fused-exact") —
    // collect_set forces ObjectHashAggregate out of whole-stage codegen,
    // and the snapshot barrier serializes passes the scheduler otherwise
    // overlaps (the same lesson as r20's rejected kmv shared-distinct).
    // The two countDistinct passes below stay codegen'd end to end.
    val exact = li.groupBy(col("l_returnflag").as("grp"))
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
      .unionByName(li.agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
        .select(lit("__all__").as("grp"), col("exact_distinct")))
    est.join(exact, "grp")
      .select(col("grp"), col("v_empty"), col("est_distinct"),
        col("exact_distinct"),
        expr("CAST(abs(est_distinct - exact_distinct) * 1000000" +
          " DIV exact_distinct AS BIGINT)").as("err_ppm"))
      .orderBy(col("grp"))
  }

  /** Event-time windowed HLL: distinct event ids per ISO week of the
    * events stream, plus the `__all__` roll-up — the datasheet shape
    * where per-window partial sketches max-merge into the period total
    * without revisiting events (exactly what the streaming foreachBatch
    * form in StreamingAggSpec maintains incrementally). Weekly, not
    * daily, windows: ~2.3k ids/week keeps the RAW estimate in its valid
    * regime (n > 2.5m = 640); below that the reported `v_empty` feeds
    * linear counting consumer-side (see [[graft.ops.Sketch]]). */
  val sketch_hll_window: Q = (s, dir) => {
    val ev = graft.Graft.events(s, dir)
    val keyed = ev.select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("grp"),
      col("event_id").cast("string").as("k"))
    val regs = Sketch.hllRegisters(keyed, col("grp"), col("k"))
      .localCheckpoint(eager = false) // two consumers: per-week + roll-up
    val merged = regs.groupBy(col("bucket")).agg(max(col("m")).as("m"))
      .select(lit("__all__").as("grp"), col("bucket"), col("m"))
    val est = Sketch.hllEstimate(regs.unionByName(merged))
    // r21 NEGATIVE RESULT: the event_id-keyed collect_set fusion of the
    // two exact passes measured wall ×1.14 for cpu ×0.93 (ProbeR21
    // "hllwin-fused-exact") — same ObjectHashAggregate + barrier
    // mechanics as [[sketch_hll]]'s rejected variant; kept as-is.
    val exact = ev
      .groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("grp"))
      .agg(countDistinct(col("event_id")).as("exact_distinct"))
      .unionByName(ev.agg(countDistinct(col("event_id")).as("exact_distinct"))
        .select(lit("__all__").as("grp"), col("exact_distinct")))
    est.join(exact, "grp")
      .select(col("grp"), col("v_empty"), col("est_distinct"),
        col("exact_distinct"),
        expr("CAST(abs(est_distinct - exact_distinct) * 1000000" +
          " DIV exact_distinct AS BIGINT)").as("err_ppm"))
      .orderBy(col("grp"))
  }

  /** Small-range-corrected HLL ([[graft.ops.Sketch.hllEstimateCorrected]])
    * on the two regimes one gate text exercises at BOTH scales: weekly
    * distinct USERS (150/week at sf0.01 → deep linear-counting regime;
    * 1,500/week at sf0.1 → raw regime, so the 10× re-gate flips the
    * chooser's branch) and global distinct event TYPES (5 — the sparse
    * extreme where the raw estimate collapses and linear counting is
    * near-exact). The `regime` column pins WHICH branch served each
    * group; err_ppm measures the correction against the exact tier —
    * closing r10's "correction is consumer-side" gap with the quantized
    * one-`ln` form the verdict prescribed. */
  val sketch_hll_lc: Q = (s, dir) => {
    val ev = graft.Graft.events(s, dir)
    val keyed = ev.select(
        concat(lit("users:"),
          date_format(date_trunc("week", col("ts")), "yyyy-MM-dd")).as("grp"),
        col("user_id").cast("string").as("k"))
      .unionByName(ev.select(lit("types:all").as("grp"),
        col("event_type").as("k")))
    val est = Sketch.hllEstimateCorrected(
      Sketch.hllRegisters(keyed, col("grp"), col("k")))
    val exact = keyed.groupBy(col("grp"))
      .agg(countDistinct(col("k")).as("exact_distinct"))
    est.join(exact, "grp")
      .select(col("grp"), col("v_empty"), col("est_raw"), col("regime"),
        col("est_distinct"), col("exact_distinct"),
        expr("CAST(abs(est_distinct - exact_distinct) * 1000000" +
          " DIV exact_distinct AS BIGINT)").as("err_ppm"))
      .orderBy(col("grp"))
  }

  private val CmsDepth = 4
  private val CmsWidth = 256

  /** Count-min heavy hitters over document token bigrams (916 distinct
    * keys at sf0.01 into a 4×256 grid — ~3.6 keys/cell, so collisions are
    * real and the min-over-salts correction is exercised): build the
    * constant-size counter grid, point-query it for the top-20 true
    * bigrams, and report estimated vs exact counts with the overcount
    * (CMS never undercounts). Scale shape: the bigram build is a map-only
    * HOF transform; the grid aggregate shuffles ≤ depth×width rows after
    * map-side partials regardless of corpus size; the exact tf table here
    * is the truth baseline the sketch replaces at scale. */
  val sketch_cms_topk: Q = (s, dir) => {
    val bg = table(s, dir, "documents")
      .select(tokenizeDefault(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"))
        .as("bg"))
    // tf feeds three consumers (grid, top-k, truth join) → snapshot once,
    // per the module self-join rule.
    val tf = bg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val counters = Sketch.cmsCounters(tf, col("bg"), col("cnt"),
      CmsDepth, CmsWidth)
    val top = tf.orderBy(col("cnt").desc, col("bg")).limit(20)
    val est = Sketch.cmsEstimate(counters, top, col("bg"), CmsDepth, CmsWidth)
    top.join(est, top("bg") === est("k"))
      .select(col("bg").as("key"), col("cnt").as("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("cnt")).as("overcount"))
      .orderBy(col("true_cnt").desc, col("key"))
  }

  /** [[sketch_cms_topk]] with the width derived from a one-scalar corpus
    * census ([[graft.ops.Sketch.cmsAutoWidth]]): w = first power of two
    * past totalMass/64, so the ε·N overcount bound is a fixed ABSOLUTE
    * budget (~e·64) at every scale instead of growing with corpus mass
    * (the r10 fixed-width measurement: +140 → +1,145 overcount across
    * 10×). One integer census (total bigram occurrences — exact in both
    * engines) picks the layout; the same census value is reported as
    * `n_total` with the chosen `width` so the gate pins the sizing rule
    * itself, not just the estimates. The census is a 1-row driver pull,
    * the module's bounded-model-pull convention. */
  val sketch_cms_auto: Q = (s, dir) => {
    val bg = table(s, dir, "documents")
      .select(tokenizeDefault(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"))
        .as("bg"))
    val tf = bg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    // coalesce: a corpus with no bigrams (every doc < 2 tokens) must give
    // census 0 — cmsAutoWidth's floor handles it — not a null-at-index-0
    // throw while the DuckDB twin degrades to NULL width (r11 advice)
    val total = tf.agg(coalesce(sum(col("cnt")), lit(0L)).cast("long"))
      .first().getLong(0)
    val width = Sketch.cmsAutoWidth(total)
    val counters = Sketch.cmsCounters(tf, col("bg"), col("cnt"),
      CmsDepth, width)
    val top = tf.orderBy(col("cnt").desc, col("bg")).limit(20)
    val est = Sketch.cmsEstimate(counters, top, col("bg"), CmsDepth, width)
    top.join(est, top("bg") === est("k"))
      .select(col("bg").as("key"), col("cnt").as("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("cnt")).as("overcount"),
        lit(width.toLong).as("width"), lit(total).as("n_total"))
      .orderBy(col("true_cnt").desc, col("key"))
  }

  /** Heavy-hitter tier — the middle point of the CMS sizing trilogy.
    * `sketch_cms_topk` is constant-memory but its error grows with corpus
    * mass (ε·N); `sketch_cms_auto` pins absolute error but its grid grows
    * with mass (w ∝ N/64). Here the width comes from the HEAVY-HITTER
    * CONTRACT itself: to report keys with frequency ≥ φ·N while
    * overcounting reported keys by at most φ·N/depth in expectation, a
    * grid of w = depth/φ cells per row suffices — CONSTANT memory (w
    * depends only on φ, never on N) AND a fixed RELATIVE guarantee
    * (overcount/threshold ≤ 1/depth), the Cormode–Muthukrishnan
    * heavy-hitter recipe. φ = 1/256 → w = 4·256 = 1024 at EVERY scale;
    * the reported set is `est ≥ φ·N` (CMS never undercounts ⇒ every true
    * heavy hitter is reported; false positives carry `is_true_hh = false`
    * and their overcount is the measured bound check). One integer census
    * pass supplies N; everything downstream is the shared counter/probe
    * machinery. UNIGRAM tokens, not bigrams: the fixture's token
    * distribution has a stable ~30-stopword head clearing φ·N at every
    * scale (the bigram distribution is flat — nothing reaches 1/256 even
    * at sf0.1), so the 10× re-gate exercises the SAME contract on a
    * corpus whose mass grew 10× under an unchanged grid. Measured: 30
    * heavy hitters at BOTH scales, max overcount 0 ≤ bound 26 (sf0.01,
    * N=27,165) and 0 ≤ 264 (sf0.1, N=270,704), zero false positives —
    * the head is separated enough that min-over-4-salts absorbs every
    * collision. Scale shape:
    * grid aggregate ≤ depth×1024 rows after map-side partials; the
    * vocabulary-sized probe join is tf-keyed against a broadcastable
    * grid. */
  private val HhPhiInv = 256
  private val HhWidth = CmsDepth * HhPhiInv // 1024 — constant across scales

  val sketch_cms_hh: Q = (s, dir) => {
    val bg = table(s, dir, "documents")
      .select(explode(tokenizeDefault(col("text"))).as("bg"))
    val tf = bg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false) // three consumers: census, grid, truth
    val total = tf.agg(coalesce(sum(col("cnt")), lit(0L)).cast("long"))
      .first().getLong(0)
    val thresh = total / HhPhiInv          // φ·N — the reporting contract
    val bound = total / (HhPhiInv.toLong * CmsDepth) // φ·N/4 — expected overcount cap
    val counters = Sketch.cmsCounters(tf, col("bg"), col("cnt"),
      CmsDepth, HhWidth)
    val est = Sketch.cmsEstimate(counters, tf, col("bg"), CmsDepth, HhWidth)
    est.where(col("est_cnt") >= thresh)
      .join(tf, col("k") === col("bg"))
      .select(col("k").as("key"), col("cnt").as("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("cnt")).as("overcount"),
        (col("cnt") >= thresh).as("is_true_hh"),
        lit(thresh).as("thresh"), lit(bound).as("overcount_bound"),
        lit(HhWidth.toLong).as("width"))
      .orderBy(col("true_cnt").desc, col("key"))
  }

  /** HDR-histogram p50/p90/p99 of document text length per source, plus
    * the `__all__` roll-up built by SUM-MERGING the per-source bucket
    * grids (the sketch property, demonstrated in the gated query exactly
    * as [[sketch_hll]] max-merges registers). Completes the sketch trio:
    * HLL answers "how many distinct", CMS "how often", HDR "how is it
    * distributed" — the three columns of a corpus datasheet. The exact
    * order statistic rides alongside as the truth tier and `err_ppm`
    * prices the midpoint estimate; SketchSpec pins the 1/(2·16) relative
    * bound and merge associativity. Scale shape: one (grp, bucket) count
    * aggregate, ≤ groups × 1025 rows shuffled; the cumulative window and
    * probe join ride that bounded grid, never the corpus. */
  val sketch_quantile_hdr: Q = (s, dir) => {
    val raw = table(s, dir, "documents")
      .select(col("source").as("grp"),
        length(col("text")).cast("long").as("v"))
      .localCheckpoint(eager = false) // two consumers: buckets + exact tier
    val bk = Sketch.hdrBuckets(raw, col("grp"), col("v"))
      .localCheckpoint(eager = false) // two consumers: per-group + merged
    val merged = bk.groupBy(col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .select(lit("__all__").as("grp"), col("bucket"), col("cnt"))
    val qs = Seq(50, 90, 99)
    val est = Sketch.hdrQuantiles(bk.unionByName(merged), qs)
    val rawall = raw.unionByName(
      raw.select(lit("__all__").as("grp"), col("v")))
    // r21 (guide §3.3/§2.4): the exact order statistic used to come from
    // joining the 21-row est table to the CORPUS-sized ranked table on the
    // low-cardinality grp — a SortMergeJoin that materialized 3 rows per
    // corpus row (one per quantile) before the rn = r filter could run.
    // The target ranks are computable INSIDE the same grp-keyed window
    // pass: n rides along as count(v) over grp, each row checks itself
    // against the three rank targets, and only the ≤ 3·groups surviving
    // rows ever reach a join — est ⋈ exact is now tiny ⋈ tiny. NULL v
    // rows are dropped BEFORE the window, as hdrBuckets drops them:
    // row_number ranks NULLs first, so a kept NULL would shift every
    // rank against the non-null n.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val rk = rawall.where(col("v").isNotNull)
      .withColumn("rn", row_number().over(wg.orderBy(col("v"))))
      .withColumn("nn", count(col("v")).over(wg))
    val isTarget = qs.map(q => col("rn") === expr(s"($q * nn + 99) DIV 100"))
      .reduce(_ || _)
    val exact = rk.where(isTarget)
      .select(col("grp"), col("v"), col("rn"), col("nn"),
        explode(array(qs.map(lit): _*)).as("q"))
      .where(col("rn") === expr("(q * nn + 99) DIV 100"))
      .select(col("grp"), col("q"), col("v").as("exact_v"))
    est.join(exact, Seq("grp", "q"))
      .select(col("grp"), col("q"), col("n"), col("bucket"), col("est"),
        col("exact_v"),
        expr("CASE WHEN exact_v > 0 THEN abs(est - exact_v) * 1000000" +
          " DIV exact_v ELSE 0 END").as("err_ppm"))
      .orderBy(col("grp"), col("q"))
  }

  private val KmvK = 256

  /** KMV (bottom-k / theta) set-operation report over lineitem orderkeys
    * keyed by return flag — the question HLL structurally cannot answer:
    * how many orders have BOTH an 'A' and an 'N' lineitem (each flag
    * sees ~11k distinct orders, the true A∩N is ~8.1k — a real partial
    * overlap). Rows: per-flag distinct estimates, the A∪N union built by
    * [[graft.ops.Sketch.kmvMerge]] (closure under union), and the A∩N
    * theta-trick intersection — every estimate priced against the exact
    * answer in err_ppm. Deterministic bottom-k of md5 hashes: the oracle
    * reproduces every retained hash, so the gate pins estimates exactly.
    * Scale shape: the distinct shuffle is the same price exact COUNT
    * DISTINCT pays; everything after rides ≤ groups × 256 rows. */
  val sketch_kmv_setops: Q = (s, dir) => {
    // r20 optimization (guide §2.4): the corpus-wide passes over lineitem
    // drop from five (sketch distinct, per-flag countDistinct, union
    // countDistinct, two intersection distincts + their join) to THREE
    // independent ones — the sketch's own distinct, the per-flag exact
    // aggregate, and ONE orderkey-keyed pass (`exBoth`) answering union
    // AND intersection together. The three stay independent branches of
    // one lazy snapshot rather than children of a shared distinct: a
    // shared-distinct form was built and paired-A/B'd (ProbeR20
    // "kmv-shared-distinct") — its checkpoint barrier serializes work the
    // scheduler otherwise overlaps, costing 1.27× wall locally for flat
    // cpu; at cluster scale the shared distinct wins on shuffled bytes
    // and the trade is documented here rather than hard-coded.
    val li = table(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        col("l_orderkey").cast("string").as("k"), col("l_orderkey"))
      .localCheckpoint(eager = false) // consumed by sketch + exact tiers
    val sk = Sketch.kmvSketch(li, col("grp"), col("k"), KmvK)
      .localCheckpoint(eager = false) // per-flag est + union + intersection
    val perFlag = Sketch.kmvEstimate(sk, KmvK)
      .select(concat(lit("distinct:"), col("grp")).as("op"),
        col("est_distinct").as("est"))
    val a = sk.where(col("grp") === "A")
    val n = sk.where(col("grp") === "N")
    // The A∪N bottom-k is built ONCE and feeds both the union estimate
    // and the theta-trick intersection (r20: kmvIntersect internally
    // re-merged the same two sketches — the estimate is a pure function
    // of the retained hashes, so grp naming aside the two merges were
    // identical work; one more §2.4 duplicate-pass removal). sk rows are
    // distinct (grp, h) by construction, so the per-side match probes
    // need no re-distinct.
    val u = Sketch.kmvMerge(a.unionByName(n), "A+N", KmvK)
      .localCheckpoint(eager = false) // union est + theta threshold + match
    val unionEst = Sketch.kmvEstimate(u, KmvK)
      .select(lit("union:A+N").as("op"), col("est_distinct").as("est"))
    val uEst = Sketch.kmvEstimate(u, KmvK)
      .select(col("est_distinct").as("est_union"))
    val kept = u.agg(count(lit(1)).cast("long").as("k_kept"))
    val matched = u.join(a.select(col("h")), "h")
      .join(n.select(col("h")), "h")
      .agg(count(lit(1)).cast("long").as("matched"))
    val interEst = uEst.crossJoin(kept).crossJoin(matched)
      .select(lit("inter:A*N").as("op"),
        expr("CASE WHEN k_kept > 0 THEN (matched * est_union) DIV k_kept" +
          " ELSE CAST(0 AS BIGINT) END").as("est"))
    val ests = perFlag.unionByName(unionEst).unionByName(interEst)
    val exFlag = li.groupBy(col("grp"))
      .agg(countDistinct(col("l_orderkey")).as("exact"))
      .select(concat(lit("distinct:"), col("grp")).as("op"), col("exact"))
    // Union AND intersection exact tiers from ONE orderkey-keyed pass
    // (r20: previously union paid its own distinct+count and the
    // intersection two more distincts and a join — 4 corpus-key
    // exchanges; one groupBy carrying two boolean maxes answers both).
    // r21 (advice): isNotNull restates countDistinct's NULL-key skip and
    // coalesce restates its empty-input 0 — the fused form is now exactly
    // the old countDistinct/join semantics on ARBITRARY data, not just on
    // TPC-H's non-null keys.
    val exBoth = li.where(col("grp").isin("A", "N") &&
        col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(max(col("grp") === "A").as("hasA"), max(col("grp") === "N").as("hasN"))
      .agg(count(lit(1)).as("n_union"),
        coalesce(sum(when(col("hasA") && col("hasN"), 1L).otherwise(0L)),
          lit(0L)).as("n_inter"))
      .localCheckpoint(eager = false) // read by both exact rows below
    val exUnion = exBoth
      .select(lit("union:A+N").as("op"), col("n_union").as("exact"))
    val exInter = exBoth
      .select(lit("inter:A*N").as("op"), col("n_inter").as("exact"))
    val exacts = exFlag.unionByName(exUnion).unionByName(exInter)
    ests.join(exacts, "op")
      .select(col("op"), col("est"), col("exact"),
        expr("CAST(abs(est - exact) * 1000000 DIV exact AS BIGINT)")
          .as("err_ppm"))
      .orderBy(col("op"))
  }

  /** The corpus DATASHEET: one row per source assembling all three
    * sketch columns — docs (exact count), vocabulary (HLL distinct
    * tokens, linear-counting corrected, priced against exact), and the
    * length distribution (HDR p50/p90/p99) — the per-source summary a
    * 100 TB curation run publishes next to its shards. Each column is
    * an already-gated tier ([[sketch_hll_lc]], [[sketch_quantile_hdr]])
    * composed here end-to-end; the composition is what a datasheet job
    * actually ships, so it gates as one unit.
    * Scale shape: one token pass (register tables ≤ sources × 256) and
    * one length pass (grids ≤ sources × 1025); the exact-vocab tier
    * alongside is the truth baseline the HLL column replaces at scale. */
  val sketch_datasheet: Q = (s, dir) => {
    val docs = table(s, dir, "documents")
      .select(col("source").as("grp"), col("text"))
      .localCheckpoint(eager = false) // token pass + length pass + count
    val toks = docs
      .select(col("grp"), explode(tokenizeDefault(col("text"))).as("tok"))
      .localCheckpoint(eager = false) // registers + exact tier
    val vocab = Sketch.hllEstimateCorrected(
        Sketch.hllRegisters(toks, col("grp"), col("tok")))
      .select(col("grp"), col("est_distinct").as("est_vocab"),
        col("regime"))
    val exactVocab = toks.groupBy(col("grp"))
      .agg(countDistinct(col("tok")).as("exact_vocab"))
    val qs = Sketch.hdrQuantiles(
      Sketch.hdrBuckets(
        docs.select(col("grp"), length(col("text")).cast("long").as("v")),
        col("grp"), col("v")),
      Seq(50, 90, 99))
    val lens = qs.groupBy(col("grp")).agg(
      max(when(col("q") === 50, col("est"))).as("p50_len"),
      max(when(col("q") === 90, col("est"))).as("p90_len"),
      max(when(col("q") === 99, col("est"))).as("p99_len"))
    val nd = docs.groupBy(col("grp")).agg(count(lit(1)).as("n_docs"))
    nd.join(vocab, "grp").join(exactVocab, "grp").join(lens, "grp")
      .select(col("grp"), col("n_docs"), col("est_vocab"),
        col("exact_vocab"), col("regime"),
        expr("CAST(abs(est_vocab - exact_vocab) * 1000000" +
          " DIV exact_vocab AS BIGINT)").as("vocab_err_ppm"),
        col("p50_len"), col("p90_len"), col("p99_len"))
      .orderBy(col("grp"))
  }

  val all: Map[String, Q] = Map(
    "sketch_hll" -> sketch_hll,
    "sketch_hll_window" -> sketch_hll_window,
    "sketch_hll_lc" -> sketch_hll_lc,
    "sketch_cms_topk" -> sketch_cms_topk,
    "sketch_cms_auto" -> sketch_cms_auto,
    "sketch_cms_hh" -> sketch_cms_hh,
    "sketch_quantile_hdr" -> sketch_quantile_hdr,
    "sketch_kmv_setops" -> sketch_kmv_setops,
    "sketch_datasheet" -> sketch_datasheet
  )

  private val hllNumerSql = Sketch.HllNumerator.toString

  val oracles: Map[String, String] = Map(
    "sketch_hll" ->
      s"""WITH k AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM lineitem),
         |b AS (SELECT grp, h // 4503599627370496 AS bucket,
         |             h % 4503599627370496 AS r FROM k),
         |regs AS (
         |  SELECT grp, bucket,
         |    max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END) AS m
         |  FROM b GROUP BY grp, bucket),
         |allregs AS (
         |  SELECT grp, bucket, m FROM regs
         |  UNION ALL
         |  SELECT '__all__' AS grp, bucket, max(m) AS m FROM regs GROUP BY bucket),
         |est AS (
         |  SELECT grp, 256 - count(*) AS v_empty,
         |    CAST(floor($hllNumerSql / CAST(
         |      (256 - count(*)) * 9007199254740992 +
         |      CAST(sum(1::BIGINT << CAST(53 - m AS INT)) AS BIGINT)
         |    AS DOUBLE)) AS BIGINT) AS est_distinct
         |  FROM allregs GROUP BY grp),
         |ex AS (
         |  SELECT l_returnflag AS grp, count(DISTINCT l_orderkey) AS exact_distinct
         |  FROM lineitem GROUP BY 1
         |  UNION ALL
         |  SELECT '__all__', count(DISTINCT l_orderkey) FROM lineitem)
         |SELECT est.grp, v_empty, est_distinct, exact_distinct,
         |  CAST(abs(est_distinct - exact_distinct) * 1000000 // exact_distinct
         |    AS BIGINT) AS err_ppm
         |FROM est JOIN ex ON est.grp = ex.grp
         |ORDER BY est.grp""".stripMargin,
    "sketch_hll_window" ->
      s"""WITH k AS (
         |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS grp,
         |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events),
         |b AS (SELECT grp, h // 4503599627370496 AS bucket,
         |             h % 4503599627370496 AS r FROM k),
         |regs AS (
         |  SELECT grp, bucket,
         |    max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END) AS m
         |  FROM b GROUP BY grp, bucket),
         |allregs AS (
         |  SELECT grp, bucket, m FROM regs
         |  UNION ALL
         |  SELECT '__all__' AS grp, bucket, max(m) AS m FROM regs GROUP BY bucket),
         |est AS (
         |  SELECT grp, 256 - count(*) AS v_empty,
         |    CAST(floor($hllNumerSql / CAST(
         |      (256 - count(*)) * 9007199254740992 +
         |      CAST(sum(1::BIGINT << CAST(53 - m AS INT)) AS BIGINT)
         |    AS DOUBLE)) AS BIGINT) AS est_distinct
         |  FROM allregs GROUP BY grp),
         |ex AS (
         |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS grp,
         |    count(DISTINCT event_id) AS exact_distinct
         |  FROM events GROUP BY 1
         |  UNION ALL
         |  SELECT '__all__', count(DISTINCT event_id) FROM events)
         |SELECT est.grp, v_empty, est_distinct, exact_distinct,
         |  CAST(abs(est_distinct - exact_distinct) * 1000000 // exact_distinct
         |    AS BIGINT) AS err_ppm
         |FROM est JOIN ex ON est.grp = ex.grp
         |ORDER BY est.grp""".stripMargin,
    "sketch_hll_lc" ->
      s"""WITH k AS (
         |  SELECT 'users:' || strftime(date_trunc('week', ts), '%Y-%m-%d') AS grp,
         |    CAST(user_id AS VARCHAR) AS kk
         |  FROM events
         |  UNION ALL
         |  SELECT 'types:all' AS grp, event_type AS kk FROM events),
         |b AS (
         |  SELECT grp,
         |    h // 4503599627370496 AS bucket, h % 4503599627370496 AS r
         |  FROM (SELECT grp,
         |    CAST(('0x' || substr(md5(kk), 1, 15)) AS BIGINT) AS h FROM k)),
         |regs AS (
         |  SELECT grp, bucket,
         |    max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END) AS m
         |  FROM b GROUP BY grp, bucket),
         |est AS (
         |  SELECT grp, 256 - count(*) AS v_empty,
         |    CAST(floor($hllNumerSql / CAST(
         |      (256 - count(*)) * 9007199254740992 +
         |      CAST(sum(1::BIGINT << CAST(53 - m AS INT)) AS BIGINT)
         |    AS DOUBLE)) AS BIGINT) AS est_raw
         |  FROM regs GROUP BY grp),
         |corr AS (
         |  SELECT grp, v_empty, est_raw,
         |    CASE WHEN v_empty > 0 AND est_raw <= ${Sketch.HllSmallRangeMax} THEN 'lc' ELSE 'raw' END
         |      AS regime,
         |    CASE WHEN v_empty > 0 AND est_raw <= ${Sketch.HllSmallRangeMax}
         |      THEN CAST(floor(256.0 * ln(256.0 / CAST(v_empty AS DOUBLE))) AS BIGINT)
         |      ELSE est_raw END AS est_distinct
         |  FROM est),
         |ex AS (SELECT grp, count(DISTINCT kk) AS exact_distinct FROM k GROUP BY grp)
         |SELECT corr.grp, v_empty, est_raw, regime, est_distinct, exact_distinct,
         |  CAST(abs(est_distinct - exact_distinct) * 1000000 // exact_distinct
         |    AS BIGINT) AS err_ppm
         |FROM corr JOIN ex ON corr.grp = ex.grp
         |ORDER BY corr.grp""".stripMargin,
    "sketch_cms_topk" ->
      s"""WITH t AS (SELECT ${PipelineQueries.toksSql} AS toks FROM documents),
         |tf AS (
         |  SELECT bg, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |    FROM t WHERE len(toks) >= 2) GROUP BY bg),
         |counters AS (
         |  SELECT d,
         |    CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '_' || k), 1, 15)) AS BIGINT)
         |      % 256 AS c,
         |    CAST(sum(cnt) AS BIGINT) AS cell
         |  FROM (SELECT bg AS k, cnt, unnest([0, 1, 2, 3]) AS d FROM tf)
         |  GROUP BY d, c),
         |top AS (SELECT bg, cnt FROM tf ORDER BY cnt DESC, bg LIMIT 20),
         |probes AS (
         |  SELECT bg, d,
         |    CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '_' || bg), 1, 15)) AS BIGINT)
         |      % 256 AS c
         |  FROM (SELECT bg, unnest([0, 1, 2, 3]) AS d FROM top)),
         |est AS (
         |  SELECT bg, min(cell) AS est_cnt
         |  FROM probes JOIN counters USING (d, c) GROUP BY bg)
         |SELECT top.bg AS key, cnt AS true_cnt, est_cnt,
         |  est_cnt - cnt AS overcount
         |FROM top JOIN est ON top.bg = est.bg
         |ORDER BY true_cnt DESC, key""".stripMargin,
    // same chain with the width from the one-scalar census: w = first
    // power of two past total/64 (floored at 256) — `1 << length(bin(t))`
    // ≡ the engine's 2^bitlength(t)
    "sketch_cms_auto" ->
      s"""WITH t AS (SELECT ${PipelineQueries.toksSql} AS toks FROM documents),
         |tf AS (
         |  SELECT bg, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |    FROM t WHERE len(toks) >= 2) GROUP BY bg),
         |wd AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
         |    greatest(1::BIGINT << length(bin(greatest(
         |      CAST(sum(cnt) AS BIGINT) // 64, 1))), 256) AS w
         |  FROM tf),
         |counters AS (
         |  SELECT d,
         |    CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '_' || k), 1, 15)) AS BIGINT)
         |      % (SELECT w FROM wd) AS c,
         |    CAST(sum(cnt) AS BIGINT) AS cell
         |  FROM (SELECT bg AS k, cnt, unnest([0, 1, 2, 3]) AS d FROM tf)
         |  GROUP BY d, c),
         |top AS (SELECT bg, cnt FROM tf ORDER BY cnt DESC, bg LIMIT 20),
         |probes AS (
         |  SELECT bg, d,
         |    CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '_' || bg), 1, 15)) AS BIGINT)
         |      % (SELECT w FROM wd) AS c
         |  FROM (SELECT bg, unnest([0, 1, 2, 3]) AS d FROM top)),
         |est AS (
         |  SELECT bg, min(cell) AS est_cnt
         |  FROM probes JOIN counters USING (d, c) GROUP BY bg)
         |SELECT top.bg AS key, cnt AS true_cnt, est_cnt,
         |  est_cnt - cnt AS overcount,
         |  (SELECT w FROM wd) AS width, (SELECT n_total FROM wd) AS n_total
         |FROM top JOIN est ON top.bg = est.bg
         |ORDER BY true_cnt DESC, key""".stripMargin,
    // heavy-hitter contract width: w = depth/φ = 1024 constant at every
    // scale; report keys whose ESTIMATE clears φ·N (never undercounts ⇒
    // all true heavy hitters present), flag false positives
    "sketch_cms_hh" ->
      s"""WITH t AS (SELECT ${PipelineQueries.toksSql} AS toks FROM documents),
         |tf AS (
         |  SELECT bg, count(*) AS cnt FROM (
         |    SELECT unnest(toks) AS bg FROM t) GROUP BY bg),
         |tot AS (
         |  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) // $HhPhiInv AS thresh,
         |    CAST(coalesce(sum(cnt), 0) AS BIGINT) // ${HhPhiInv * CmsDepth}
         |      AS bound
         |  FROM tf),
         |counters AS (
         |  SELECT d,
         |    CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '_' || k), 1, 15)) AS BIGINT)
         |      % $HhWidth AS c,
         |    CAST(sum(cnt) AS BIGINT) AS cell
         |  FROM (SELECT bg AS k, cnt, unnest([0, 1, 2, 3]) AS d FROM tf)
         |  GROUP BY d, c),
         |probes AS (
         |  SELECT bg, d,
         |    CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '_' || bg), 1, 15)) AS BIGINT)
         |      % $HhWidth AS c
         |  FROM (SELECT bg, unnest([0, 1, 2, 3]) AS d FROM tf)),
         |est AS (
         |  SELECT bg, min(cell) AS est_cnt
         |  FROM probes JOIN counters USING (d, c) GROUP BY bg)
         |SELECT est.bg AS key, cnt AS true_cnt, est_cnt,
         |  est_cnt - cnt AS overcount,
         |  cnt >= (SELECT thresh FROM tot) AS is_true_hh,
         |  (SELECT thresh FROM tot) AS thresh,
         |  (SELECT bound FROM tot) AS overcount_bound,
         |  CAST($HhWidth AS BIGINT) AS width
         |FROM est JOIN tf ON est.bg = tf.bg
         |WHERE est_cnt >= (SELECT thresh FROM tot)
         |ORDER BY true_cnt DESC, key""".stripMargin,
    // HDR-histogram quantiles: octave = bit length (same bin() idiom as
    // the HLL rho), 16 linear sub-buckets, midpoint estimate — every
    // step integer arithmetic both engines reproduce exactly
    "sketch_quantile_hdr" ->
      s"""WITH raw AS (
        |  SELECT source AS grp,
        |    least(CAST(length(text) AS BIGINT), ${Sketch.HdrCap}) AS v
        |  FROM documents WHERE length(text) IS NOT NULL),
        |b AS (
        |  SELECT grp, CASE WHEN v <= 0 THEN 0
        |    ELSE 1 + (length(bin(v)) - 1) * 16 +
        |      ((v - (1::BIGINT << (length(bin(v)) - 1))) * 16)
        |        // (1::BIGINT << (length(bin(v)) - 1))
        |    END AS bucket
        |  FROM raw),
        |bk AS (SELECT grp, bucket, count(*) AS cnt FROM b GROUP BY grp, bucket),
        |allbk AS (
        |  SELECT grp, bucket, cnt FROM bk
        |  UNION ALL
        |  SELECT '__all__', bucket, CAST(sum(cnt) AS BIGINT) FROM bk GROUP BY bucket),
        |cum AS (
        |  SELECT grp, bucket,
        |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS BIGINT) AS cum
        |  FROM allbk),
        |nq AS (
        |  SELECT grp, n, q, (q * n + 99) // 100 AS r
        |  FROM (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM allbk GROUP BY grp)
        |  CROSS JOIN (SELECT unnest([50, 90, 99]) AS q)),
        |pick AS (
        |  SELECT nq.grp, q, n, min(bucket) AS bucket
        |  FROM nq JOIN cum ON cum.grp = nq.grp AND cum.cum >= nq.r
        |  GROUP BY nq.grp, q, n),
        |est AS (
        |  SELECT grp, q, n, bucket,
        |    CASE WHEN bucket = 0 THEN 0 ELSE
        |      ((1::BIGINT << CAST((bucket - 1) // 16 AS INT))
        |         + (((bucket - 1) % 16) * (1::BIGINT << CAST((bucket - 1) // 16 AS INT))) // 16
        |       + (1::BIGINT << CAST((bucket - 1) // 16 AS INT))
        |         + ((((bucket - 1) % 16) + 1) * (1::BIGINT << CAST((bucket - 1) // 16 AS INT))) // 16
        |      ) // 2 END AS est
        |  FROM pick),
        |rawall AS (SELECT grp, v FROM raw UNION ALL SELECT '__all__', v FROM raw),
        |rk AS (
        |  SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
        |  FROM rawall),
        |ex AS (
        |  SELECT nq.grp, nq.q, rk.v AS exact_v
        |  FROM nq JOIN rk ON rk.grp = nq.grp AND rk.rn = nq.r)
        |SELECT est.grp, est.q, est.n, est.bucket, est.est, ex.exact_v,
        |  CASE WHEN ex.exact_v > 0
        |    THEN abs(est.est - ex.exact_v) * 1000000 // ex.exact_v
        |    ELSE 0 END AS err_ppm
        |FROM est JOIN ex ON est.grp = ex.grp AND est.q = ex.q
        |ORDER BY est.grp, est.q""".stripMargin,
    // KMV bottom-k set operations: the retained hashes are a pure
    // function of the key set, so every estimate reproduces exactly;
    // the stretch runs at 2^30 precision (see Sketch.KmvHalfRange)
    "sketch_kmv_setops" ->
      """WITH kh AS (
        |  SELECT DISTINCT l_returnflag AS grp,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM lineitem),
        |sk AS (
        |  SELECT grp, h FROM (
        |    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |    FROM kh)
        |  WHERE rn <= 256),
        |est AS (
        |  SELECT grp, CASE WHEN count(*) < 256 THEN count(*)
        |    ELSE (255::BIGINT * 1073741824) // greatest(max(h) // 1073741824, 1)
        |    END AS est
        |  FROM sk GROUP BY grp),
        |usk AS (
        |  SELECT h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT h FROM sk WHERE grp IN ('A', 'N')))
        |  WHERE rn <= 256),
        |uest AS (
        |  SELECT CASE WHEN count(*) < 256 THEN count(*)
        |    ELSE (255::BIGINT * 1073741824) // greatest(max(h) // 1073741824, 1)
        |    END AS est, count(*) AS kk
        |  FROM usk),
        |m AS (
        |  SELECT count(*) AS matched FROM usk
        |  JOIN (SELECT h FROM sk WHERE grp = 'A') a USING (h)
        |  JOIN (SELECT h FROM sk WHERE grp = 'N') b USING (h)),
        |exf AS (
        |  SELECT l_returnflag AS grp, count(DISTINCT l_orderkey) AS exact
        |  FROM lineitem GROUP BY 1),
        |exu AS (
        |  SELECT count(DISTINCT l_orderkey) AS exact FROM lineitem
        |  WHERE l_returnflag IN ('A', 'N')),
        |exi AS (
        |  SELECT count(*) AS exact FROM
        |    (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'A') a
        |    JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'N') b
        |    USING (l_orderkey)),
        |rep AS (
        |  SELECT 'distinct:' || est.grp AS op, est.est, exf.exact
        |  FROM est JOIN exf ON est.grp = exf.grp
        |  UNION ALL
        |  SELECT 'union:A+N', (SELECT est FROM uest), (SELECT exact FROM exu)
        |  UNION ALL
        |  SELECT 'inter:A*N',
        |    CASE WHEN (SELECT kk FROM uest) > 0
        |      THEN ((SELECT matched FROM m) * (SELECT est FROM uest))
        |        // (SELECT kk FROM uest)
        |      ELSE 0 END,
        |    (SELECT exact FROM exi))
        |SELECT op, CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact,
        |  CAST(abs(est - exact) * 1000000 // exact AS BIGINT) AS err_ppm
        |FROM rep ORDER BY op""".stripMargin,
    // the datasheet composition: the sketch_hll_lc chain per source over
    // tokens + the sketch_quantile_hdr chain per source over lengths +
    // exact tiers, one row per source
    "sketch_datasheet" ->
      s"""WITH dt AS (
         |  SELECT source AS grp, text, ${PipelineQueries.toksSql} AS toks
         |  FROM documents),
         |tk AS (SELECT grp, unnest(toks) AS tok FROM dt),
         |b AS (
         |  SELECT grp, h // 4503599627370496 AS bucket, h % 4503599627370496 AS r
         |  FROM (SELECT grp,
         |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tk)),
         |regs AS (
         |  SELECT grp, bucket,
         |    max(CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END) AS m
         |  FROM b GROUP BY grp, bucket),
         |est AS (
         |  SELECT grp, 256 - count(*) AS v_empty,
         |    CAST(floor($hllNumerSql / CAST(
         |      (256 - count(*)) * 9007199254740992 +
         |      CAST(sum(1::BIGINT << CAST(53 - m AS INT)) AS BIGINT)
         |    AS DOUBLE)) AS BIGINT) AS est_raw
         |  FROM regs GROUP BY grp),
         |corr AS (
         |  SELECT grp,
         |    CASE WHEN v_empty > 0 AND est_raw <= ${Sketch.HllSmallRangeMax} THEN 'lc' ELSE 'raw' END
         |      AS regime,
         |    CASE WHEN v_empty > 0 AND est_raw <= ${Sketch.HllSmallRangeMax}
         |      THEN CAST(floor(256.0 * ln(256.0 / CAST(v_empty AS DOUBLE))) AS BIGINT)
         |      ELSE est_raw END AS est_vocab
         |  FROM est),
         |ex AS (SELECT grp, count(DISTINCT tok) AS exact_vocab FROM tk GROUP BY grp),
         |raw AS (SELECT grp,
         |  least(CAST(length(text) AS BIGINT), ${Sketch.HdrCap}) AS v FROM dt
         |  WHERE length(text) IS NOT NULL),
         |hb AS (
         |  SELECT grp, CASE WHEN v <= 0 THEN 0
         |    ELSE 1 + (length(bin(v)) - 1) * 16 +
         |      ((v - (1::BIGINT << (length(bin(v)) - 1))) * 16)
         |        // (1::BIGINT << (length(bin(v)) - 1))
         |    END AS bucket
         |  FROM raw),
         |bk AS (SELECT grp, bucket, count(*) AS cnt FROM hb GROUP BY grp, bucket),
         |cum AS (
         |  SELECT grp, bucket,
         |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS BIGINT) AS cum
         |  FROM bk),
         |nq AS (
         |  SELECT grp, n, q, (q * n + 99) // 100 AS r
         |  FROM (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM bk GROUP BY grp)
         |  CROSS JOIN (SELECT unnest([50, 90, 99]) AS q)),
         |pick AS (
         |  SELECT nq.grp, q, min(bucket) AS bucket
         |  FROM nq JOIN cum ON cum.grp = nq.grp AND cum.cum >= nq.r
         |  GROUP BY nq.grp, q),
         |qest AS (
         |  SELECT grp, q,
         |    CASE WHEN bucket = 0 THEN 0 ELSE
         |      ((1::BIGINT << CAST((bucket - 1) // 16 AS INT))
         |         + (((bucket - 1) % 16) * (1::BIGINT << CAST((bucket - 1) // 16 AS INT))) // 16
         |       + (1::BIGINT << CAST((bucket - 1) // 16 AS INT))
         |         + ((((bucket - 1) % 16) + 1) * (1::BIGINT << CAST((bucket - 1) // 16 AS INT))) // 16
         |      ) // 2 END AS est
         |  FROM pick),
         |lens AS (
         |  SELECT grp,
         |    max(CASE WHEN q = 50 THEN est END) AS p50_len,
         |    max(CASE WHEN q = 90 THEN est END) AS p90_len,
         |    max(CASE WHEN q = 99 THEN est END) AS p99_len
         |  FROM qest GROUP BY grp),
         |nd AS (SELECT grp, count(*) AS n_docs FROM dt GROUP BY grp)
         |SELECT nd.grp, n_docs, est_vocab, exact_vocab, regime,
         |  abs(est_vocab - exact_vocab) * 1000000 // exact_vocab AS vocab_err_ppm,
         |  p50_len, p90_len, p99_len
         |FROM nd
         |JOIN corr ON corr.grp = nd.grp
         |JOIN ex ON ex.grp = nd.grp
         |JOIN lens ON lens.grp = nd.grp
         |ORDER BY nd.grp""".stripMargin
  )
}
