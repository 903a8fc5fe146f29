package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor operators over (id, embedding)
  * DataFrames — the parameterized library surface behind the oracle-gated
  * examples in [[graft.queries.PipelineQueries]]. All variants return
  * (qid, rank, neighbor) with rank 1..k by exact cosine (ties broken by
  * neighbor id), differing only in how the candidate set is bounded:
  *
  *  - [[brute]]: all pairs — the exact baseline, O(Q×N);
  *  - [[cell]]: same-cell candidates (caller-provided coarse partition);
  *  - [[ivf]]: nearest-centroid cells, nprobe-deep — IVF with a real
  *    (caller-provided, tiny, broadcast) centroid table;
  *  - [[lsh]]: random-hyperplane signatures in `tables` bucket tables —
  *    candidates match any bucket; sign bits are exact integer arithmetic
  *    (md5-derived weights × round(v·10⁶)), engine-portable.
  *
  * Caching: [[lsh]] and [[sq8]] snapshot their signature/quantization
  * tables with a lazy `localCheckpoint` (the bucket joins consume them on
  * both sides). The blocks bypass the session cache and are
  * ContextCleaner-reaped once the result is dropped, so repeated calls do
  * not accumulate cache entries.
  */
object Ann {

  private def cosine(x: Column, y: Column): Column =
    graft.exprs.CosineSimilarity.cosine_similarity(x, y)

  /** The shared rank-and-cut: top-k per query by `order` with the file's
    * tie-break contract (ties by neighbor id) in exactly one place. */
  private def rankCut(cands: DataFrame, order: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(order, col("vid").asc)
    cands
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vid").as("neighbor"))
  }

  private def topK(cands: DataFrame, k: Int): DataFrame =
    rankCut(cands.withColumn("cos", cosine(col("qv"), col("v"))),
      col("cos").desc, k)

  /** queries: (qid, qv); corpus: (vid, v). */
  def brute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topK(queries.crossJoin(corpus).where(col("vid") =!= col("qid")), k)

  /** queries: (qid, qv, cell); corpus: (vid, v, cell). */
  def cell(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topK(queries.join(corpus, "cell").where(col("vid") =!= col("qid")), k)

  /** Nearest-centroid cell assignment — THE shared IVF-family contract
    * ([[ivf]], [[sq8Ivf]], [[kmeansStep]] and the probing side all use
    * exactly this): exact cosine to each centroid, rank by
    * (cosine desc, cid asc), keep ranks <= maxRank. `carry` columns ride
    * along; output is (idCol, carry..., cell). A tie-break or ranking
    * change lands in every operator at once.
    *
    * Two physical forms, identical selections (the −2.0 sentinel in
    * [[graft.exprs.NearestCells]] reproduces `desc_nulls_last` + cid-asc
    * ties bit-for-bit):
    *
    *  - **corpus side (maxRank = 1)** — one MAP-ONLY pass: the tiny
    *    centroid table is collected (k·dim, a model constant — the
    *    kmeans/PQ collect discipline) and shipped as a Spark broadcast
    *    into a tight-loop argmax expression. Zero exchange: the
    *    previous `crossJoin + row_number().over(partitionBy(id))` form
    *    shuffled n×k rows per assignment pass — 10¹⁵ rows at the
    *    n = 10¹⁰, k = √n design point, the r12 verdict's scale-killer.
    *  - **probe side (maxRank > 1)** — the broadcast-join + window
    *    form, where the windowed side is the QUERY set (small) and the
    *    shuffle is queries×k, never corpus-bound. */
  private def cellAssign(vecs: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, maxRank: Int, carry: Seq[String]): DataFrame =
    if (maxRank == 1) {
      val centArr = centroidArray(cents)
      val bc = vecs.sparkSession.sparkContext.broadcast(centArr)
      // window-form parity at the edges: an empty centroid table drops
      // every row (the crossJoin did); a NULL vector still lands in the
      // lowest-cid cell (all-null cosines tied, cid-asc rank 1)
      if (centArr.isEmpty)
        vecs.where(lit(false))
          .select((col(idCol) +: carry.map(col)) :+
            lit(null).cast("long").as("cell"): _*)
      else vecs
        .withColumn("cell", coalesce(
          element_at(
            graft.exprs.NearestCells.nearest_cells(col(vecCol), bc, 1), 1),
          lit(centArr.head._1)))
        .select((col(idCol) +: carry.map(col)) :+ col("cell"): _*)
    } else
      vecs.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine(col(vecCol), col("cv")))
        .withColumn("crn", row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("ccos").desc, col("cid").asc)))
        .where(col("crn") <= maxRank)
        .select((col(idCol) +: carry.map(col)) :+ col("cid").as("cell"): _*)

  /** The (cid, cv) centroid table collected driver-side, ascending by
    * cid — a model constant (k·dim), never a data collect. */
  private def centroidArray(cents: DataFrame): Array[(Long, Array[Float])] =
    cents
      .select(col("cid").cast("long"),
        col("cv").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** centroids: (cid, cv) — tiny, broadcast. Assignment is one narrow
    * pass; each query probes its nprobe nearest cells (the recall/latency
    * knob). At scale the assignment is written once and reused across
    * query batches. queries/corpus: (qid, qv) / (vid, v). */
  def ivf(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val asg = cellAssign(corpus, centroids, "vid", "v", maxRank = 1, carry = Seq("v"))
    val probes = cellAssign(queries, centroids, "qid", "qv", nProbe, carry = Seq("qv"))
    topK(probes.join(asg, "cell").where(col("vid") =!= col("qid")), k)
  }

  // ---- MIPS (maximum-inner-product search) ------------------------------

  /** Top-k per query by EXACT integer inner product over fixed-point
    * vectors — the MIPS analogue of [[rankCut]]'s cosine form. Candidate
    * rows carry (qid, qf, vid, f); ties break by neighbor id. Integer
    * sums are order-independent, so a DuckDB replay is bit-identical. */
  private def ipTopK(cands: DataFrame, k: Int): DataFrame =
    rankCut(cands.withColumn("ipd",
      graft.exprs.Sq8.dot_int(col("qf"), col("f"))), col("ipd").desc, k)

  /** MIPS truth tier: all-pairs exact integer inner product, O(Q×N) —
    * the declared diagnostic baseline ([[brute]]'s standing). Inner
    * product is NOT scale-invariant, so on a corpus with a norm spread
    * this ranking genuinely differs from the cosine tiers (a unit-norm
    * corpus degenerates MIPS to cosine — measured 100/100 shared top-5
    * rows on the raw unit-norm fixture vs 41/100 under a 10× spread).
    * queries: (qid, qf); corpus: (vid, f), both array<bigint>. */
  def mipsBrute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    ipTopK(queries.crossJoin(corpus).where(col("vid") =!= col("qid")), k)

  /** MIPS scale path: IVF over the norm-augmentation reduction (the
    * public Bachrach et al. 2014 / Shrivastava–Li 2014 transform).
    * Augment corpus x → [x, e_x] with e_x = √(M² − ‖x‖²), M = max
    * corpus norm, queries q → [q, 0]: augmented vectors all have norm
    * M, augmented COSINE of (q̂, x̂) = ⟨q,x⟩/(‖q‖·M) — monotone in the
    * inner product — so nearest-centroid IVF machinery applies to MIPS
    * verbatim. Implemented in SCALAR form (never materializing the
    * augmented arrays): assignment score ⟨x,c⟩ + e_x·e_c, probe score
    * ⟨q,c⟩, candidate score ⟨q,x⟩ — every inner product an exact
    * integer ([[graft.exprs.Sq8.dot_int]]), and the only float ops
    * (√, one ·, one +) are single correctly-rounded IEEE operations on
    * exactly-representable integers (< 2⁵³), so the DuckDB oracle is
    * bit-identical with no sum-order caveat.
    *
    * Scale shape: M² is ONE combiner aggregate collected as a scalar
    * (note: a second evaluation of `corpus`'s plan — snapshot expensive
    * upstreams, the module's two-consumers rule); the centroid table is
    * collected (k·dim, the kmeans/PQ model-constant discipline) and
    * folded into a MAP-ONLY argmin-of-struct-array assignment (zero
    * exchange — the [[cellAssign]] maxRank=1 story); probes (Q×nProbe
    * rows) broadcast into the candidate join, so the only exchange in
    * the whole plan is the final per-query rank window over the
    * cell-bounded candidate set.
    *
    * Economics, measured (ProbeMips, in history:
    * `git show 408692e:src/main/scala/graft/tools/ProbeMips.scala`): the FUSED form
    * re-pays the O(N·nlist) assignment every call, so single-batch it
    * never beats [[mipsBrute]] (whose cost is O(N·Q)) — the candidate
    * bound (5.8 % → 2.0 % of the corpus per query at x1 → x100 under
    * √n sizing) is the serve cost once a deployment PERSISTS the
    * assignment ([[graft.engine.AnnIndex]]'s layout; e_x is one extra
    * column). Keep this form for gates and one-shot jobs; keep
    * [[mipsBrute]] below ~10⁵ vectors.
    *
    * queries: (qid, qf); corpus: (vid, f); centroids: (cid, cf) —
    * all vectors fixed-point array<bigint>. Ties: assignment and probe
    * by cid asc, final ranking by neighbor id asc. */
  def mipsIvf(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val self = graft.exprs.Sq8.dot_int(col("f"), col("f"))
    val m2 = corpus.agg(max(self)).collect()(0).getLong(0)
    val centArr = centroids
      .select(col("cid").cast("long"), col("cf"))
      .collect()
      .map { r =>
        val cf = r.getSeq[Long](1).toArray
        var acc = 0L
        var i = 0
        while (i < cf.length) { acc += cf(i) * cf(i); i += 1 }
        (r.getLong(0), cf, math.sqrt(math.max(0L, m2 - acc).toDouble))
      }
      .sortBy(_._1)
    require(centArr.nonEmpty, "mipsIvf: empty centroid table")
    // r21 (guide §4 + §7.3): the assignment/probe scores used to be an
    // array_min(array(struct × nlist)) tree carrying one dim-element
    // typedLit per centroid — nlist·dim literal leaves that Catalyst
    // re-analyzed and re-optimized on EVERY invocation (~1.0 s of driver
    // planning per run, ProbeDissect21 "plan-only"). The collected model
    // now rides as constructor constants inside two single-node
    // expressions ([[graft.exprs.MipsExprs]]) whose loops replicate the
    // struct-ordering arithmetic bit for bit (same IEEE ops, same
    // Double.compare ties, same integer probe sort).
    val asg = corpus.withColumn("cell",
      graft.exprs.MipsExprs.mips_assign(col("f"), centArr, m2))
    val probes = queries
      .withColumn("cell", explode(graft.exprs.MipsExprs.mips_probe_cells(
        col("qf"), centArr.map(t => (t._1, t._2)), nProbe)))
      .select(col("qid"), col("qf"), col("cell"))
    ipTopK(broadcast(probes).join(asg, "cell").where(col("vid") =!= col("qid")), k)
  }

  /** corpus: (vid, v); queries are selected by `isQuery` over vid. Builds
    * `planes` signed projections split evenly into `tables` bucket
    * tables; a candidate matches if ANY table's bucket matches. `dim` is
    * the embedding length. */
  def lsh(corpus: DataFrame, isQuery: Column => Column, dim: Int,
      planes: Int = 16, tables: Int = 2, k: Int = 5): DataFrame = {
    require(planes % tables == 0, "planes must split evenly into tables")
    // One tight-loop expression computes all table signatures per row
    // (the transform/zip_with/aggregate nest ran ~planes×dim interpreted
    // lambda calls per row); values are identical — md5-derived weights,
    // exact integer dot products, round-HALF_UP fixed point.
    val sigCols = (0 until tables).map(t =>
      element_at(col("__sigs"), t + 1).as(s"sig$t"))
    val e = corpus
      .withColumn("__sigs",
        graft.exprs.SigExprs.lsh_sigs(col("v"), planes, tables, dim))
      .select(col("vid") +: col("v") +: sigCols: _*)
      .localCheckpoint(eager = false)
    val q = e.where(isQuery(col("vid")))
      .select(col("vid").as("qid") +: col("v").as("qv") +:
        (0 until tables).map(t => col(s"sig$t").as(s"qs$t")): _*)
    val cands = (0 until tables).map { t =>
      q.join(e, col(s"qs$t") === col(s"sig$t"))
        .select(col("qid"), col("qv"), col("vid"), col("v"))
    }.reduce(_.unionAll(_))
      .where(col("vid") =!= col("qid"))
      .dropDuplicates("qid", "vid")
    topK(cands, k)
  }

  /** One distributed Lloyd's (k-means) iteration over an embedding
    * corpus — training the IVF coarse quantizer rather than borrowing
    * corpus vectors as centroids. Assignment: exact cosine to each
    * broadcast centroid, nearest wins (ties by centroid id — [[ivf]]'s
    * rule), one narrow pass. Update: per-(cell, dim) sums of fixed-point
    * values (`round(v·10⁶)` — integer addition is order-independent, so
    * the aggregate is exact and engine-reproducible, unlike float
    * summation). The caller derives the new centroid component as
    * `sum_q / (n · 10⁶)` and iterates; each iteration is one broadcast
    * join plus one (cell, dim)-keyed shuffle whose cardinality is
    * k × dim, independent of corpus size.
    * corpus: (vid, v); centroids: (cid, cv). Output: (cell, d, sum_q, n). */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val asg = cellAssign(corpus, centroids, "vid", "v", maxRank = 1, carry = Seq("v"))
      .select(col("cell"), col("v"))
    asg
      // explicit double math before round: a float-precision product can
      // land on the other side of a .5 boundary than the double product,
      // shifting one fixed-point unit between engines
      .select(col("cell"), posexplode(
        expr("transform(v, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"))
        .as(Seq("d", "q")))
      .groupBy("cell", "d")
      .agg(sum("q").as("sum_q"), count(lit(1)).as("n"))
  }

  /** The full k-means driver loop over [[kmeansStep]]: `iterations`
    * rounds of assign → update, returning `(iter, cell, d, cq)` — the
    * micro-unit (1e-6 fixed point) centroid coordinates AFTER each
    * round — so a replay oracle gates every round, not just the last.
    * This is the loop [[kmeansStep]] leaves to the caller, packaged the
    * same way [[Bpe.train]] packages the merge loop.
    *
    * Determinism across engines: per-dim sums are exact integers
    * (kmeansStep's fixed-point quantization), the centroid update is
    * integer division `sum_q div n` (truncating — Spark `div` and
    * DuckDB `//` agree on negatives), and the next round's float
    * centroids are the SAME float-rounded values on both sides
    * (`(cq/1e6).toFloat` ≡ `CAST(CAST(cq AS DOUBLE)/1e6 AS FLOAT)`).
    * Cells that lose all members drop out of later rounds (standard
    * k-means empty-cell drop), identically in the replay.
    *
    * Scale shape: each round is one corpus assignment pass (broadcast
    * centroids, narrow projection) plus a (cell, dim)-keyed aggregate
    * whose result is k·dim rows — collected to the driver as a model
    * artifact (the [[graft.exprs.Pq]] codebook pattern), never a data
    * collect. Corpus cost is iterations × one scan, the unavoidable
    * k-means floor. */
  def kmeansTrain(corpus: DataFrame, init: DataFrame, iterations: Int): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    val sp = corpus.sparkSession
    val c = corpus.localCheckpoint(eager = false)
    var cents = init
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    for (i <- 1 to iterations) {
      val upd = kmeansStep(c, cents)
        .select(col("cell"), col("d").cast("long").as("d"),
          expr("sum_q div n").as("cq"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      out ++= upd.map { case (cell, d, cq) => (i.toLong, cell, d, cq) }
      val centRows = upd.groupBy(_._1).toSeq.map { case (cell, ds) =>
        (cell, ds.sortBy(_._2).map(t => (t._3.toDouble / 1e6).toFloat).toSeq)
      }
      import sp.implicits._
      cents = centRows.toDF("cid", "cv")
    }
    import sp.implicits._
    out.toSeq.toDF("iter", "cell", "d", "cq")
  }

  /** Quantizer FIT of a vector cohort against a centroid table: the
    * mean nearest-centroid cosine in ppm — per-row `floor(cos·10⁶)`
    * then the truncating integer mean, so the number is
    * order-independent and replays bit-for-bit in DuckDB. This is the
    * cheap drift statistic the refresh lifecycle records (one
    * batch-sized broadcast-assignment pass): when a refresh batch's
    * fit drops far below the train-time fit, the frozen quantizer no
    * longer describes the data — the `--ann-retrain-threshold`
    * streaming policy triggers a retrain on exactly this comparison.
    * (ProbeDrift: on the synthetic corpus RECALL often survives a
    * shift — a whole unseen cluster assigns consistently into one
    * legacy cell — while fit moves decisively, which is why the
    * trigger thresholds on fit.) corpus: (vid, v); centroids:
    * (cid, cv). Output: ONE row (n, fit_ppm). */
  def assignFit(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    // map-only nearest-cell argmax (the ProbeAssign lesson: the n×k
    // window form is 80× this at n=200k — this runs in the refresh hot
    // path, so the kernel matters), then ONE cosine per row against
    // the re-joined tiny centroid table
    val asg = assignOne(corpus, centroids)
    asg.select(floor(cosine(col("v"), col("cv")) * lit(1000000.0))
        .cast("bigint").as("q"))
      .agg(count(col("q")).as("n"),
        expr("sum(q) div count(q)").as("fit_ppm"))
  }

  /** Shared map-only single-cell assignment: (vid, v, cell, cv) via the
    * broadcast-fed [[graft.exprs.NearestCells]] argmax. */
  private def assignOne(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val sp = corpus.sparkSession
    val centArr = centroidArray(centroids)
    val bc = sp.sparkContext.broadcast(centArr)
    corpus
      .withColumn("cell", element_at(
        graft.exprs.NearestCells.nearest_cells(col("v"), bc, 1), 1))
      .where(col("cell").isNotNull)
      .join(broadcast(centroids.select(col("cid").as("cell"),
        col("cv").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).as("cv"))), "cell")
  }

  /** IVFADC residual corpus: each vector minus its rank-1 (nearest,
    * ties by cid — [[ivf]]'s rule) trained centroid, as (vid, v double
    * array) — the training input for residual PQ codebooks
    * ([[pqCodebooksTrained]] over this instead of the raw vectors).
    * Residuals are TIGHTER than raw vectors per cell (the coarse
    * quantizer has already removed the between-cell variance, so the
    * subquantizer spends its 256 codewords on the within-cell
    * remainder — Jégou et al. 2011's IVFADC form), which is why the
    * residual-trained serving tier out-recalls the raw-trained one at
    * the same m. Arithmetic: one map-only broadcast-argmax assignment
    * pass + the double-domain element subtraction
    * ([[graft.exprs.Pq.vec_residual]] — exact IEEE, DuckDB-replayable). */
  def residuals(vecs: DataFrame, centroids: DataFrame): DataFrame =
    assignOne(vecs, centroids)
      .select(col("vid"),
        graft.exprs.Pq.vec_residual(col("v"), col("cv")).as("v"))

  /** Assignment SKEW of a vector cohort under a centroid table: the
    * share (ppm, truncating integer division) of the cohort landing in
    * its single hottest cell, plus the number of distinct cells
    * occupied — the drift statistic that actually moves when refreshed
    * data shifts (ProbeDrift: an unseen cluster assigns CONSISTENTLY,
    * so cosine-fit and even recall barely move while the hot-cell
    * share spikes), and the statistic that matters at scale: a cell
    * absorbing a whole shifted cohort becomes the hot partition every
    * probe of it pays for. One batch-sized broadcast-assignment pass;
    * integer arithmetic end-to-end. corpus: (vid, v); centroids:
    * (cid, cv). Output: ONE row (n, top_share_ppm, occupied). */
  def assignSkew(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val asg = assignOne(corpus, centroids)
    asg.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n"), max(col("c")).as("top"),
        count(lit(1)).as("occupied"))
      .select(col("n"),
        expr("(top * 1000000) div n").as("top_share_ppm"),
        col("occupied"))
  }

  /** Cluster-balanced subsample — the diversity-selection pass that caps
    * every cluster's share of the kept set, so over-represented regions
    * of embedding space (boilerplate, templates, near-dup families that
    * survived dedup) don't dominate a training mix. Assign each vector
    * to its nearest centroid cell (ties by cid — [[ivf]]'s rule), then
    * keep at most `quota` per cell by md5-hash rank: hash, not `rand()`,
    * so the selection is reproducible across runs, engines, and resumes
    * (the [[Mixture.domainQuota]] discipline on learned cells instead of
    * URL domains).
    *
    * Scale shape: one broadcast-centroid assignment pass (narrow) plus
    * one cell-keyed window whose per-cell state is the rank counter only;
    * nothing is corpus-global. corpus: (vid, v); centroids: (cid, cv).
    * Output: (vid, cell, rk) for kept vectors, rk 1..quota. */
  def clusterBalance(corpus: DataFrame, centroids: DataFrame,
      quota: Long): DataFrame = {
    val asg = cellAssign(corpus, centroids, "vid", "v",
      maxRank = 1, carry = Nil)
    val w = Window.partitionBy(col("cell")).orderBy(col("h"), col("vid"))
    asg
      .withColumn("h",
        Hashing.h64(concat(lit("cbal:"), col("vid").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= quota)
      .select(col("vid"), col("cell"), col("rk"))
  }

  /** (vid, v float, qv8): the corpus with its int8 quantization, stats
    * collected once (the BM25 broadcast pattern) — shared by [[sq8]] and
    * [[sq8Ivf]]. */
  private def sq8Corpus(corpus: DataFrame): DataFrame = {
    import graft.exprs.Sq8.sq8_quantize
    // normalize to float vectors (Sq8Quantize reads float slots; same
    // guard cosine_similarity applies)
    val vecs = corpus.select(col("vid"),
      col("v").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("v"))
    val stats = vecs
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
      .sortBy(_._1)
    vecs.select(col("vid"), col("v"),
      sq8_quantize(col("v"), stats.map(_._2), stats.map(_._3)).as("qv8"))
  }

  /** Integer-dot top-K over (qid, qq8, vid, qv8) candidate rows — the
    * shared rank-and-cut of [[sq8]] and [[sq8Ivf]]: exact int math, ties
    * by neighbor id. */
  private def topKDot(cands: DataFrame, k: Int): DataFrame =
    rankCut(cands.withColumn("qdot",
      graft.exprs.Sq8.dot_int(col("qq8"), col("qv8"))), col("qdot").desc, k)

  /** Scalar-quantized (int8-style) max-inner-product search: per-dim
    * corpus min/max → 256-bin floor quantization ([[graft.exprs
    * .Sq8Quantize]]) → exact integer dot product ranking (ties by
    * neighbor id). Quantization is the memory-bandwidth lever at scale —
    * 4 bytes → 1 per dim and SIMD-able int math; on a cluster the
    * quantized corpus is written once and scanned per query batch.
    * The stats are one tiny aggregate collected to the driver and folded
    * in as expression literals (the BM25-stats pattern); candidates here
    * are all pairs — [[sq8Ivf]] is the composition with the IVF candidate
    * cut. corpus: (vid, v); queries selected by `isQuery`. */
  def sq8(corpus: DataFrame, isQuery: Column => Column, k: Int): DataFrame = {
    // snapshotted: both sides of the self-join consume the quantization
    val q8 = sq8Corpus(corpus).select(col("vid"), col("qv8"))
      .localCheckpoint(eager = false)
    val queries = broadcast(
      q8.where(isQuery(col("vid"))).select(col("vid").as("qid"), col("qv8").as("qq8")))
    topKDot(q8.join(queries, col("vid") =!= col("qid")), k)
  }

  /** The composed scale pattern [[sq8]]'s doc promises: IVF's nprobe
    * candidate cut (sublinear scan) ranked by the int8 dot product
    * (4 bytes → 1 per dim, SIMD-able integer math). Cell assignment is
    * [[cellAssign]] — the same contract as [[ivf]] — and ranking is
    * [[topKDot]], so the whole composition stays oracle-reproducible.
    * corpus: (vid, v); centroids: (cid, cv); queries selected by
    * `isQuery`. Output: (qid, rank, neighbor). */
  def sq8Ivf(corpus: DataFrame, isQuery: Column => Column,
      centroids: DataFrame, nProbe: Int, k: Int): DataFrame = {
    // snapshotted: assignment and probing both consume the quantized corpus
    val q8 = sq8Corpus(corpus).localCheckpoint(eager = false)
    val asg = cellAssign(q8, centroids, "vid", "v", maxRank = 1, carry = Seq("qv8"))
    val probes = cellAssign(q8.where(isQuery(col("vid"))), centroids,
      "vid", "v", nProbe, carry = Seq("qv8"))
      .select(col("vid").as("qid"), col("qv8").as("qq8"), col("cell"))
    topKDot(probes.join(asg, "cell").where(col("vid") =!= col("qid")), k)
  }

  /** Product-quantization ANN (Jégou et al. 2011) — the memory-bandwidth
    * tier beyond [[sq8]]: the corpus collapses to `numSubspaces` small
    * codes per vector (16-codeword codebooks seeded from the first 16
    * corpus vectors' sub-vectors — the deterministic seed rule [[ivf]]
    * uses), and each query carries a tiny ADC lookup table, so ranking
    * reads m ints per candidate instead of dim floats. Encode is one
    * map-only pass with the codebooks shipped as expression constants
    * (the sq8 stats-as-literals pattern); at cluster scale the coded
    * corpus is written once and rescanned per query batch at ~m/dim of
    * the raw bandwidth. Exact fixed-point arithmetic end to end (encode
    * argmin, LUT, ADC sums — [[graft.exprs.Pq]]) keeps the tier
    * DuckDB-reproducible. Approximate-L2 ranking ascending, ties by
    * neighbor id; malformed corpus vectors encode to null and drop,
    * malformed QUERY vectors drop too (a null lookup table must not
    * rank arbitrary neighbors). corpus: (vid, v); queries selected by
    * `isQuery`. Output: (qid, rank, neighbor). */
  def pq(corpus: DataFrame, isQuery: Column => Column, numSubspaces: Int,
      k: Int): DataFrame = {
    import graft.exprs.Pq
    val vecs = corpus.select(col("vid"), col("v"))
    val cb = pqCodebooks(vecs, numSubspaces)
    // snapshotted: the coded corpus feeds both the candidate scan and the
    // query-side LUT projection
    val snap = vecs.withColumn("code", Pq.pq_encode(col("v"), cb))
      .localCheckpoint(eager = false)
    val queries = broadcast(snap.where(isQuery(col("vid")))
      .select(col("vid").as("qid"), Pq.pq_lut(col("v"), cb).as("lut"))
      .where(col("lut").isNotNull))
    rankCut(
      snap.where(col("code").isNotNull).select(col("vid"), col("code"))
        .join(queries, col("vid") =!= col("qid"))
        .withColumn("adist", Pq.pq_adc(col("code"), col("lut"))),
      col("adist").asc, k)
  }

  /** PQ codebooks from the first 16 vectors' sub-vectors, fixed-point —
    * one tiny driver-side collect, like the sq8 min/max stats (shared by
    * [[pq]] and [[ivfPq]] so both tiers encode identically). Seeds must
    * be clean: a codebook from a malformed vector is undefined, so fail
    * with a named cause rather than a MatchError. */
  private def pqCodebooks(vecs: DataFrame,
      numSubspaces: Int): graft.exprs.Pq.Codebooks = {
    val seeds = vecs.where(col("vid") < 16).orderBy(col("vid")).collect()
      .toSeq.map(r => (s"vid=${r.get(0)}", r.getSeq[Any](1)))
    require(seeds.nonEmpty, "pq needs seed vectors (vid < 16) for codebooks")
    pqCodebooksFromSeeds(seeds, numSubspaces)
  }

  /** Seed vectors → PQ codebooks: fixed-point conversion, dimensionality
    * checks, sub-vector slicing — the UNTRAINED construction the gated
    * query tier ([[pq]]/[[ivfPq]] via [[pqCodebooks]], seeded by
    * vid < 16) encodes with; it pins the PQ arithmetic with a
    * minimal-moving-parts codebook. The serving tiers (the registry's
    * [[graft.queries.PipelineQueries.knn_serving_recall]] and the CLI
    * `train --pq`) train theirs with [[pqCodebooksTrained]] since r16.
    * Seeds must be clean: a codebook from a malformed vector is
    * undefined, so fail with a named cause rather than a MatchError. */
  def pqCodebooksFromSeeds(seeds: Seq[(String, Seq[Any])],
      numSubspaces: Int): graft.exprs.Pq.Codebooks = {
    import graft.exprs.Pq
    val fixedSeeds: Seq[IndexedSeq[Long]] = seeds.map { case (label, v) =>
      require(v != null && !v.contains(null),
        s"pq seed vector $label is null or has null elements")
      v.map {
        case f: java.lang.Float  => Pq.fixedPoint(f.toDouble * 1000000.0)
        case d: java.lang.Double => Pq.fixedPoint(d.doubleValue * 1000000.0)
      }.toIndexedSeq
    }
    val dim = fixedSeeds.head.length
    require(fixedSeeds.forall(_.length == dim),
      "pq seed vectors disagree on dimensionality")
    require(dim % numSubspaces == 0,
      s"dim $dim must split evenly into $numSubspaces subspaces")
    val subDim = dim / numSubspaces
    (0 until numSubspaces).map(s =>
      fixedSeeds.map(_.slice(s * subDim, (s + 1) * subDim)))
  }

  /** TRAINED PQ codebooks — per-subspace Lloyd's k-means on FIXED-POINT
    * subvectors, the construction that lifts the PQ tier off its seed
    * ceiling (16 arbitrary corpus subvectors as codewords measured
    * recall 0.82 where SQ8 — no codebook at all — measured 0.96; FAISS
    * trains 256 codewords per subspace for the same reason). Every step
    * is exact integer arithmetic, so a DuckDB unroll replays every
    * codeword bit-for-bit:
    *
    *  - subvectors are `round(x·10⁶)` longs (the [[graft.exprs.Pq]]
    *    fixed-point convention) — no float summation anywhere;
    *  - seeds are the `codewords` smallest distinct vids at/above
    *    `seedLo` (vid-window seeding for the oracle-gated registry row,
    *    smallest-content-hash seeding for the CLI trained tier — the
    *    same "only the seed SELECTION differs" discipline as
    *    [[pqCodebooksFromSeeds]]);
    *  - assignment is integer squared-L2 argmin, ties by codeword id —
    *    the SAME metric [[graft.exprs.Pq.pq_encode]] cuts with, so
    *    training optimizes exactly what encode measures (the coarse
    *    [[kmeansTrain]] assigns by cosine and is deliberately NOT
    *    reused here);
    *  - update is the truncating integer mean `sum div n` per dim
    *    (Spark `div` ≡ DuckDB `//`); codewords that lose all members
    *    drop out, identically in the replay.
    *
    * Scale shape: `iterations` passes over a caller-bounded sample
    * (the CLI caller caps at 256·codewords vectors — FAISS's default
    * train bound), each pass one broadcast join of m·C codewords
    * against n·m subvector rows plus a (s, cid, d)-keyed aggregate
    * whose result is m·C·subDim rows, collected driver-side as a model
    * artifact (the [[kmeansTrain]] pattern — never a data collect).
    * corpus: (vid, v float/double array). Returns
    * [[graft.exprs.Pq.Codebooks]] fixed-point longs. */
  def pqCodebooksTrained(vecs: DataFrame, numSubspaces: Int,
      seedLo: Long, codewords: Int, iterations: Int): graft.exprs.Pq.Codebooks = {
    require(codewords > 0 && iterations >= 0,
      s"need codewords > 0 (got $codewords), iterations >= 0 (got $iterations)")
    val sp = vecs.sparkSession
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    require(dim % numSubspaces == 0,
      s"dim $dim must split evenly into $numSubspaces subspaces")
    val subDim = dim / numSubspaces
    // one narrow snapshot: the float vector (feeds the tight-loop
    // pq_encode assignment kernel) + its fixed-point form (feeds the
    // integer mean update) — pq_encode's internal round(x·10⁶)
    // HALF_UP is the SAME fixed point, the equality the gated knn_pq
    // oracle already pins
    val fx = vecs.select(col("vid"), col("v"),
        expr("transform(v, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))")
          .as("f"))
      .localCheckpoint(eager = false)
    val seedVids = vecs.select(col("vid")).where(col("vid") >= seedLo)
      .dropDuplicates("vid").orderBy(col("vid")).limit(codewords)
    // dedupe the fx side BY VID before the seed join (r16 advice): a
    // corpus with several rows per vid (spilled layouts, replayed
    // appends) would join each seed vid back to every copy and the
    // initial codebook would exceed `codewords` entries until an update
    // pass happened to prune them; rows sharing a vid carry the same
    // vector by construction (vid is the content hash on the CLI path,
    // the unique id on the gated path), so the pick is value-stable
    var cents: Seq[(Int, Long, Seq[Long])] = fx
      .dropDuplicates("vid")
      .join(broadcast(seedVids), "vid")
      .select(col("vid"), posexplode(expr(
        s"transform(sequence(0, ${numSubspaces - 1}), " +
          s"s -> slice(f, s * $subDim + 1, $subDim))")).as(Seq("s", "fs")))
      .select(col("s"), col("vid").as("cid"), col("fs"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    require(cents.nonEmpty, "pq training needs at least one seed vector")
    for (_ <- 1 to iterations) {
      // positional codebooks per subspace, ascending cid — so
      // pq_encode's argmin tie rule (smaller position) IS the oracle's
      // (dist asc, cid asc). Assignment is ONE tight-loop kernel pass
      // over the corpus (the r16 first cut joined n·m subvector rows
      // against all m·C codewords with interpreted HOF lambdas —
      // 12× the whole query's runtime at sf0.1).
      val bySub: Array[Array[(Long, Seq[Long])]] = {
        val g = cents.groupBy(_._1)
        (0 until numSubspaces).map(s =>
          g.getOrElse(s, Seq.empty).map(t => (t._2, t._3))
            .sortBy(_._1).toArray).toArray
      }
      require(bySub.forall(_.nonEmpty),
        "a subspace lost every codeword — corpus degenerate for pq")
      val cb: graft.exprs.Pq.Codebooks = bySub.map(_.map(_._2).toSeq).toSeq
      val upd = fx
        .withColumn("codes", graft.exprs.Pq.pq_encode(col("v"), cb))
        .where(col("codes").isNotNull)
        .select(col("f"), posexplode(col("codes")).as(Seq("s", "p")))
        .select(col("s"), col("p"),
          posexplode(expr(s"slice(f, s * $subDim + 1, $subDim)"))
            .as(Seq("d", "q")))
        .groupBy("s", "p", "d")
        .agg(expr("sum(q) div count(1)").as("cq"))
        .collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      cents = upd.groupBy(t => (t._1, t._2)).toSeq.map { case ((s, p), rows) =>
        (s, bySub(s)(p)._1, rows.sortBy(_._3).map(_._4).toSeq)
      }
    }
    // degeneracy guard ON THE FINAL cents too (r16 advice): the in-loop
    // check runs against the PREVIOUS round's codewords, so a subspace
    // that loses every codeword in the last update (or a final pass
    // that encodes nothing) would otherwise return Codebooks silently
    // missing that subspace and mis-shape every downstream pq_encode
    val finalBySub = cents.groupBy(_._1)
    require((0 until numSubspaces).forall(s =>
        finalBySub.get(s).exists(_.nonEmpty)),
      "a subspace lost every codeword in the final update — corpus " +
        "degenerate for pq")
    cents.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cws) =>
      cws.sortBy(_._2).map(_._3)
    }
  }

  /** IVF-PQ — the production ANN tier ([[pq]]'s doc promises it): the
    * IVF nprobe candidate cut (sublinear scan, [[cellAssign]] — the same
    * contract as [[ivf]]/[[sq8Ivf]]) ranked by PQ's ADC lookup
    * (m ints per candidate instead of dim floats). Per query the scan
    * touches only its nprobe cells' codes; the lookup table is computed
    * ONCE per query before cell probing, not per probe row. Codebooks,
    * encode, LUT, and ADC are byte-identical to [[pq]]
    * ([[pqCodebooks]] / [[graft.exprs.Pq]]), so the tier stays
    * DuckDB-reproducible. Approximate-L2 ascending, ties by neighbor id;
    * null codes/LUTs (malformed vectors) drop as in [[pq]].
    * corpus: (vid, v); centroids: (cid, cv) — tiny, broadcast; queries
    * selected by `isQuery`. Output: (qid, rank, neighbor). */
  def ivfPq(corpus: DataFrame, isQuery: Column => Column,
      centroids: DataFrame, nProbe: Int, numSubspaces: Int,
      k: Int): DataFrame = {
    import graft.exprs.Pq
    val vecs = corpus.select(col("vid"), col("v"))
    val cb = pqCodebooks(vecs, numSubspaces)
    // snapshotted: the coded corpus feeds assignment, probing, and LUTs
    val snap = vecs.withColumn("code", Pq.pq_encode(col("v"), cb))
      .localCheckpoint(eager = false)
    val asg = cellAssign(snap.where(col("code").isNotNull), centroids,
      "vid", "v", maxRank = 1, carry = Seq("code"))
    val qs = snap.where(isQuery(col("vid")))
      .withColumn("lut", Pq.pq_lut(col("v"), cb))
      .where(col("lut").isNotNull)
    val probes = cellAssign(qs, centroids, "vid", "v", nProbe, carry = Seq("lut"))
      .select(col("vid").as("qid"), col("lut"), col("cell"))
    rankCut(
      probes.join(asg, "cell").where(col("vid") =!= col("qid"))
        .withColumn("adist", Pq.pq_adc(col("code"), col("lut"))),
      col("adist").asc, k)
  }

  /** The code a serving layout stores, and so how [[shortlist]] keys a
    * candidate against its query. */
  sealed trait Tier
  object Tier {
    /** PQ codes over raw vectors: one ADC table per query. */
    final case class Pq(cb: graft.exprs.Pq.Codebooks) extends Tier
    /** RESIDUAL PQ codes (IVFADC — Jégou et al. 2011's production form):
      * each stored copy encodes `v − centroid(its cell)`, so each
      * (query, probed cell) pair ranks against its own ADC table over
      * the query's residual in that cell — the FAISS per-probe LUT.
      * `centroids` is the (cid, cv) model table the codes were taken
      * against. */
    final case class PqResidual(cb: graft.exprs.Pq.Codebooks,
        centroids: Array[(Long, Array[Float])]) extends Tier
    /** SQ8 codes under frozen per-dim stats, ranked ASYMMETRICALLY: each
      * query folds into fixed-point weights
      * w_j = floor(q_j·step_j·[[graft.exprs.Sq8.AdcScale]]), and the
      * exact integer dot Σ code_j·w_j orders by reconstructed inner
      * product (affine offset cancelled). `normalized` keys on the
      * reconstructed COSINE instead ([[graft.exprs.Sq8CosKey]]): under a
      * wide corpus norm spread the plain dot fills the shortlist with
      * high-norm vectors ahead of low-norm true neighbors. */
    final case class Sq8(mn: Array[Double], mx: Array[Double],
        normalized: Boolean) extends Tier
  }

  /** The batched quantized SHORTLIST — the one place the vector tier's
    * candidate-ranking rule is written for relations: the engine's
    * batch face ([[graft.engine.AnnIndex.knnBatch]]), `train
    * --calibrate`'s served arm, and the registry serving twins below all
    * rank through it, so the oracle gating a twin gates the serving rule
    * itself.
    *
    *  - `probes`: (qid, qv, __pcell), one row per (query, probed cell);
    *  - `layout`: the stored rows as (cell, code, ids…, payload…) — the
    *    cell a row sits in, its `tier` code, the `ids` that identify the
    *    row and break key ties ascending, and any payload columns
    *    (functions of the ids) to carry along;
    *  - `spill`: rows may share an identity (spilled copies, or the
    *    calibration sample's identical vectors). Raw PQ and SQ8 copies
    *    are IDENTICAL rows and dedupe per (qid, ids); residual copies
    *    carry per-cell codes and reduce by MIN — a deterministic
    *    aggregate where a pick-any dedup would not be. Either way it
    *    happens BEFORE the cut, so copies never crowd the budget;
    *  - `pair`: an optional (query, row) predicate over the candidates,
    *    e.g. `vid =!= qid` self-exclusion.
    *
    * Rows with a null code or query table drop. Each query keeps its
    * `rerank` best rows by (key, ids…): ADC distance ascending for PQ,
    * the SQ8 key descending. Every step is integer or reproducible
    * double arithmetic, so a DuckDB unroll replays every rank.
    * Output: (qid, qv, ids…, payload…, rank), rank 1..rerank. */
  def shortlist(probes: DataFrame, layout: DataFrame, tier: Tier,
      ids: Seq[String], spill: Boolean, rerank: Int,
      pair: Option[Column] = None): DataFrame = {
    import graft.exprs.{Pq => PqK, Sq8 => Sq8K}
    val carried = layout.columns.toSeq.filterNot(Set("cell", "code"))
    val code = col("code")
    val rows = layout.where(code.isNotNull).withColumnRenamed("cell", "__dcell")
    def candidates(qs: DataFrame): DataFrame = {
      val c = qs.join(rows, col("__pcell") === col("__dcell"))
      pair.fold(c)(c.where)
    }
    def deduped(c: DataFrame): DataFrame =
      if (spill) c.dropDuplicates("qid" +: ids) else c
    val (keyed, order) = tier match {
      case Tier.PqResidual(cb, cents) =>
        val sp = probes.sparkSession
        import sp.implicits._
        val cellCv = broadcast(cents.toSeq
          .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("__pcell", "__ccv"))
        val luts = probes.join(cellCv, "__pcell")
          .withColumn("__lut",
            PqK.pq_lut(PqK.vec_residual(col("qv"), col("__ccv")), cb))
          .where(col("__lut").isNotNull)
          .drop("__ccv")
        val perCopy = candidates(luts)
          .withColumn("__key", PqK.pq_adc(code, col("__lut")))
        // qv and the payload ride along: functionally determined by
        // (qid, ids)
        (if (spill) perCopy.groupBy(("qid" +: ids).map(col): _*)
          .agg(min(col("__key")).as("__key"),
            ("qv" +: carried.filterNot(ids.contains))
              .map(c => first(col(c)).as(c)): _*)
        else perCopy, col("__key").asc)
      case Tier.Pq(cb) =>
        val luts = probes.withColumn("__lut", PqK.pq_lut(col("qv"), cb))
          .where(col("__lut").isNotNull)
        (deduped(candidates(luts))
          .withColumn("__key", PqK.pq_adc(code, col("__lut"))), col("__key").asc)
      case Tier.Sq8(mn, mx, normalized) =>
        val step = mn.indices.map(i => (mx(i) - mn(i)) / 255.0)
        // bigint weights end-to-end (the DuckDB oracle's qw is BIGINT;
        // an int cast would wrap for large-magnitude vectors)
        val weighted = probes
          .withColumn("__qw", zip_with(col("qv"), typedLit(step),
            (x, s) => floor(x * s * lit(Sq8K.AdcScale)).cast("bigint")))
          .where(col("__qw").isNotNull)
        val cands = deduped(candidates(
          if (!normalized) weighted
          // the query's affine-offset constant Σ ⌊q_i·mn_i·2²⁴⌋, which
          // the cosine key needs back
          else weighted.withColumn("__mq", aggregate(
            zip_with(col("qv"), typedLit(mn.toSeq),
              (x, m) => floor(x.cast("double") * m * lit(Sq8K.AdcScale))
                .cast("bigint")),
            lit(0L), (acc, x) => acc + x))))
        val key =
          if (!normalized) Sq8K.dot_int(code, col("__qw"))
          else {
            val (ta, tb) = Sq8K.reconTables(mn, mx)
            Sq8K.cos_key(code, col("__qw"), col("__mq"), ta, tb)
          }
        (cands.withColumn("__key", key), col("__key").desc)
    }
    keyed
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(order +: ids.map(col(_).asc): _*)))
      .where(col("rank") <= rerank)
      .select((Seq("qid", "qv") ++ carried :+ "rank").map(col): _*)
  }

  /** The SERVING read shape end-to-end as a gated operator — what
    * [[graft.engine.AnnIndex]]'s trained tier executes against its
    * cell-partitioned layout, re-expressed over (vid, v) relations so
    * the driver's oracle re-measures the serving tier's recall every
    * round at every scale factor:
    *
    *  1. spill-cell LAYOUT — each corpus vector lands in its `spill`
    *     nearest cells via the map-only broadcast-fed
    *     [[graft.exprs.NearestCells]] argmax (the data/ rewrite pass),
    *     coded by `encode` (which sees the row's `cell`);
    *  2. PROBES — each query's `nProbe` nearest cells;
    *  3. the [[shortlist]] of `rerank` per query under `tier`, spill
    *     copies reduced before the cut, self-pairs excluded, each row's
    *     vector carried along;
    *  4. exact-cosine RERANK of the shortlist to the final top-k, ties by
    *     neighbor id.
    *
    * vecs: (vid, v) plus any columns `encode` or `keep` read;
    * `keep` is the metadata PRE-filter twin of
    * [[graft.engine.AnnIndex.knn]]'s `filter`, applied to the stored
    * rows before the shortlist cut. Output: (qid, rank, neighbor). */
  private def servingTwin(vecs: DataFrame, isQuery: Column => Column,
      centroids: DataFrame, centArr: Array[(Long, Array[Float])],
      nProbe: Int, spill: Int, rerank: Int, k: Int, tier: Tier,
      keep: Option[Column])(encode: DataFrame => DataFrame): DataFrame = {
    // snapshotted: the layout and the probes both read it
    val snap = vecs.localCheckpoint(eager = false)
    val bc = vecs.sparkSession.sparkContext.broadcast(centArr)
    val cells = snap.withColumn("cell", explode(
      graft.exprs.NearestCells.nearest_cells(col("v"), bc, spill)))
    val layout = encode(keep.fold(cells)(cells.where))
      .select(col("cell"), col("code"), col("vid"), col("v"))
    val probes = cellAssign(snap.where(isQuery(col("vid"))), centroids,
        "vid", "v", nProbe, carry = Seq("v"))
      .select(col("vid").as("qid"), col("v").as("qv"), col("cell").as("__pcell"))
    topK(shortlist(probes, layout, tier, Seq("vid"), spill = true, rerank,
      pair = Some(col("vid") =!= col("qid"))), k)
  }

  /** The RESIDUAL PQ serving twin of the CLI trained tier's `train --pq`
    * + `knn` path ([[servingTwin]] under [[Tier.PqResidual]]): each
    * spilled copy encodes the residual against ITS OWN cell's centroid,
    * so copies of one row carry different codes and reduce by MIN. The
    * residual is a double-domain IEEE subtraction
    * ([[graft.exprs.Pq.vec_residual]]) and everything downstream is
    * exact fixed-point PQ arithmetic. Codebooks MUST be residual-trained
    * ([[pqCodebooksTrained]] over [[residuals]]). corpus: (vid, v);
    * centroids: (cid, cv); queries selected by `isQuery`. */
  def ivfPqServing(corpus: DataFrame, isQuery: Column => Column,
      centroids: DataFrame, nProbe: Int, spill: Int, rerank: Int, k: Int,
      codebooks: graft.exprs.Pq.Codebooks): DataFrame = {
    import graft.exprs.Pq
    val centArr = centroidArray(centroids)
    val cellCv = broadcast(centroids.select(col("cid").cast("long").as("cell"),
      col("cv").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("cv")))
    servingTwin(corpus.select(col("vid"), col("v")), isQuery, centroids,
        centArr, nProbe, spill, rerank, k, Tier.PqResidual(codebooks, centArr),
        keep = None) { cells =>
      // each copy's code is taken against its own cell's centroid
      cells.join(cellCv, "cell").withColumn("code",
        Pq.pq_encode(Pq.vec_residual(col("v"), col("cv")), codebooks))
    }
  }

  /** The SQ8 serving twin of the CLI trained tier's `train --sq8` +
    * `knn` path ([[servingTwin]] under [[Tier.Sq8]]): per-dim corpus
    * min/max freeze the quantizer and candidates carry int8-style codes
    * ([[graft.exprs.Sq8Quantize]]). `normRank` cuts on the normalized
    * (reconstructed-cosine) key the CLI tier serves with; without it
    * the plain asymmetric dot. corpus: (vid, v) plus any metadata
    * columns `candFilter` needs; centroids: (cid, cv); queries selected
    * by `isQuery`. `candFilter` is the serving tier's metadata
    * PRE-filter twin, applied to the stored rows before the shortlist
    * cut. Output: (qid, rank, neighbor). */
  def ivfSq8Serving(corpus: DataFrame, isQuery: Column => Column,
      centroids: DataFrame, nProbe: Int, spill: Int,
      rerank: Int, k: Int, candFilter: Option[Column] = None,
      normRank: Boolean = false): DataFrame = {
    val vecs = corpus.withColumn("v",
      col("v").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)))
    val stats = vecs.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
      .map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
      .sortBy(_._1)
    val mn = stats.map(_._2)
    val mx = stats.map(_._3)
    servingTwin(vecs, isQuery, centroids, centroidArray(centroids), nProbe,
        spill, rerank, k, Tier.Sq8(mn, mx, normRank), candFilter) {
      _.withColumn("code", graft.exprs.Sq8.sq8_quantize(col("v"), mn, mx))
    }
  }
}
