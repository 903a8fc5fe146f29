package graft.engine

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{NumberField, SchemaDerivation}
import graft.exprs.CosineSimilarity
import graft.ops.{Ann, Hashing}

/** Vector-search serving over an indexed embedding field — the engine
  * surface that turns the gated ANN query tier ([[graft.ops.Ann]]) into
  * an index-lifecycle feature, the way `search` serves the text tier.
  * The reference has no vector type at all; this is an extension, built
  * on the schema the engine already has: an embedding field is declared
  * as `type: !number {type: f64}` + `array: true` (array<double>
  * storage), nothing new in the ingest path.
  *
  * Two serving tiers, mirroring the ANN query registry's brute/IVF split:
  *
  *  - **Brute** (no training needed): scan the LIVE splits, score every
  *    document's vector against the query with the tight-loop
  *    [[CosineSimilarity]] expression, `TakeOrdered` the top k. Always
  *    fresh, O(corpus) per query — the truth tier and the small-index
  *    default.
  *  - **Trained IVF** (`train` then `knn --nprobe`): k-means centroids
  *    ([[Ann.kmeansTrain]] — the same fixed-point Lloyd's the oracle
  *    gates in `pipe_kmeans_train`, trained on a bounded
  *    smallest-hash sample) persisted under
  *    `indexes/<name>/ann/<field>/`, and the corpus rewritten ONCE into
  *    a `data/` parquet PARTITIONED BY (epoch, cell) via the map-only
  *    broadcast-fed [[graft.exprs.NearestCells]] assignment. A query
  *    ranks the k·dim centroid table driver-side (a model-constant,
  *    memoized per META signature — never a data collect), picks its
  *    nprobe nearest cells, and ONLY the probed directories within the
  *    served epoch range are listed and scanned — the classic IVF
  *    "touch nprobe/k of the corpus" cost realized with Spark partition
  *    layout instead of a custom file format. At 100 TB the data/
  *    rewrite is one shuffle-free pass, and each query reads only its
  *    cells' files.
  *
  * The trained tier's lifecycle past the build: [[refresh]] appends
  * splits committed since (cost ∝ new data, crash-atomic via epoch
  * directories invisible until META references them, coverage
  * translating through lossless-merge lineage), and [[compactEpochs]]
  * folds accumulated epoch directories back to one (the tier's
  * vacuum). META — one atomically-renamed file — is the single commit
  * point carrying model shape, covered generation + splits, and the
  * served epoch range. The CLI prints staleness vs the covered
  * generation so the operator knows when a refresh is due. Output rows
  * carry the same re-nested sorted-key doc JSON as `search`
  * ([[Searcher.outputJson]]) plus the cosine score.
  */
final class AnnIndex(spark: SparkSession, catalog: Catalog) {

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def annRoot(name: String, field: String) =
    new HPath(s"${catalog.catalogRoot}/indexes/$name/ann/$field")
  private def fs(p: HPath) = p.getFileSystem(hconf)

  /** The trained tier's commit record, read ONCE: META through the
    * open-and-catch [[ManifestStore.readString]] (None when no trained
    * index exists), plus the pre-r13 `SPLITS` sidecar only when META
    * carries no `split=` line. Every operation works from one snapshot,
    * so no decision mixes two publishes. */
  def snapshot(name: String, field: String): Option[AnnMeta] = {
    val root = annRoot(name, field)
    catalog.metaStore.readString(new HPath(root, "META")).map(AnnMeta.parse(_,
      catalog.metaStore.readString(new HPath(root, "SPLITS"))))
  }

  /** (cells, sourceGen, spill) from META, None when no trained index
    * exists. */
  def meta(name: String, field: String): Option[(Int, Long, Int)] =
    snapshot(name, field).map(m => (m.cells, m.gen, m.spill))

  private def vectorCol(cfg: graft.config.IndexConfig, field: String): Unit = {
    val f = cfg.schema.fields.find(_.name == field).getOrElse(
      sys.error(s"unknown field '$field'"))
    f.fieldType match {
      case n: NumberField if n.numType == "f64" && f.array => ()
      case _ => sys.error(
        s"field '$field' is not a vector (need type: !number {type: f64} with array: true)")
    }
  }

  /** Live corpus with the vector field present, plus the assembled doc
    * JSON — shared by the brute scan and the train rewrite. */
  private def corpus(name: String): (SchemaDerivation, DataFrame) = {
    val (d, _, df) = corpusOf(name, catalog.liveSplits(name))
    (d, df)
  }

  private def corpusOf(name: String, splits: List[SplitInfo])
      : (SchemaDerivation, List[SplitInfo], DataFrame) = {
    val cfg = catalog.load(name)
    val d = new SchemaDerivation(cfg)
    val df =
      if (splits.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], d.storageSchema)
      else Catalog.readSplits(spark, d, splits, s => catalog.splitDir(name, s.id))
    (d, splits, df)
  }

  /** Per-cell row counts of the trained data/ (spill copies counted;
    * epochs above META's — an uncommitted crashed append — excluded,
    * same visibility rule as [[knn]]) — the skew histogram `stats
    * --ann` prints; one count aggregate over the partition columns,
    * pruned to metadata + row groups. */
  def cellSizes(name: String, field: String): Seq[(Long, Long)] = {
    val m = snapshot(name, field).getOrElse(
      sys.error(s"no trained index for '$field' — run train first"))
    servedRows(annRoot(name, field), m)
      // the partition column's type is directory-name inferred (INT for
      // small ids) — pin it
      .groupBy(col("__cell").cast("long").as("__cell")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
  }

  /** Layout-health census for `stats --ann`: (cell directories, data
    * files) within the SERVED epoch range. files ≫ dirs is the
    * small-files fan-out a pre-writeCells layout carries (one file per
    * write task per cell — every query paid the opens; ProbeVecScale
    * measured 5.4× query latency at 64 files/cell), and
    * `train --compact` rewrites it into the one-file-per-cell form.
    * One bounded directory walk, operator-command cost. */
  def fileStats(name: String, field: String): (Long, Long) =
    snapshot(name, field).fold((0L, 0L)) { m =>
      val root = annRoot(name, field)
      val f = fs(root)
      val cellDirs = epochDirs(root)(m.serves).flatMap(ep =>
        f.listStatus(ep).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("__cell=")))
      (cellDirs.length.toLong, cellDirs.map(c =>
        f.listStatus(c).count(_.getPath.getName.endsWith(".parquet")).toLong).sum)
    }

  /** The `__epoch=N` directories of data/ whose epoch passes `keep` —
    * the one reader of the layout's epoch directory names (a missing
    * data/ lists as none). */
  private def epochDirs(root: HPath)(keep: Long => Boolean): Seq[HPath] = {
    val dataDir = new HPath(root, "data")
    try fs(dataDir).listStatus(dataDir).toSeq.map(_.getPath)
      .filter(p => AnnIndex.partValue(p.getName, "__epoch").exists(keep))
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The rows `m` serves: data/ cut to its [base, epoch] range. */
  private def servedRows(root: HPath, m: AnnMeta): DataFrame =
    spark.read.parquet(new HPath(root, "data").toString).where(inServed(m))

  /** [[AnnMeta.serves]] as a row predicate — the crash contract: rows
    * outside META's [base, epoch] range are an unreferenced append or a
    * retired fold and must stay invisible. */
  private def inServed(m: AnnMeta): Column =
    col("__epoch").between(lit(m.base), lit(m.epoch))

  /** Train the IVF tier: k-means centroids over the field's vectors
    * (seeded by the `cells` smallest content hashes — deterministic, no
    * RNG), then the one-time cell-partitioned rewrite of the stored
    * corpus. Returns (cells, vectors seen).
    *
    * A RETRAIN is staged like a refresh (r14 advice): data rows append
    * into the next invisible epoch, model artifacts land in a fresh
    * `model/<unique>/` directory, and one atomic META publish
    * (`base = epoch = newEpoch`, `model=` pointer) flips the index to
    * them — a CRASH at any point leaves the serving layout untouched on
    * any scheme, and a lost publish race is refused by the tick CAS.
    * Concurrency carries [[withMaintenanceLock]]'s contract: the kernel
    * lock serializes writers on file://, other schemes require external
    * single-writer coordination (the staged epoch directory is a shared
    * numbered path, not per-attempt unique — see the body comment).
    *
    * `cells = 0` (the default) sizes nlist as ⌈√n⌉ — the registry's
    * measured sizing rule (`knn_recall_scaled`): a FIXED cell count
    * dilutes recall as the corpus grows (16 cells / nprobe 2 measured
    * 32% → 14% across a 10× on the gated embeddings) while the √n
    * tier's recall stays FLAT across the same 10× (0.49 → 0.50 at
    * nprobe ⌈√nlist⌉, honest query-disjoint measurement — see
    * ProbeKnnDiag for the seed-bias finding). Absolute recall is
    * nProbe's knob: ProbeKnn measures 0.63 at ⌈√cells⌉ probes and
    * 0.82 at twice that, with files read tracking nProbe exactly.
    *
    * `spill > 1` stores each vector in its `spill` nearest cells — the
    * boundary fix (ScaNN-style spilled assignment): a neighbor that
    * sits just across the Voronoi edge from the query's cell is the
    * dominant recall loss at small nProbe, and duplicating boundary
    * rows into the runner-up cell recovers it for a `spill`× storage
    * cost while READ cost still tracks nProbe (ProbeKnn, spill=2 vs 1:
    * recall@5 0.45 vs 0.32 at nprobe=1, 0.82 vs 0.63 at √nlist, 0.94
    * vs 0.82 at 2·√nlist — same files-read column). Copies carry a
    * shared `__rid`, deduped at query time before the top-k; only
    * spilled indexes pay that exchange. */
    /* `pq > 0` additionally writes an `m = pq` product-quantization code
    * column into data/ (Jégou et al. 2011 — the [[graft.exprs.Pq]]
    * kernels the gated `knn_pq`/`knn_ivf_pq` queries pin): at query
    * time the candidate RANKING pass reads only the skinny
    * (__code, __epoch, __rid) columns — m ints per row instead of dim
    * floats, the memory-bandwidth win that matters when a probed cell
    * holds millions of rows — and only the top-R ADC survivors fetch
    * their full rows for an exact-cosine rerank. Codebooks are TRAINED
    * (r16): 256 codewords per subspace by sample-bounded integer
    * k-means ([[buildCodebooks]] / [[Ann.pqCodebooksTrained]]),
    * persisted in the staged model dir. Measured (ProbeKnn, sf0.1,
    * spill=2 pq=8): recall@5 0.82 at nprobe=7/R=256 and 0.94 at
    * nprobe=14/R=256 — AT the exact-vector tier's level at the same
    * probe budget (the pre-r16 16 untrained seed codewords ceilinged
    * at 0.77–0.79). The shortlist is FIXED size, so raising nProbe
    * without raising `rerank` CROWDS it; the knn `rerank` knob
    * sizes it. */
  def train(name: String, field: String, cells: Int = 0,
      iterations: Int = 4, spill: Int = 1, pq: Int = 0,
      sq8: Boolean = false, calibrate: Boolean = false): (Int, Long) = {
    require(spill >= 1, s"spill must be >= 1, got $spill")
    require(!(sq8 && pq > 0),
      "--sq8 and --pq are alternative candidate-ranking tiers; pick one")
    val cfg = catalog.load(name)
    vectorCol(cfg, field)
    withMaintenanceLock(annRoot(name, field)) {
    val prior = snapshot(name, field)
    val tick0 = prior.fold(0L)(_.tick)
    // STAGED rewrite (r14 advice): a retrain never touches what the
    // current META references. New rows land in the NEXT (invisible)
    // epoch and the model artifacts (centroids / codebooks / sq8 stats)
    // in a fresh model/<unique> directory; the single atomic META
    // publish flips base = epoch = newEpoch + the model pointer. The
    // guarantee this buys (r15-advice scoping): CRASH SAFETY on any
    // scheme — a train that dies mid-write leaves only unreferenced
    // debris (orphan epoch above the served range, unreferenced model
    // dir), swept by the next successful op — and LOST-RACE safety
    // under the concurrency contract [[withMaintenanceLock]] documents
    // (the kernel lock on file://, external single-writer coordination
    // elsewhere). It is NOT lock-free race safety: only the model dir
    // is per-attempt unique; newEpoch derives from the CURRENT META, so
    // two uncoordinated trains on a lock-less scheme would append into
    // the SAME data/__epoch=N+1 directory and the loser's rows
    // (quantized under a different model) would double-serve inside the
    // winner's range. The pre-r15 form was strictly worse — it
    // overwrote data/ and sq8/ in place, so even a coordinated crash
    // corrupted the surviving META's layout.
    val newEpoch = prior.fold(0)(_.epoch + 1)
    prior match {
      // no META has ever referenced data/ — a leftover tree is a
      // crashed first train; replaying on top would double its rows
      case None => catalog.metaStore.deleteDirBestEffort(
        new HPath(annRoot(name, field), "data"))
      // sweep a crashed prior attempt's orphan epochs before appending
      // under the same number
      case Some(m) => dropOrphanEpochs(annRoot(name, field), m)
    }
    val modelName = s"t${tick0 + 1}-${java.util.UUID.randomUUID.toString.take(8)}"
    val modelDir = new HPath(annRoot(name, field), s"model/$modelName")
    // ONE manifest read supplies both the recorded generation and the
    // split list, so META can never claim a generation whose splits it
    // did not actually cover
    val (gen, splits) = catalog.manifestState(name)
    val (_, _, df) = corpusOf(name, splits)
    val vecs = df.where(col(field).isNotNull)
      .select(Hashing.h64(to_json(col(field))).as("vid"),
        expr(s"transform(`$field`, x -> CAST(x AS FLOAT))").as("v"))
    val n = vecs.count()
    require(n > 0, s"no documents carry vectors in '$field'")
    val want = if (cells > 0) cells.toLong
      else math.ceil(math.sqrt(n.toDouble)).toLong
    val kEff = math.min(want, n).toInt
    // Quantizer training is SAMPLE-BOUNDED (standard IVF practice —
    // Lloyd's converges on a representative sample; FAISS trains on
    // min(n, 256·nlist) by default): the smallest-content-hash rule
    // picks a deterministic pseudo-random sample with no RNG, and every
    // k-means round then touches ≤ 256·k vectors instead of the corpus
    // — at n = 10¹⁰ / k = 10⁵ that is 2.6·10⁷ rows per round, not
    // 10¹⁰. TakeOrdered keeps the selection one narrow pass.
    // clamped at Int.MaxValue: limit() takes an Int, and an explicit
    // --cells above ~8.4M would otherwise wrap 256L*kEff negative at
    // exactly the scale tier the sampling exists for
    val sampleCap = math.min(256L * kEff, Int.MaxValue.toLong)
    // train-time OUT-OF-SAMPLE drift anchor (r16 verdict): hold out the
    // holdN LARGEST-hash rows — row-disjoint from the training sample
    // (a smallest-hash prefix) and from the smallest-hash seed window by
    // construction — and record their assignment fit as `fit=` in the
    // same META flip below, so the FIRST refresh batch is a COMPARISON
    // against a clean baseline instead of becoming the baseline. The
    // pre-r17 anchor was the first refresh batch's own fit: a stream
    // that drifted between train and that first refresh anchored on
    // already-drifted data and `--ann-retrain-threshold` read ≈0 ppm
    // forever — the exact quiet degradation the trigger exists to make
    // loud. The anchor must NOT be the in-sample train fit either
    // (ProbeDrift: ~190k ppm in/out-of-sample gap with zero actual
    // shift — every stream would false-trigger). Tiny or degenerate
    // corpora (< 40 rows, or an explicit --cells so large the seed
    // window would overlap the holdout) skip the holdout; there the
    // legacy first-refresh anchoring in [[refresh]] still applies.
    val holdN: Long =
      if (n < 40 || kEff.toLong + math.max(64L, n / 20) > n) 0L
      else math.min(4096L, math.max(64L, n / 20))
    val trainCap = math.min(sampleCap, n - holdN)
    val sample =
      if (n > trainCap) vecs.orderBy(col("vid")).limit(trainCap.toInt)
      else vecs
    // deterministic seed: the kEff vectors with the smallest content
    // hashes (identical vectors collapse — harmless for a seed). The
    // limit leaves its rows in one partition, so a window keyed on the
    // partition id numbers them as an unpartitioned one would
    val init = vecs.dropDuplicates("vid").orderBy(col("vid")).limit(kEff)
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(spark_partition_id())
          .orderBy(col("vid"))).cast("long").as("cid"),
        col("v").as("cv"))
    val rounds = Ann.kmeansTrain(sample, init, iterations)
    val last = rounds.where(col("iter") === iterations)
      .select(col("cell").as("cid"), col("d"), col("cq"))
    val centRows = last.collect().groupBy(_.getLong(0)).toSeq.map {
      case (cid, rows) =>
        (cid, rows.sortBy(_.getLong(1)).map(r => (r.getLong(2).toDouble / 1e6).toFloat).toSeq)
    }
    val root = annRoot(name, field)
    import spark.implicits._
    val cents = centRows.toDF("cid", "cv")
    cents.coalesce(1).write.mode("overwrite")
      .parquet(new HPath(modelDir, "centroids").toString)
    // the held-out slice's fit under the JUST-trained centroids — one
    // holdout-sized broadcast-assignment pass ([[Ann.assignFit]]), the
    // out-of-sample baseline the drift trigger compares refresh batches
    // against (see the holdN comment above)
    val trainFit: Option[Long] =
      if (holdN == 0L) None
      else Option(Ann.assignFit(
          vecs.orderBy(col("vid").desc).limit(holdN.toInt), cents)
        .select(col("fit_ppm")).head().get(0))
        .map(_.asInstanceOf[java.lang.Long].longValue())
    // one-pass rewrite: every STORED column rides along, partitioned by
    // (epoch, nearest-centroid cell(s)) so a query's epoch + cell
    // filters prune whole directories; the top-spill selection is a
    // map-only tight-loop expression fed by a BROADCAST centroid table
    // ([[graft.exprs.NearestCells]] — plan size independent of k; the
    // per-centroid-literal form became a multi-hundred-MB Catalyst tree
    // at 10⁵ cells). __rid ties a row's spill copies together for
    // query-time dedup.
    val centArr =
      centRows.sortBy(_._1).map { case (cid, cv) => (cid, cv.toArray) }.toArray
    val pqCb: Option[graft.exprs.Pq.Codebooks] =
      if (pq > 0)
        Some(buildCodebooks(vecs, pq, iterations, n,
          residualAgainst = Some(cents)))
      else None
    // the fresh model dir holds ONLY this train's artifacts — a pq=0
    // retrain over a previously pq>0 index simply writes no codebooks,
    // and the old model dir (with its codebooks) is swept post-publish
    pqCb.foreach(writeCodebooks(modelDir, _))
    // SQ8 tier: per-dim corpus min/max (one narrow aggregate, dim-sized
    // collect — the BM25-stats pattern) persisted as the quantizer the
    // whole lifecycle shares; refresh/compact reuse it FROZEN, like the
    // centroids, so stored codes from different epochs stay comparable
    val sqStats: Option[(Array[Double], Array[Double])] =
      if (sq8) {
        val st = vecs.select(posexplode(col("v")).as(Seq("d", "x")))
          .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
          .collect()
          .map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
          .sortBy(_._1)
        Some((st.map(_._2), st.map(_._3)))
      } else None
    // the shortlist tier a query of this layout serves with
    val tier: Option[Ann.Tier] =
      pqCb.map(cb => Ann.Tier.PqResidual(cb, centArr): Ann.Tier).orElse(
        sqStats.map { case (mn, mx) => Ann.Tier.Sq8(mn, mx, normalized = true) })
    sqStats.foreach { case (mn, mx) =>
      mn.indices.map(i => (i, mn(i), mx(i))).toDF("d", "mn", "mx")
        .coalesce(1).write.mode("overwrite")
        .parquet(new HPath(modelDir, "sq8").toString)
    }
    val bcCents = spark.sparkContext.broadcast(centArr)
    // RESIDUAL codes (r17): the code depends on the copy's cell, so the
    // encode moves AFTER the cell explode (one broadcast join of the
    // tiny model table per copy — [[withResidualCode]])
    val data0 = withSq8(df.where(col(field).isNotNull), field, sqStats)
      .withColumn("__rid", monotonically_increasing_id())
      .withColumn("__epoch", lit(newEpoch.toLong))
      .withColumn("__cell", explode(
        graft.exprs.NearestCells.nearest_cells(col(field), bcCents, spill)))
    val data = pqCb.fold(data0)(withResidualCode(data0, field, _, centArr))
    // optional RECALL CALIBRATION (r17; END-TO-END since r18): measure,
    // on the bounded train sample, the recall@5 at a doubling nprobe
    // grid, and persist the curve in the model dir so `knn
    // --target-recall R` can pick the smallest sufficient nprobe without
    // the operator hand-sweeping (the FAISS parameter-sweep workflow as
    // a train option). Queries are the 16 LARGEST-hash vectors
    // (train-disjoint whenever the corpus exceeds the sample cap — the
    // holdout end); truth is brute cosine over the SAME sample — the
    // curve's scope is the TRAIN SAMPLE, not the full corpus (cell
    // densities can differ; the r17 advice note rides the stats
    // output). TWO arms per grid point:
    //  - probe arm: spill-cell layout + query-side nprobe cells + exact
    //    cosine within probed cells — PROBE loss alone;
    //  - served arm (r17 verdict #1): the FULL serve path — the trained
    //    tier's quantized shortlist at the default rFetch (residual ADC
    //    with MIN-over-copies for pq, the normalized sq8 cos-key for
    //    sq8) + exact-cosine rerank of the survivors — so the persisted
    //    number is what `--target-recall R` actually guarantees; the
    //    pre-r18 probe-only curve let the PQ/SQ8 shortlist lose recall
    //    the lookup never saw. Raw (unquantized) layouts serve exactly
    //    the probe shape, so the arms coincide there.
    // `--target-recall` picks off the SERVED column; the probe column
    // stays for diagnosis (stats prints both). Cost per grid point:
    // ≤ 16 queries × sample rows, ≤ ~log2(nlist)+1 points; artifacts
    // land in the (unreferenced-until-META) model dir, so a crash
    // leaves only sweepable debris.
    if (calibrate) {
      import spark.implicits._
      val q2 = vecs.orderBy(col("vid").desc).limit(math.min(16L, n).toInt)
        .select(col("vid").as("qid"), col("v").as("qv"))
        .localCheckpoint(eager = false)
      val samp = sample.localCheckpoint(eager = false)
      val truth = Ann.brute(q2, samp, k = 5)
        .select(col("qid"), col("neighbor"))
        .localCheckpoint(eager = false)
      val lay0 = samp.withColumn("__cell", explode(
        graft.exprs.NearestCells.nearest_cells(col("v"), bcCents, spill)))
      // the layout with the SERVED tier's code column attached — the
      // same encode the rewrite below stores (residual codes per copy
      // for pq, frozen-stats sq8 otherwise), so the served arm ranks
      // exactly what a query would
      val lay = pqCb.map(cb => withResidualCode(lay0, "v", cb, centArr))
        .orElse(sqStats.map(st => withSq8(lay0, "v", Some(st))))
        .getOrElse(lay0)
        .localCheckpoint(eager = false)
      val nTruth = truth.count()
      // ends at the TRAINED cell count: k-means drops empty cells, so
      // probing kEff cells may name a setting the index does not have
      val grid = (Iterator.iterate(1)(_ * 2).takeWhile(_ < centArr.length)
        .toSeq :+ centArr.length).distinct
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("__c").desc, col("vid").asc)
      def top5(scored: DataFrame): DataFrame = scored
        .withColumn("__rn", row_number().over(w2))
        .where(col("__rn") <= 5)
        .select(col("qid"), col("vid").as("neighbor"))
      def recallOf(approx: DataFrame): Long = {
        val hits = truth.join(approx, Seq("qid", "neighbor")).count()
        if (nTruth == 0) 1000000L else hits * 1000000L / nTruth
      }
      val curve = grid.map { np =>
        val probes = q2.withColumn("__pcell", explode(
          graft.exprs.NearestCells.nearest_cells(col("qv"), bcCents, np)))
        val cand = probes
          .join(lay, col("__pcell") === col("__cell"))
          .where(col("vid") =!= col("qid"))
        val probeArm = top5(cand
          .dropDuplicates("qid", "vid")
          .withColumn("__c",
            CosineSimilarity.cosine_similarity(col("v"), col("qv"))))
        // the quantized tiers rank ONCE per grid point and cut at both
        // shortlist budgets — the second column is what escalating
        // --rerank (cheaper than escalating nprobe: extra row fetches,
        // not extra cell scans) would buy at this np (ProbeOpq
        // measured the default 64-slot shortlist ~0.2 below 256 under
        // probe pressure — the knob must be in the curve to be picked).
        // Identical vectors share a content-hash vid (the sample keeps
        // every physical row), so their rows reduce like spill copies.
        val rankedCk = tier.map(t => Ann.shortlist(probes,
            lay.select(col("__cell").as("cell"),
              col(AnnIndex.codeCol(t)).as("code"), col("vid")),
            t, Seq("vid"), spill = true, rerank = AnnIndex.CalibRerankHi,
            pair = Some(col("vid") =!= col("qid")))
          .localCheckpoint(eager = false))
        // raw layout: the serve path IS the probe shape
        def servedAt(rf: Int): DataFrame = rankedCk.fold(probeArm) { r =>
          // dedup the rerank relation too, or each survivor re-enters
          // once per copy and row_number admits the copies into the top-5
          top5(r.where(col("rank") <= rf)
            .join(samp.select(col("vid"), col("v"))
              .dropDuplicates("vid"), "vid")
            .withColumn("__c",
              CosineSimilarity.cosine_similarity(col("v"), col("qv"))))
        }
        (np, recallOf(probeArm), recallOf(servedAt(AnnIndex.CalibRerank)),
          recallOf(servedAt(AnnIndex.CalibRerankHi)))
      }
      curve.toDF("np", "recall_ppm", "served_ppm", "served_hi_ppm")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(new HPath(modelDir, "calib").toString)
    }
    // ONE cell-keyed exchange before the fan-out write: without it every
    // write task emits a file into every cell directory it touches
    // (tasks × cells files — ProbeVecScale measured 64 files/cell at
    // 200k rows/32 tasks, and every query paid the open cost), with it
    // each cell collapses to one file per maxRecordsPerFile chunk. The
    // shuffle is the honest price of read locality, paid once at train.
    // APPEND into the staged (invisible) epoch — the current META's
    // served range is untouched until the publish below flips to it.
    writeCells(data, new HPath(root, "data"), overwrite = false)
    val published = AnnMeta(tick = tick0 + 1, cells = centRows.length,
      gen = gen, spill = spill, epoch = newEpoch, pq = pq, sq8 = sq8,
      pqRes = pq > 0, base = newEpoch, model = Some(modelName),
      fit = trainFit, reqCells = Some(cells), trainIters = Some(iterations),
      splits = splits.map(_.id).toSet)
    writeMeta(name, field, published)
    // committed: retire everything the new META no longer references —
    // pre-train epochs (already invisible) and prior model dirs
    dropOrphanEpochs(root, published)
    sweepStaleModels(root, keep = modelName, publishedTick = tick0 + 1)
    (centRows.length, n)
    }
  }

  /** Best-effort removal of retired model/<*> directories after a
    * successful META publish, plus the legacy root-level
    * centroids/codebooks/sq8 dirs a pre-staging train wrote in place.
    *
    * TICK-BOUNDED (r15 advice): model dirs are named `t<tick>-<uuid>`,
    * where `<tick>` is the tick their train's publish targets. Only
    * dirs whose tick is <= `publishedTick` (and that are not the one
    * just published) are swept — those are PROVABLY doomed, because
    * their CAS expects a tick this publish already consumed. A dir with
    * a HIGHER tick may belong to a train that started after this
    * publish and is racing this very sweep (the publish-vs-sweep window
    * the unconditional form had); it is left alone and retired by that
    * train's own sweep, or by the next one here once its tick is
    * consumed. Unparsable names were never written by the engine and
    * are left untouched. */
  private def sweepStaleModels(root: HPath, keep: String,
      publishedTick: Long): Unit = {
    val mdir = new HPath(root, "model")
    val f = fs(mdir)
    def tickOf(n: String): Option[Long] =
      if (n.startsWith("t") && n.contains("-"))
        n.substring(1, n.indexOf('-')).toLongOption
      else None
    if (f.exists(mdir))
      f.listStatus(mdir).foreach { st =>
        val n = st.getPath.getName
        if (n != keep && tickOf(n).exists(_ <= publishedTick))
          try { f.delete(st.getPath, true); () }
          catch { case scala.util.control.NonFatal(_) => () }
      }
    Seq("centroids", "codebooks", "sq8").foreach { nm =>
      catalog.metaStore.deleteDirBestEffort(new HPath(root, nm))
    }
    // a retrain retires every pre-train epoch, so any tombstones (which
    // reference rows of those epochs) are dead with them
    catalog.metaStore.deleteDirBestEffort(new HPath(root, "tombstones"))
  }

  /** The one layout-write path: cell-keyed repartition (read locality —
    * one file per cell per [[Indexer.MaxRecordsPerFile]] chunk instead
    * of one per write task per cell; ProbeVecScale measured the
    * per-task fan-out at 64 files/cell and a 5.4× query-latency cost)
    * + the (epoch, cell) directory fan-out every query's partition
    * pruning relies on. A hot cell serializes into one writer task —
    * acceptable because k-means cells are ~n/k-sized by construction
    * and the skew levers (cells, spill) already govern cell balance;
    * maxRecordsPerFile chunks a giant cell into readable pieces either
    * way. */
  private def writeCells(data: DataFrame, dataDir: HPath,
      overwrite: Boolean): Unit =
    data.repartition(col("__epoch"), col("__cell"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .option("maxRecordsPerFile", Indexer.MaxRecordsPerFile)
      .partitionBy("__epoch", "__cell")
      .parquet(dataDir.toString)

  private def withCode(df: DataFrame, field: String,
      cb: Option[graft.exprs.Pq.Codebooks]): DataFrame = cb match {
    case Some(c) =>
      df.withColumn("__code", graft.exprs.Pq.pq_encode(col(field), c))
    case None => df
  }

  /** Attach RESIDUAL PQ codes to an already-cell-exploded layout
    * (IVFADC, r17 — [[graft.ops.Ann.residuals]]' arithmetic on the
    * engine path): each spilled copy encodes `v − centroid(its cell)`,
    * the per-cell centroid arriving via one broadcast join of the tiny
    * model table. Must run AFTER the `__cell` explode (the code depends
    * on the cell), unlike the legacy raw [[withCode]] that runs before
    * it. The float cast matches the codebook training domain
    * ([[buildCodebooks]] trains on float-cast residuals). */
  private def withResidualCode(df: DataFrame, field: String,
      cb: graft.exprs.Pq.Codebooks,
      centArr: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    val cellCv = broadcast(centArr.toSeq
      .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("__cell", "__ccv"))
    df.join(cellCv, "__cell")
      .withColumn("__code", graft.exprs.Pq.pq_encode(
        graft.exprs.Pq.vec_residual(
          expr(s"transform(`$field`, x -> CAST(x AS FLOAT))"),
          col("__ccv")), cb))
      .drop("__ccv")
  }

  /** Attach the stored `__sq8` code column (256-bin per-dim scalar
    * quantization under the FROZEN train-time stats) — the candidate
    * column the SQ8 serving tier ranks on with an exact integer dot
    * product: ~1 byte/dim under parquet's int packing vs 8 for the
    * stored f64 vector, the middle recall/bandwidth point between the
    * exact tier (full-vector reads) and PQ (m bytes, recall ceiling). */
  private def withSq8(df: DataFrame, field: String,
      st: Option[(Array[Double], Array[Double])]): DataFrame = st match {
    case Some((mn, mx)) =>
      df.withColumn("__sq8", graft.exprs.Sq8.sq8_quantize(
        expr(s"transform(`$field`, x -> CAST(x AS FLOAT))"), mn, mx))
    case None => df
  }

  /** PQ codebooks for serving: TRAINED per-subspace integer k-means
    * ([[Ann.pqCodebooksTrained]] — the gated `knn_serving_recall`
    * construction; only the seed SELECTION differs here, by smallest
    * content hash instead of a vid window — the train-seed
    * discipline). 256 codewords per subspace (the FAISS 8-bit
    * standard; the pre-r16 16 untrained seed codewords were the PQ
    * tier's measured quality ceiling — serving recall 0.94/0.82 vs
    * SQ8's 0.96/0.91; trained codebooks measure 0.96/0.90 on the
    * registry twin, and RESIDUAL-trained ones — `residualAgainst`,
    * the r17 default, mirroring the registry's 1.00/0.96 — lift the
    * within-cell precision further). Training is SAMPLE-BOUNDED at
    * 256·codewords vectors by the same smallest-hash rule as the
    * coarse quantizer — corpus-size-independent train cost. */
  private def buildCodebooks(vecs: DataFrame, numSub: Int,
      iterations: Int, n: Long,
      residualAgainst: Option[DataFrame] = None): graft.exprs.Pq.Codebooks = {
    val codewords = 256
    val sampleCap = 256L * codewords
    val sample =
      if (n > sampleCap) vecs.orderBy(col("vid")).limit(sampleCap.toInt)
      else vecs
    // RESIDUAL training (IVFADC, r17 — the default for every new
    // `train --pq`): subtract each SAMPLE vector's rank-1 trained
    // centroid before the subspace k-means, so the 256 codewords spend
    // on the within-cell remainder (the sample is cut first — the
    // residual pass costs sampleCap assignments, not a corpus pass)
    val trainSet = residualAgainst.fold(sample)(c => Ann.residuals(sample, c))
    Ann.pqCodebooksTrained(trainSet, numSub, seedLo = Long.MinValue,
      codewords = codewords, iterations = iterations)
  }

  private def writeCodebooks(root: HPath,
      cb: graft.exprs.Pq.Codebooks): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (cws, s) =>
      cws.zipWithIndex.map { case (cw, c) => (s, c, cw) }
    }.toDF("s", "c", "dq").coalesce(1)
      .write.mode("overwrite")
      .parquet(new HPath(root, "codebooks").toString)
  }

  private def readCodebooks(root: HPath): graft.exprs.Pq.Codebooks =
    spark.read.parquet(new HPath(root, "codebooks").toString)
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).toSeq.map(_.getSeq[Long](2))
      }

  /** Incrementally extend a trained index to splits committed since the
    * build: assign ONLY the new splits' vectors with the EXISTING
    * centroids (no k-means rerun) and APPEND their cell partitions —
    * refresh cost is proportional to the new data, not the corpus, so
    * steady ingest keeps the served tier fresh without the full-rebuild
    * price. Returns (new splits covered, vectors appended).
    *
    * Compaction survival: a merge/compaction replaces covered splits
    * with produced ones that CONTAIN their documents. When the manifest
    * records the merge as LOSSLESS ([[SplitInfo.parents]] — doc counts
    * preserved, committed atomically with the swap), refresh TRANSLATES
    * its coverage through the lineage (consumed ids out, produced ids
    * in) and continues — the routine 100 TB compaction no longer forces
    * a corpus-scale retrain. Translation iterates, so any number of
    * merges between refreshes resolves as long as each merge's consumed
    * set was covered; a doc-dropping merge (`--dedup`) records no
    * lineage and still fails loudly to a full retrain (its removed
    * duplicates are in data/ and would be over-served under a
    * translated claim of exactly-once).
    *
    * Crash atomicity (the invisible-until-referenced discipline): new
    * rows land under an epoch-named partition directory
    * (`data/__epoch=N/`) that queries ignore until META — ONE
    * atomically-renamed file carrying epoch + covered splits — points
    * at it; a crash between the append and the META publish leaves
    * orphan directories that the next refresh detects by listing and
    * deletes before re-appending, so replays can never double-serve.
    * Each row's (__epoch, __rid) pair identifies it across batches with
    * zero cross-batch coordination. Centroids do drift as the corpus
    * grows; the quantizer is only as good as its training set, which is
    * the standard IVF trade — retrain on a cadence, refresh between. */
  def refresh(name: String, field: String): (Int, Long) = {
    val cfg = catalog.load(name)
    vectorCol(cfg, field)
    withMaintenanceLock(annRoot(name, field)) {
    val m = snapshot(name, field).getOrElse(
      sys.error(s"no trained index for '$field' — run train first"))
    val (gen, live) = catalog.manifestState(name)
    val covered = translateThroughMerges(m.splits, live)
    val liveIds = live.map(_.id).toSet
    val gone = covered.diff(liveIds)
    require(gone.isEmpty,
      s"covered split(s) no longer live and not translatable through a " +
        s"lossless merge lineage: ${gone.take(3).mkString(", ")} — " +
        "refresh would double-serve their documents; re-run a full train")
    val root = annRoot(name, field)
    val newSplits = live.filterNot(s => covered(s.id))
    if (newSplits.isEmpty) {
      // nothing to append; still publish the translated coverage and
      // the current generation so the staleness note clears (and a
      // post-merge translation sticks without waiting for new data)
      writeMeta(name, field,
        m.copy(tick = m.tick + 1, gen = gen, splits = covered))
      return (0, 0L)
    }
    // a refresh that crashed between its append and its META publish
    // left orphan epoch directories no query can see — delete them
    // before re-appending the same splits under the same epoch number
    dropOrphanEpochs(root, m)
    val (_, _, df) = corpusOf(name, newSplits)
    // the model artifacts come through the serving cache; should META
    // change after the snapshot above, the tick CAS refuses the publish
    val served = servingModel(name, field).getOrElse(
      sys.error(s"META for '$name.$field' vanished during refresh"))
    val centArr = served.cents
    val epoch = m.epoch + 1
    val base = df.where(col(field).isNotNull)
    val nNew = base.count()
    val bcCents = spark.sparkContext.broadcast(centArr)
    // frozen-model encode of the appended rows: residual layouts
    // (pqres=1, every r17+ train) encode per copy AFTER the cell
    // explode; legacy raw layouts keep the one-code-per-row path so
    // their stored codes stay comparable across epochs
    val fresh0 = withSq8(
        withCode(base, field, served.tier.collect { case Ann.Tier.Pq(cb) => cb }),
        field, served.tier.collect { case Ann.Tier.Sq8(mn, mx, _) => (mn, mx) })
      .withColumn("__rid", monotonically_increasing_id())
      .withColumn("__epoch", lit(epoch.toLong))
      .withColumn("__cell", explode(
        graft.exprs.NearestCells.nearest_cells(col(field), bcCents, m.spill)))
    val fresh = served.tier match {
      case Some(Ann.Tier.PqResidual(cb, _)) =>
        withResidualCode(fresh0, field, cb, centArr)
      case _ => fresh0
    }
    // out-of-sample FIT of this batch against the frozen centroids —
    // one batch-sized broadcast-assignment pass (integer ppm, see
    // [[Ann.assignFit]]). The anchor is normally the TRAIN-time
    // held-out fit (`fit=` published by [[train]] since r17); only a
    // legacy/tiny-corpus META with no train anchor falls back to
    // anchoring on this first batch (the .orElse below)
    val batchFit: Option[Long] = {
      import spark.implicits._
      val centDf = centArr.toSeq
        .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
      Option(Ann.assignFit(
          base.select(monotonically_increasing_id().as("vid"),
            expr(s"transform(`$field`, x -> CAST(x AS FLOAT))").as("v")),
          centDf)
        .select(col("fit_ppm")).head().get(0))
        .map(_.asInstanceOf[java.lang.Long].longValue())
    }
    // batch-sized cell-keyed exchange: one file per touched cell in the
    // new epoch instead of one per task per cell (see writeCells)
    writeCells(fresh, new HPath(root, "data"), overwrite = false)
    writeMeta(name, field, m.copy(tick = m.tick + 1, gen = gen,
      epoch = epoch, fit = m.fit.orElse(batchFit), lastFit = batchFit,
      splits = covered ++ newSplits.map(_.id)))
    (newSplits.length, nNew)
    }
  }

  /** Fold every served epoch directory into ONE — the vector tier's
    * vacuum. A long-lived stream refreshes per batch and each refresh is
    * its own `data/__epoch=N/` directory tree; after thousands of
    * batches the directory count (epochs × touched cells), not the data
    * volume, dominates listing and open costs. Compaction rewrites the
    * served rows once — SAME centroids, no k-means, cost ∝ stored data
    * like [[train]]'s rewrite — into the next (invisible) epoch, then
    * publishes `base = epoch = K+1` in one atomic META rename; the
    * retired directories are best-effort deleted after the commit point
    * and swept by [[dropOrphanEpochs]] if that is interrupted. Row
    * identities are RE-KEYED (spill copies of one row keep a shared
    * fresh `__rid`; pairs from different old epochs can collide once
    * they share the folded epoch), which is safe because identities
    * only ever live inside one serving snapshot — nothing outside
    * data/ references them. Returns (epochs folded, rows rewritten),
    * (0, 0) when a single epoch is already served. */
  def compactEpochs(name: String, field: String): (Int, Long) = {
    val cfg = catalog.load(name)
    vectorCol(cfg, field)
    withMaintenanceLock(annRoot(name, field)) {
    val m = snapshot(name, field).getOrElse(
      sys.error(s"no trained index for '$field' — run train first"))
    val root = annRoot(name, field)
    // a single served epoch with no tombstones has nothing to fold; a
    // tombstoned layout folds even at one epoch (the fold is what turns
    // the logical deletes physical)
    if (m.base == m.epoch && m.tomb.isEmpty) return (0, 0L)
    // sweep uncommitted leftovers first so the fold sees exactly the
    // served range, then rewrite it into the next (invisible) epoch
    dropOrphanEpochs(root, m)
    val dataDir = new HPath(root, "data")
    // the fold is where --dedup tombstones go physical: retired rows
    // drop out of the rewrite and the fresh META carries no tomb=
    val rows = antiTomb(root, m.tomb)(servedRows(root, m))
    val next = m.epoch + 1
    // fresh __rid per LOGICAL row: spill copies share their old
    // (__epoch, __rid) pair and must keep sharing the new id (query-time
    // dedup collapses on it); distinct old pairs get a unique monotonic
    // id and the rows join it back — two corpus-keyed exchanges, the
    // honest price of a rewrite, still centroid-free
    val folded =
      if (m.spill > 1) {
        val ids = rows.select(col("__epoch").as("__oe"), col("__rid").as("__or"))
          .distinct()
          .withColumn("__nrid", monotonically_increasing_id())
        rows.join(ids,
            rows("__epoch") === ids("__oe") && rows("__rid") === ids("__or"))
          .drop("__epoch", "__rid", "__oe", "__or")
          .withColumnRenamed("__nrid", "__rid")
          .withColumn("__epoch", lit(next.toLong))
      } else
        rows.drop("__epoch").drop("__rid")
          .withColumn("__rid", monotonically_increasing_id())
          .withColumn("__epoch", lit(next.toLong))
    writeCells(folded, dataDir, overwrite = false)
    val published = m.copy(tick = m.tick + 1, base = next, epoch = next,
      tomb = None)
    val n = servedRows(root, published).count()
    writeMeta(name, field, published)
    // retired directories are already invisible; delete is cleanup only
    dropOrphanEpochs(root, published)
    // folded tombstones (the fresh META carries no tomb=) are dead;
    // best-effort sweep of the whole sidecar tree
    if (m.tomb.isDefined)
      catalog.metaStore.deleteDirBestEffort(new HPath(root, "tombstones"))
    (m.epoch - m.base + 1, n)
    }
  }

  /** Coverage translation through lossless-merge lineage: live splits
    * whose `parents` are all covered replace their parents in the
    * covered set; iterated to honor several merges committed since the
    * last refresh (merge order is immaterial — each produced GROUP
    * translates only once its whole consumed set resolves). The loop is
    * bounded by the number of distinct parent groups. */
  private def translateThroughMerges(covered0: Set[String],
      live: List[SplitInfo]): Set[String] = {
    var covered = covered0
    val groups = live.filter(_.parents.nonEmpty)
      .groupBy(_.parents).toList
    var changed = true
    while (changed) {
      changed = false
      groups.foreach { case (pars, produced) =>
        val ids = produced.map(_.id)
        if (!ids.forall(covered) && pars.forall(covered)) {
          covered = covered -- pars ++ ids
          changed = true
        }
      }
    }
    covered
  }

  /** Epoch directories of data/ OUTSIDE the served [base, epoch] range —
    * above it, writable only by a refresh/compaction that crashed before
    * its META publish; below it, retired by a committed compaction whose
    * post-publish delete didn't finish. Both are invisible to queries
    * (the epoch range filter) and swept here before the next append. */
  private def dropOrphanEpochs(root: HPath, m: AnnMeta): Unit =
    epochDirs(root)(e => !m.serves(e)).foreach { p =>
      try { fs(p).delete(p, true); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Whether the stored PQ codes are RESIDUAL codes (see
    * [[AnnMeta.pqRes]]). */
  def pqResOf(name: String, field: String): Boolean =
    snapshot(name, field).exists(_.pqRes)

  /** PQ subspace count of the trained index (0 = no code column). */
  def pqOf(name: String, field: String): Int =
    snapshot(name, field).fold(0)(_.pq)

  /** Whether the trained index stores the SQ8 integer-code column. */
  def sq8Of(name: String, field: String): Boolean =
    snapshot(name, field).exists(_.sq8)

  /** Served epoch range (base, epoch) — equal after a compaction (or a
    * fresh train); the spread is the directory-growth signal `stats
    * --ann` surfaces so the operator knows when `train --compact` pays. */
  def epochSpan(name: String, field: String): (Int, Int) =
    snapshot(name, field).fold((0, 0))(m => (m.base, m.epoch))

  /** [[AnnMeta.driftPpm]] of the served META. */
  def driftPpm(name: String, field: String): Option[Long] =
    snapshot(name, field).flatMap(_.driftPpm)

  /** The trained tier's knobs — what a policy-driven retrain must
    * preserve: storage shape (spill, pq, sq8) PLUS the operator's
    * explicit sizing (`--cells N`, 0 = census √n) and train iterations
    * (r16 advice: a drift-triggered retrain that replayed only the
    * storage knobs silently reset an explicit nlist to census sizing
    * and iterations to the default, changing the tier's read-latency
    * profile without the operator asking). Pre-r17 METAs carry no
    * `reqcells=`/`titer=` lines and fall back to (0, 4) — the defaults
    * those trains actually ran with. */
  def tierKnobs(name: String, field: String): (Int, Int, Boolean, Int, Int) =
    snapshot(name, field).fold((1, 0, false, 0, 4))(m => (m.spill, m.pq,
      m.sq8, m.reqCells.getOrElse(0), m.trainIters.getOrElse(4)))

  /** The served model directory name (`t<tick>-<uuid>`) — changes
    * exactly when a retrain publishes; None on legacy root-level
    * layouts. */
  def modelOf(name: String, field: String): Option[String] =
    snapshot(name, field).flatMap(_.model)

  /** The active tombstone directory name (under `tombstones/`), None
    * when no `--dedup` merge has retired rows since the last
    * train/compact. */
  def tombOf(name: String, field: String): Option[String] =
    snapshot(name, field).flatMap(_.tomb)

  /** The recall calibration curve a `train --calibrate` persisted —
    * (nprobe, probe recall_ppm, SERVED recall_ppm at the default
    * shortlist, served recall_ppm at the escalated
    * [[AnnIndex.CalibRerankHi]] shortlist) ascending by nprobe — or
    * None when the served model was trained without one. The served
    * columns replay the full quantized-shortlist + rerank path (r17
    * verdict #1) and are what `knn --target-recall` picks from —
    * including the CHEAPER escalation axis when the default shortlist
    * is the binding loss (extra row fetches, not extra cell scans).
    * Legacy artifacts degrade gracefully: a probe-only curve reads its
    * probe column into every slot; an early-r18 three-column curve
    * reads served into the hi slot. Consumed by `knn --target-recall`
    * and `stats --ann`. */
  def readCalib(name: String, field: String)
      : Option[Seq[(Int, Long, Long, Long)]] =
    calibIn(modelDir(annRoot(name, field),
      snapshot(name, field).flatMap(_.model)))

  /** The directory holding a META's model artifacts: staged trains name
    * it with `model=`; a legacy (pre-staging) META has none and its
    * train wrote them in place at the root. */
  private def modelDir(root: HPath, model: Option[String]): HPath =
    model.fold(root)(v => new HPath(root, s"model/$v"))

  private def calibIn(mroot: HPath): Option[Seq[(Int, Long, Long, Long)]] = {
    val p = new HPath(mroot, "calib")
    if (!fs(p).exists(p)) None
    else {
      val df = spark.read.parquet(p.toString)
      val cols = df.columns.toSet
      Some(df.collect()
        .map { r =>
          val probe = r.getAs[Long]("recall_ppm")
          val served =
            if (cols("served_ppm")) r.getAs[Long]("served_ppm") else probe
          val hi =
            if (cols("served_hi_ppm")) r.getAs[Long]("served_hi_ppm")
            else served
          (r.getAs[Int]("np"), probe, served, hi)
        }
        .sortBy(_._1).toSeq)
    }
  }

  /** Serve-time tombstone PRESSURE: (retired identities, stored logical
    * rows) — None when the META carries no tombstones, so a policy that
    * polls this per batch pays one metadata read until a `--dedup` merge
    * actually retires rows. The stored side divides the physical count
    * by `spill` (every logical row stores exactly `spill` copies; the
    * tombstone side is already per-identity), keeping the share a
    * like-for-like fraction; both counts are parquet-metadata cheap.
    * Consumed by the streaming `annTombstoneThreshold` policy and
    * `stats --ann`. */
  def tombstoneShare(name: String, field: String): Option[(Long, Long)] =
    snapshot(name, field).flatMap(m => m.tomb.map { td =>
      val root = annRoot(name, field)
      val t = spark.read
        .parquet(new HPath(root, s"tombstones/$td").toString).count()
      // nearest_cells emits min(spill, nlist) copies per row — clamp
      // the divisor to the cell count or an index with fewer cells
      // than spill under-counts its logical rows and the streaming
      // fold policy fires earlier than the configured share (r17
      // advice). Both counts stay parquet-metadata cheap.
      val copies = math.max(1, math.min(m.spill, m.cells))
      (t, math.max(1L, servedRows(root, m).count() / copies))
    })

  /** Serve-time tombstone exclusion: anti-join the (tiny — ∝ deletes,
    * broadcast) retired-row set against a trained-layout scan. A
    * tomb-less META costs exactly nothing; a tombstoned one reads the
    * sidecar ONCE per directory name — tombstone dirs are immutable
    * (every publish writes a fresh `t<tick>-<uuid>` name), so the
    * process-wide LRU can never serve a stale set, and per-query
    * small-file GETs (the refetch-storm class the serving-model and
    * digest caches exist for) never happen. */
  private def antiTomb(root: HPath, tomb: Option[String])(
      df: DataFrame): DataFrame =
    tomb.fold(df) { td =>
      val key = new HPath(root, s"tombstones/$td").toString
      val rows = Option(AnnIndex.tombCache.get(key)).getOrElse {
        val r = spark.read.parquet(key)
          .select(col("__epoch").cast("long"), col("__rid").cast("long"))
          .collect().map(x => (x.getLong(0), x.getLong(1)))
        AnnIndex.tombCache.put(key, r)
        r
      }
      import spark.implicits._
      df.join(broadcast(rows.toSeq.toDF("__epoch", "__rid")),
        Seq("__epoch", "__rid"), "left_anti")
    }

  /** Every field of `name` with a trained ANN tier (a META under
    * `ann/<field>/`). */
  def trainedFields(name: String): Seq[String] = {
    val adir = new HPath(s"${catalog.catalogRoot}/indexes/$name/ann")
    val f = fs(adir)
    if (!f.exists(adir)) Nil
    else f.listStatus(adir).toSeq.map(_.getPath.getName)
      .filter(fl => meta(name, fl).isDefined).sorted
  }

  /** Align the trained tier with a `--dedup` merge WITHOUT a retrain
    * (r14 #5, built r16): the merge collapses exact-duplicate documents
    * in the corpus; the stored layout still holds every copy. This pass
    * TOMBSTONES the layout's surplus copies — one content-keyed scan
    * over the served rows (the same content identity the merge dedups
    * on and the knn tie-break hashes: every declared column plus the
    * dynamic JSON), keep the (epoch, rid)-smallest copy per content
    * group — and swaps the consumed split ids for the produced split in
    * the SAME atomic META publish, so coverage and the retired-row set
    * can never disagree. Cost ∝ one layout scan + the (tiny) tombstone
    * write — no k-means, no rewrite; the pre-r16 behavior forced a
    * corpus-scale retrain. Serving anti-joins the broadcast tombstone
    * set ([[antiTomb]]); [[compactEpochs]] folds it away physically.
    *
    * Precondition (loud): the tier must have covered every consumed
    * split — a layout missing one of the merge's inputs cannot claim
    * the produced split's content. Returns retired-copy count. */
  def dedupSync(name: String, field: String, consumed: Set[String],
      produced: SplitInfo): Long = {
    val cfg = catalog.load(name)
    vectorCol(cfg, field)
    val d = new SchemaDerivation(cfg)
    withMaintenanceLock(annRoot(name, field)) {
      val m = snapshot(name, field).getOrElse(sys.error(
        s"no trained index for '$field' — nothing to dedup-sync"))
      val missing = consumed.diff(m.splits)
      require(missing.isEmpty,
        s"dedup merge consumed split(s) the trained tier never covered " +
          s"(${missing.take(3).mkString(", ")}) — the layout cannot claim " +
          "the produced split; re-run a full train")
      val root = annRoot(name, field)
      val (gen, _) = catalog.manifestState(name)
      val rows = servedRows(root, m)
      // spill copies share (__epoch, __rid) — collapse them first so a
      // kept row's own spill copies are never tombstoned. DELETE identity
      // is 192 bits (r16 advice): the 64-bit contentTieBreak is fine as a
      // sort tie-break (a collision there only reorders equal-score
      // output), but as the key that decides which rows get DESTROYED it
      // must match mergeDedup's full-column dropDuplicates semantics —
      // at the 10^10-row design point expected 64-bit collisions are
      // ~n²/2^65, several real documents silently retired. Pairing it
      // with an independent md5 over the same canonical rendering makes
      // a false merge need a simultaneous xxhash64+md5 collision.
      val keyed = rows
        .select(col("__epoch"), col("__rid"), contentTieBreak(d).as("__ck"),
          contentDigest(d).as("__ck2"))
        .dropDuplicates("__epoch", "__rid")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__ck"), col("__ck2"))
        .orderBy(col("__epoch").asc, col("__rid").asc)
      val losers = keyed
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") > 1)
        .select(col("__epoch"), col("__rid"))
      val cnt = losers.count()
      // tombstones are serve-time BROADCAST state (two longs per retired
      // row — ~16 MB per million deletes), so the sidecar is deliberately
      // small-file-shaped (coalesce(1)); when a dedup retires a large
      // fraction of the corpus, `train --compact` (fold the deletes
      // physical) or a retrain is the right tool, and stats --ann shows
      // the count to decide with
      val tname =
        if (cnt == 0) None
        else {
          val t = s"t${m.tick + 1}-${java.util.UUID.randomUUID.toString.take(8)}"
          losers.coalesce(1).write.mode("overwrite")
            .parquet(new HPath(root, s"tombstones/$t").toString)
          Some(t)
        }
      writeMeta(name, field, m.copy(tick = m.tick + 1, gen = gen,
        tomb = tname, splits = m.splits.diff(consumed) + produced.id))
      cnt
    }
  }

  /** Publish the trained tier's commit point: ONE META file carrying
    * the model shape (cells/spill/pq), the covered manifest generation,
    * the served epoch, AND the covered split ids (`split=` lines) —
    * epoch and coverage can therefore never disagree after a crash,
    * which is what makes [[refresh]]'s append invisible-until-referenced.
    * Drops the legacy two-file layout's SPLITS sidecar so stale coverage
    * can never shadow META's.
    *
    * The publish is a compare-and-swap, not an overwrite: META carries a
    * monotone `tick=`, the caller publishes the snapshot it took when its
    * maintenance operation STARTED with the tick advanced by one (so the
    * CAS expects `next.tick - 1`), and the commit goes through the same
    * [[ManifestCommitPoint]] machinery as the manifest (OS-locked rename
    * on file://, native conditional PUT where registered). A maintenance
    * operation that lost a race — a `train --compact` folding while a
    * stream's per-batch refresh publishes, the two single-writer paths
    * that previously last-rename-wins'd each other — now aborts LOUDLY
    * with nothing visible changed (its appended epoch directory is
    * outside the winner's served range and gets swept), instead of
    * silently dropping or double-serving a batch. */
  private def writeMeta(name: String, field: String, next: AnnMeta): Unit = {
    val root = annRoot(name, field)
    val expectTick = next.tick - 1
    val body = AnnMeta.render(next)
    val metaP = new HPath(root, "META")
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ok = catalog.metaStore.commitPoint(metaP).commit(next.tick, bytes)
    if (!ok) {
      // One-time migration wrinkle: on a conditional-put store a LEGACY
      // (tick-less) META reads as generation 0, so the first CAS publish
      // maps to "create if absent" and fails against the existing
      // object. That failure is a format gap, not a lost race — publish
      // once via the legacy atomic rename (exactly the pre-tick
      // discipline, so never worse), after which every META carries a
      // tick and the CAS path owns all subsequent publishes.
      val legacy = expectTick == 0L &&
        catalog.metaStore.readString(metaP).exists(!_.contains("tick="))
      if (legacy) catalog.metaStore.writeStringAtomic(metaP, body)
      else sys.error(
        s"ANN META for '$name.$field' changed while this maintenance " +
          s"operation ran (expected tick $expectTick): a concurrent " +
          "train/refresh/compact won the publish. Under the maintenance " +
          "lock (file://) or the documented external single-writer " +
          "coordination for other schemes, this is crash-replay debris " +
          "and the serving layout is untouched — the loser staged only " +
          "into directories the winning META does not reference. If " +
          "maintenance ops were run concurrently WITHOUT coordination on " +
          "a lock-less scheme, the losing op may have appended rows into " +
          "the same numbered epoch directory the winner now serves (the " +
          "model dir is unique per attempt; the epoch dir is not) — " +
          "re-run `train` to rebuild into a fresh epoch")
    }
    catalog.metaStore.deleteIfExists(new HPath(root, "SPLITS"))
  }

  /** Serialize ANN maintenance (train / refresh / compactEpochs) per
    * (index, field) ACROSS PROCESSES: the stream's per-batch refresh and
    * an operator-run `train --compact` are each single-writer paths to
    * the same META and data/ tree, and the epoch-range visibility rule
    * needs their sweep→append→publish sequences to not interleave. On
    * file:// roots this is a kernel advisory lock (released on holder
    * crash — no stale-lock state, the [[LocalFsCommitPoint]] idiom) held
    * for the operation's whole duration. Other schemes have no lock
    * primitive; there the META tick CAS still turns a lost publish race
    * into a loud abort, but concurrent maintenance should be externally
    * coordinated (one writer per index/field — the same single-writer
    * rule the manifest documents for rename-based stores). */
  private def withMaintenanceLock[T](root: HPath)(body: => T): T = {
    val f = fs(root)
    if (f.getScheme != "file") return body
    f.mkdirs(root)
    val lockPath = java.nio.file.Paths.get(
      f.makeQualified(root).toUri.getPath, "maintenance.lock")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val deadline =
        System.nanoTime() + AnnIndex.MaintenanceLockTimeoutMs * 1000000L
      var fl: java.nio.channels.FileLock = null
      while (fl == null) {
        fl = try ch.tryLock()
        catch { case _: java.nio.channels.OverlappingFileLockException => null }
        if (fl == null) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"timed out acquiring ANN maintenance lock at $lockPath — " +
                "another train/refresh/compact holds it")
          Thread.sleep(20)
        }
      }
      try body finally fl.release()
    } finally ch.close()
  }

  /** The serving model — centroid table, shortlist tier and the META
    * snapshot they belong to — through a process-wide LRU keyed on the
    * META signature (the digest-cache discipline): a knn previously
    * re-read + collected the centroids/ and codebooks/ parquet on EVERY
    * query — a cold object-store read per query at scale; one signature
    * check now answers all of it, and every serve-time decision reads
    * the one snapshot in the entry. A META that claims pq or sq8 whose
    * model dir lacks the codebooks or stats fails here, loudly, before
    * any tier serves or appends from it. None when no META exists.
    * Entries are only trusted and stored when the signature is
    * [[ManifestStore.FileSig.trusted]], the
    * [[Catalog.manifestStateCached]] rule. */
  private def servingModel(name: String, field: String)
      : Option[AnnIndex.Served] = {
    val root = annRoot(name, field)
    catalog.metaStore.fileSignature(new HPath(root, "META")).flatMap { sig =>
      val trusted = sig.trusted
      val key = s"${catalog.catalogRoot}#$name#$field#$sig"
      val hit = if (trusted) Option(AnnIndex.servingCache.get(key)) else None
      if (hit.isDefined) {
        AnnIndex.servingHits.incrementAndGet()
        hit
      } else {
        AnnIndex.servingMisses.incrementAndGet()
        snapshot(name, field).map { m =>
          val mroot = modelDir(root, m.model)
          val centArr = spark.read
            .parquet(new HPath(mroot, "centroids").toString)
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
            .sortBy(_._1)
          def artifact(dir: String, claim: String): HPath = {
            val p = new HPath(mroot, dir)
            require(fs(p).exists(p), s"ANN META for '$name.$field' claims " +
              s"$claim but has no $dir/ — re-run a full train --$claim")
            p
          }
          val tier: Option[Ann.Tier] =
            if (m.pq > 0) {
              artifact("codebooks", "pq")
              val cb = readCodebooks(mroot)
              Some(if (m.pqRes) Ann.Tier.PqResidual(cb, centArr) else Ann.Tier.Pq(cb))
            } else if (m.sq8) {
              val st = spark.read.parquet(artifact("sq8", "sq8").toString)
                .collect()
                .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
                .sortBy(_._1)
              Some(Ann.Tier.Sq8(st.map(_._2), st.map(_._3), normalized = true))
            } else None
          val v = AnnIndex.Served(centArr, tier, m)
          if (trusted) AnnIndex.servingCache.put(key, v)
          v
        }
      }
    }
  }

  /** Scan of ONLY the probed cells' directories within the served epoch
    * range. `spark.read.parquet(data/)` eagerly walks EVERY epoch×cell
    * directory before partition pruning can drop any — at 10⁵ cells
    * that is a per-query metadata storm. One listing per served epoch
    * finds its cell dirs; the intersection with the probe set is what
    * the scan ever sees — 1 + epochs metadata calls, reads bounded by
    * the probe count. basePath keeps the partition columns derived from
    * the dir names; the epoch filter ([[inServed]]) and the cell filter
    * stay on as belt-and-braces. */
  private def probedScan(root: HPath, m: AnnMeta,
      probeCells: Set[Long]): DataFrame = {
    val dataDir = new HPath(root, "data")
    val f = fs(dataDir)
    val probedDirs = epochDirs(root)(m.serves)
      .flatMap(ep => f.listStatus(ep).toSeq.map(_.getPath).filter(p =>
        AnnIndex.partValue(p.getName, "__cell").exists(probeCells)))
      .map(_.toString)
    if (probedDirs.isEmpty)
      spark.read.parquet(dataDir.toString)
        .where(lit(false)) // probed cells hold nothing at all
    else spark.read.option("basePath", dataDir.toString)
      .parquet(probedDirs: _*)
      .where(col("__cell").isin(probeCells.toSeq: _*) && inServed(m))
  }

  /** The (nprobe, rerank) a knn serves with. `--target-recall` (r17)
    * picks the smallest CALIBRATED setting whose measured recall meets
    * the target, off the curve `train --calibrate` wrote into the served
    * snapshot's model dir — the SERVED columns (full shortlist + rerank
    * replay, r17 verdict #1; probe recall alone overstates what the
    * quantized tiers deliver), escalating the cheaper axis (shortlist
    * budget before probe count) when the default shortlist is the
    * binding loss. The curve tops out at nlist, so an unreachable target
    * serves the full-probe setting rather than failing. An explicit
    * --nprobe always wins, and an UNTRAINED index serves the brute tier
    * — exact, so it meets any target trivially (r17 advice: erroring
    * there blocked both documented outs); the loud error stays on the
    * curve-lookup path only. */
  private def tuning(name: String, field: String,
      served: Option[AnnIndex.Served], nProbe: Int, rerank: Int,
      targetRecall: Option[Double]): (Int, Int) = targetRecall match {
    case Some(r) if nProbe == 0 && served.isDefined =>
      val curve = calibIn(modelDir(annRoot(name, field), served.get.meta.model))
        .getOrElse(sys.error(s"--target-recall needs a calibration curve " +
          s"for '$field' — re-run train --calibrate"))
      AnnIndex.pickSetting(curve, math.min(1000000L, math.round(r * 1000000L)),
        rerank)
    case _ => (nProbe, rerank)
  }

  /** (cell → ADC lookup table) relation for a RESIDUAL-coded layout:
    * one row per probed cell, the LUT computed over the query's
    * residual IN THAT CELL by the same `vec_residual` → `pq_lut`
    * kernels the layout encoded with — bit-parity with the stored
    * codes by construction. Tiny (≤ probed cells), broadcast; malformed
    * (null) LUTs drop, mirroring the raw tier's null-code drop. */
  private def residualLuts(queryVec: Array[Float],
      cents: Array[(Long, Array[Float])], probed: Set[Long],
      cb: graft.exprs.Pq.Codebooks): DataFrame = {
    import spark.implicits._
    broadcast(cents.filter(c => probed(c._1)).toSeq
      .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("__lcell", "__ccv")
      .withColumn("__lut", graft.exprs.Pq.pq_lut(
        graft.exprs.Pq.vec_residual(
          typedLit(queryVec.toSeq), col("__ccv")), cb))
      .where(col("__lut").isNotNull)
      .select(col("__lcell"), col("__lut")))
  }

  /** Top-k cosine neighbors of `queryVec` as (score, doc JSON) rows.
    * nprobe > 0 with a trained index probes only the query's nprobe
    * nearest cells (partition-pruned scan); nprobe = 0 (or no trained
    * index) runs the brute tier over the live splits.
    *
    * `filter` is an optional search-grammar query (the SAME language
    * `search` compiles — terms, bools, ranges, json paths) applied as a
    * metadata PRE-filter: candidates are filtered BEFORE the PQ/SQ8
    * shortlist cut, so the fixed rerank budget is spent only on
    * matching documents instead of being crowded out by non-matching
    * ones (the classic filtered-ANN failure of post-filtering). The
    * stored layout carries every stored column, so the compiled
    * predicate applies to trained-tier candidates directly. When the
    * probed cells hold fewer than k matches (a highly selective
    * filter), the probe set auto-escalates by doubling in
    * ranked-centroid order — bounded by nlist, each round scanning
    * only the newly added cells — so a filtered query returns k
    * results whenever k matches exist, without the caller hand-tuning
    * nprobe per filter selectivity. */
  def knn(name: String, field: String, queryVec: Array[Float], k: Int,
      nProbe: Int = 0, rerank: Int = 0,
      filter: Option[String] = None,
      targetRecall: Option[Double] = None): DataFrame = {
    val cfg = catalog.load(name)
    vectorCol(cfg, field)
    val d = new SchemaDerivation(cfg)
    val q = array(queryVec.map(lit).toSeq: _*)
    val searcher = new Searcher(spark, catalog)
    // ONE META snapshot (the serving entry's) decides the tier, the
    // calibration curve, the served range and every layout flag
    val served =
      if (nProbe > 0 || targetRecall.isDefined) servingModel(name, field)
      else None
    val (nProbeEff, rerankEff) =
      tuning(name, field, served, nProbe, rerank, targetRecall)
    val pred = filter.map(f => new graft.query.QueryCompiler(d).compile(f))
    def filtered(df: DataFrame): DataFrame =
      pred.fold(df)(p => df.where(p))
    val scored: DataFrame =
      if (nProbeEff > 0 && served.isDefined) {
        val root = annRoot(name, field)
        val AnnIndex.Served(cents, tier, mm) = served.get
        val spilled = mm.spill > 1
        // rank the model-constant centroid table driver-side
        val ranked = cents.map { case (cid, cv) =>
          (cid, AnnIndex.cosine(queryVec, cv))
        }.sortBy { case (cid, c) => (-c, cid) }.map(_._1)
        def scanCells(cids: Seq[Long]): DataFrame =
          antiTomb(root, mm.tomb)(filtered(probedScan(root, mm, cids.toSet)))
        var covered = math.min(nProbeEff, ranked.length)
        var cand0 = scanCells(ranked.take(covered))
        // ADAPTIVE nprobe (r14 #3, built r16): a selective filter can
        // leave fewer than k matching candidates in the probed cells —
        // post-hoc "raise nprobe and retry" pushed the classic
        // filtered-ANN failure onto the caller. When a filter is set,
        // escalate by DOUBLING the probe set in ranked-centroid order
        // (each round unions in only the NEW cells' scan, so the final
        // plan reads every probed cell once), until k distinct
        // candidates match or every cell is probed. Each round's
        // sufficiency check is a limit(k) count — it short-circuits the
        // moment k matches surface, and the whole loop is bounded by
        // log2(nlist) rounds. Unfiltered queries never pay any of this.
        if (pred.isDefined && ranked.nonEmpty) {
          // the sufficiency probe is a COLUMN-PRUNED count (ids + the
          // filter's own columns reach the scan; vectors and stored
          // docs do not), so a filtered query pays one cheap extra
          // pass over its probed cells' metadata — not a second serve
          // scan — and an unfiltered query pays nothing at all.
          // When a quantized tier will serve, count only rows that
          // tier can rank (non-null code) — a qid whose matches are
          // all malformed-vector rows must keep escalating, not be
          // declared sufficient and under-fill k (r17 advice)
          def enough(df: DataFrame): Boolean = {
            val servable = tier.fold(df)(t =>
              df.where(col(AnnIndex.codeCol(t)).isNotNull))
            val distinct = if (spilled)
              servable.select(col("__epoch"), col("__rid"))
                .dropDuplicates("__epoch", "__rid")
            else servable
            distinct.limit(k).count() >= k
          }
          while (covered < ranked.length && !enough(cand0)) {
            val next = math.min(covered * 2, ranked.length)
            cand0 = cand0.unionAll(scanCells(ranked.slice(covered, next)))
            covered = next
          }
        }
        // quantized tiers rank candidates over the SKINNY (code, ids)
        // columns — m ints (pq) or ~1 byte/dim (sq8) per row instead of
        // the full stored document, the memory-bandwidth cut that
        // matters when a probed cell holds millions of rows — then fetch
        // ONLY the top-rFetch survivors' full rows for the exact-cosine
        // rerank below. More probes pour more candidates into a FIXED
        // shortlist, so raise `rerank` together with nProbe. Each cut
        // is the (key, __epoch, __rid) total order [[Ann.shortlist]]
        // uses, so ties cut identically on both faces.
        val rFetch = AnnIndex.shortlistBudget(rerankEff, k)
        def survivors(keyed: DataFrame, key: Column): DataFrame =
          cand0.join(broadcast(keyed
            .orderBy(key, col("__epoch").asc, col("__rid").asc)
            .limit(rFetch)
            .select(col("__epoch"), col("__rid"))), Seq("__epoch", "__rid"))
        // with spill > 1 a boundary row's copies land in several probed
        // cells; identical copies dedupe before the cut so they cannot
        // occupy several shortlist slots (copies share (__epoch, __rid))
        def skinny(code: String): DataFrame = {
          val s0 = cand0.select(col("__epoch"), col("__rid"), col(code))
            .where(col(code).isNotNull)
          if (spilled) s0.dropDuplicates("__epoch", "__rid") else s0
        }
        val cand = tier match {
          case Some(Ann.Tier.PqResidual(cb, _)) =>
            // residual codes: each probed cell ranks against its OWN
            // lookup table over the query's residual in that cell
            // ([[residualLuts]] — nprobe tiny rows, broadcast), and a
            // spilled row's copies (different codes) reduce by MIN
            val perCopy = cand0
              .select(col("__cell"), col("__epoch"), col("__rid"), col("__code"))
              .where(col("__code").isNotNull)
              .join(residualLuts(queryVec, cents, ranked.take(covered).toSet, cb),
                col("__cell") === col("__lcell"))
              .withColumn("__adist",
                graft.exprs.Pq.pq_adc(col("__code"), col("__lut")))
            survivors(if (spilled)
              perCopy.groupBy(col("__epoch"), col("__rid"))
                .agg(min(col("__adist")).as("__adist"))
            else perCopy, col("__adist").asc)
          case Some(Ann.Tier.Pq(cb)) =>
            survivors(skinny("__code").withColumn("__adist",
              graft.exprs.Pq.pq_adc(col("__code"),
                typedLit(AnnIndex.lutFor(queryVec, cb).toSeq))),
              col("__adist").asc)
          case Some(Ann.Tier.Sq8(mn, mx, _)) =>
            // the query folds into one literal weight array and offset
            // constant; the key is the fused reconstructed-cosine kernel
            val (ta, tb) = graft.exprs.Sq8.reconTables(mn, mx)
            survivors(skinny("__sq8").withColumn("__ckey",
              graft.exprs.Sq8.cos_key(col("__sq8"),
                typedLit(AnnIndex.sq8AdcWeights(queryVec, mn, mx).toSeq),
                lit(graft.exprs.Sq8.mqOf(queryVec, mn)), ta, tb)),
              col("__ckey").desc)
          case None => cand0
        }
        // spill copies of one row share an (__epoch, __rid) identity and
        // an identical score; dedupe before the cut so a boundary row
        // can't occupy two of the k slots when several of its cells were
        // probed — only a spilled index pays this shuffle, spill=1 stays
        // exchange-free
        val deduped =
          if (spilled) cand.dropDuplicates("__epoch", "__rid")
          else cand
        deduped
          .withColumn("__score", CosineSimilarity.cosine_similarity(col(field), q))
      } else {
        val (_, df) = corpus(name)
        filtered(df.where(col(field).isNotNull))
          .withColumn("__score", CosineSimilarity.cosine_similarity(col(field), q))
      }
    // (score desc, content-hash asc) is a TOTAL order on every tier:
    // the tie-break key is derived from the stored row content, so
    // score-tied neighbors — e.g. duplicate vectors landed in different
    // epochs — cut identically run-to-run and across the single-query
    // and batch faces, independent of physical row ids. The doc JSON
    // (the engine's most expensive per-row projection) materializes
    // only for the k WINNERS: the r15 form sorted on the full JSON and
    // paid its construction for EVERY candidate — per-corpus-row work
    // on the brute tier — for the same determinism guarantee one
    // codegen'd hash provides.
    scored.where(col("__score").isNotNull)
      .withColumn("__tb", contentTieBreak(d))
      .orderBy(desc("__score"), asc("__tb"))
      .limit(k)
      .select(col("__score").as("score"), searcher.outputJson(d).as("doc"))
  }

  /** Cheap content-derived tie-break key for the knn total order:
    * xxhash64 over the declared top-level columns plus the dynamic
    * catch-all rendered to JSON text (VariantType itself is not
    * hashable; `to_json` renders variant keys sorted, so equal dynamic
    * content hashes equal). Rows with identical content tie — and then
    * render identical output docs, so the boundary choice is
    * invisible; rows differing anywhere cut deterministically. */
  private def contentTieBreak(d: SchemaDerivation): Column = {
    import SchemaDerivation.Dynamic
    xxhash64((d.topLevelNames.map(n => col(s"`$n`")) :+
      to_json(col(Dynamic))): _*)
  }

  /** 128-bit content digest over the SAME inputs as [[contentTieBreak]]
    * (declared top-level columns + the dynamic catch-all rendered to
    * sorted-key JSON), via one canonical struct-to-JSON rendering —
    * paired with the 64-bit hash wherever content equality DECIDES row
    * retirement ([[dedupSync]]), where a single-hash collision would be
    * destructive rather than merely order-perturbing. */
  private def contentDigest(d: SchemaDerivation): Column = {
    import SchemaDerivation.Dynamic
    md5(to_json(struct(
      (d.topLevelNames.map(n => col(s"`$n`")) :+
        to_json(col(Dynamic)).as("__dynjson")): _*)))
  }

  /** Hybrid retrieval — the serving face of the gated
    * [[graft.queries.PipelineQueries.pipe_hybrid_rrf]] composition: the
    * text tier (BM25 `search` over `textQuery`) and the vector tier
    * ([[knn]], any trained layout, `filter` composes) each produce
    * their top-`depth` documents, fused by [[graft.ops.Retrieval.fuse]],
    * the reciprocal-rank fusion the gated row runs (⌊10⁹/(rrfK + rank)⌋
    * summed exactly — fusion order cannot drift).
    * Both arms are k-bounded, so the fuse touches 2·depth driver-side
    * rows — a no-op at any corpus size; each arm's own scale shape
    * (pruned splits + stats memo; probed cells + shortlist) is
    * unchanged. Doc identity is the shared [[Searcher.outputJson]]
    * rendering, byte-identical across the two faces by construction.
    * Returns (rrfScore, doc) rows, ties broken by doc text. */
  def knnHybrid(name: String, field: String, queryVec: Array[Float],
      textQuery: String, k: Int, nProbe: Int = 0, rerank: Int = 0,
      filter: Option[String] = None, rrfK: Int = 60,
      depth: Int = 0): Seq[(Long, String)] = {
    val n = if (depth > 0) depth else math.max(4 * k, 20)
    val vecArm = knn(name, field, queryVec, n, nProbe, rerank, filter)
      .collect().map(_.getString(1)).toSeq
    // the filter applies to BOTH arms in PURE filter context: the text
    // arm takes it as a post-filter predicate (gates the matched set,
    // zero score contribution — r15 ANDed it into the query, which let
    // a scoring filter clause reshuffle the BM25 ranking before fusion,
    // inconsistent with the vector arm's score-free pre-filter), so a
    // fused result can never surface a document that fails the filter
    // through the BM25 side alone AND the text ranking is the filtered
    // prefix of the unfiltered one
    val txtArm = new Searcher(spark, catalog).search(name,
      graft.engine.SearchRequest(textQuery, n, postFilter = filter))
    graft.ops.Retrieval.fuse(
        Seq(vecArm, txtArm).flatMap(_.zipWithIndex.map { case (doc, i) => (doc, i + 1) }),
        rrfK, k)
      .map(_.swap)
  }

  /** Batch serving: top-k neighbors for a whole query RELATION
    * (`qid`, `qv` float/double array) in ONE pass over the trained
    * layout — the batch-retrieval shape a training pipeline runs
    * (hard-negative mining, dataset linking, eval sweeps), where
    * per-query driver round-trips would dominate. Filtered batch
    * queries escalate nprobe PER QID since r17 (the pre-r17 contract
    * kept fixed nprobe and documented routing selective filters to the
    * single-query face): under-filled qids double their probe set in
    * their own ranked-centroid order, each round ONE incremental pass
    * over only those qids' NEW cells — never query-count scans — see
    * the inline comment at the loop. The single-query
    * [[knn]] stages generalize columnar:
    *
    *  - probe assignment is the map-only [[graft.exprs.NearestCells]]
    *    expression over the broadcast centroid table (no driver ranking
    *    per query, no window);
    *  - the union of all queries' probed cells — bounded by nlist, a
    *    model-scale collect — drives ONE [[probedScan]] directory
    *    listing and one cell-keyed equi-join (queries×nprobe probe rows
    *    against the probed cells' rows, shuffled on cell);
    *  - quantized tiers rank the SKINNY (code, __epoch, __rid) columns
    *    through [[Ann.shortlist]] — the same per-tier weights, key,
    *    spill reduction and (key, epoch, rid) cut the single face
    *    applies — and only survivors re-join their full rows for the
    *    exact-cosine rerank.
    *
    * nProbe = 0 (or no trained index) runs the brute truth tier:
    * corpus × broadcast queries. Output: (qid, rank, score, doc),
    * rank 1..k per query. */
  def knnBatch(name: String, field: String, queries: DataFrame, k: Int,
      nProbe: Int = 0, rerank: Int = 0,
      filter: Option[String] = None,
      targetRecall: Option[Double] = None): DataFrame = {
    val cfg = catalog.load(name)
    vectorCol(cfg, field)
    val d = new SchemaDerivation(cfg)
    val searcher = new Searcher(spark, catalog)
    // one META snapshot for the whole batch, as in [[knn]]
    val served =
      if (nProbe > 0 || targetRecall.isDefined) servingModel(name, field)
      else None
    // --target-recall: one nprobe for the whole relation (the
    // calibration is per-model, not per-query; the filtered escalation
    // below still lifts under-filled qids past it)
    val (nProbeEff, rerankEff) =
      tuning(name, field, served, nProbe, rerank, targetRecall)
    // metadata pre-filter, same semantics as [[knn]]'s `filter`: one
    // predicate over the stored columns, applied to the probed scan
    // before any per-query shortlist so rerank budgets aren't crowded
    val pred = filter.map(f => new graft.query.QueryCompiler(d).compile(f))
    def filtered(df: DataFrame): DataFrame =
      pred.fold(df)(p => df.where(p))
    val qs = queries.select(col("qid"),
      col("qv").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
    val scored: DataFrame =
      if (nProbeEff > 0 && served.isDefined) {
        val root = annRoot(name, field)
        val AnnIndex.Served(cents, tier, mm) = served.get
        val bc = spark.sparkContext.broadcast(cents)
        val spilled = mm.spill > 1
        // snapshotted: the probe relation feeds both the probed-cell
        // census below and the candidate join — without the checkpoint
        // the query-side lineage (source read + assignment) runs twice
        var probesQ = qs.withColumn("__pcell", explode(
          graft.exprs.NearestCells.nearest_cells(col("qv"), bc, nProbeEff)))
          .localCheckpoint(eager = false)
        // ADAPTIVE nprobe, batch face (r16 verdict #4 — the single-query
        // face's escalation since r16, batched): a selective filter can
        // leave a qid with fewer than k matching candidates in its
        // nProbe cells, silently under-filling that qid's result. When a
        // filter is set, escalate by DOUBLING each UNDER-FILLED qid's
        // probe set in its own ranked-centroid order — `nearest_cells`
        // keeps a stable rank prefix, so slicing ranks covered+1..next
        // unions in exactly the NEW cells — until every qid holds k
        // matches or probes every cell. Each round is ONE incremental
        // pass over only the low qids' new cells (never a per-qid loop),
        // the sufficiency recount is a column-pruned ids-only aggregate
        // (the filter's columns + ids reach the scan; vectors and stored
        // docs do not), and the loop is bounded by log2(nlist) rounds.
        // Satisfied qids keep their single-pass shape; unfiltered
        // batches never pay any of this.
        if (pred.isDefined && cents.nonEmpty) {
          val nlist = cents.length
          var covered = math.min(nProbeEff, nlist)
          // quantized tiers rank only non-null-code rows — the recount
          // must apply the same filter or a qid whose matches are all
          // malformed-vector rows is declared sufficient yet
          // under-fills k (r17 advice; same shape as the single face)
          def lowQids(): DataFrame = {
            val cellsNow = probesQ.select(col("__pcell")).distinct()
              .collect().map(_.getLong(0)).toSet
            val scanNow =
              antiTomb(root, mm.tomb)(filtered(probedScan(root, mm, cellsNow)))
            val ids = tier.fold(scanNow)(t =>
              scanNow.where(col(AnnIndex.codeCol(t)).isNotNull))
              .select(col("__cell"), col("__epoch"), col("__rid"))
            val matched = probesQ
              .join(ids, col("__pcell") === col("__cell"))
              .select(col("qid"), col("__epoch"), col("__rid"))
            // spill copies share (__epoch, __rid) across adjacent cells —
            // count DISTINCT candidates or the recount could claim
            // sufficiency from copies of fewer than k rows
            val dm = if (spilled)
              matched.dropDuplicates("qid", "__epoch", "__rid") else matched
            qs.select(col("qid")).distinct()
              .join(dm.groupBy(col("qid")).agg(count(lit(1)).as("__n")),
                Seq("qid"), "left")
              .where(coalesce(col("__n"), lit(0L)) < k)
              .select(col("qid"))
          }
          var low = lowQids().localCheckpoint(eager = false)
          while (covered < nlist && low.limit(1).count() > 0) {
            val next = math.min(covered * 2, nlist)
            // low qids are a subset of the caller's (driver-provided,
            // bounded) query set — the broadcast is ≤ the batch itself
            val newProbes = qs.join(broadcast(low), Seq("qid"))
              .withColumn("__pcell", explode(slice(
                graft.exprs.NearestCells.nearest_cells(col("qv"), bc, next),
                covered + 1, next - covered)))
              .select(probesQ.columns.map(col): _*)
            probesQ = probesQ.unionAll(newProbes)
              .localCheckpoint(eager = false)
            covered = next
            if (covered < nlist) low = lowQids().localCheckpoint(eager = false)
          }
        }
        val probeCells = probesQ.select(col("__pcell")).distinct()
          .collect().map(_.getLong(0)).toSet
        val data =
          antiTomb(root, mm.tomb)(filtered(probedScan(root, mm, probeCells)))
        tier match {
          case Some(t) =>
            // quantized tiers: the batched shortlist over the SKINNY
            // (code, ids) columns, then only survivors re-join their
            // full rows for the exact-cosine rerank
            val survivors = Ann.shortlist(probesQ,
                data.select(col("__cell").as("cell"),
                  col(AnnIndex.codeCol(t)).as("code"), col("__epoch"),
                  col("__rid")),
                t, Seq("__epoch", "__rid"), spilled,
                AnnIndex.shortlistBudget(rerankEff, k))
              .drop("rank")
            val full = if (spilled)
              data.dropDuplicates("__epoch", "__rid") else data
            survivors.join(full, Seq("__epoch", "__rid"))
              .withColumn("__score",
                CosineSimilarity.cosine_similarity(col(field), col("qv")))
          case None =>
            val cands0 = probesQ.join(data, col("__pcell") === col("__cell"))
            val cands = if (spilled)
              cands0.dropDuplicates("qid", "__epoch", "__rid") else cands0
            cands.withColumn("__score",
              CosineSimilarity.cosine_similarity(col(field), col("qv")))
        }
      } else {
        val (_, df) = corpus(name)
        filtered(df.where(col(field).isNotNull))
          .crossJoin(broadcast(qs))
          .withColumn("__score",
            CosineSimilarity.cosine_similarity(col(field), col("qv")))
      }
    // same (score desc, content-hash asc) total order as the
    // single-query face; the doc JSON renders only for the k winners
    // per query, never for the full candidate set
    scored.where(col("__score").isNotNull)
      .withColumn("__tb", contentTieBreak(d))
      .withColumn("rank", row_number().over(
        w.orderBy(col("__score").desc, col("__tb").asc)))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("__score").as("score"),
        searcher.outputJson(d).as("doc"))
  }
}

object AnnIndex {
  /** The escalated shortlist budget the calibration's second served
    * column measures (and `--target-recall` may pick): 4× the default
    * rFetch floor — extra row fetches at a fixed probe set, the cheap
    * axis when the default 64-slot shortlist is the binding loss
    * (ProbeOpq measured it ~0.2 recall below 256 under probe
    * pressure). */
  val CalibRerankHi: Int = 256

  /** The shortlist budget a knn serves with: an explicit `--rerank`, or
    * max(4k, 64) — more probes pour more candidates into a FIXED
    * shortlist, so a crowded budget trades recall (ProbeKnn). */
  def shortlistBudget(rerank: Int, k: Int): Int =
    if (rerank > 0) rerank else math.max(4 * k, 64)

  /** The default budget the calibration's first served column measures:
    * [[shortlistBudget]] at its k = 5. */
  val CalibRerank: Int = shortlistBudget(0, 5)

  /** The stored code column a shortlist tier ranks on. */
  private[engine] def codeCol(t: Ann.Tier): String = t match {
    case _: Ann.Tier.Sq8 => "__sq8"
    case _ => "__code"
  }

  /** (nprobe, rerank) for `--target-recall` off a calibration curve
    * (rows (np, probe_ppm, served_ppm, served_hi_ppm) ascending by
    * np): the SMALLEST np that meets the target at either shortlist
    * budget, preferring the default budget at that np (rerank = 0 →
    * serve-time default); escalating rerank at a fixed np is cheaper
    * than the next np rung (row fetches vs cell scans). An explicit
    * `--rerank` pins the budget — the lookup then reads the column
    * matching it and returns that rerank unchanged. Nothing meets the
    * target → the full-probe end of the curve, with the hi budget iff
    * the curve shows it still buying recall there.
    *
    * An explicit `--rerank` BELOW the calibrated default shortlist
    * (64) is refused loudly when combined with `--target-recall`: no
    * curve column measures that budget, and served recall is monotone
    * nondecreasing in the shortlist size, so the default column would
    * OVERSTATE what the tiny shortlist delivers — the lookup would
    * silently serve under the promised target (review r18). Budgets in
    * [64, hi) read the default column (a lower bound for them);
    * ≥ hi reads the hi column. */
  private[graft] def pickSetting(curve: Seq[(Int, Long, Long, Long)],
      want: Long, explicitRerank: Int): (Int, Int) = {
    require(curve.nonEmpty, "empty calibration curve")
    require(explicitRerank <= 0 || explicitRerank >= CalibRerank,
      s"--target-recall cannot guarantee a --rerank below the " +
        s"calibrated default shortlist ($CalibRerank, got $explicitRerank) — " +
        "raise --rerank or drop --target-recall for an uncalibrated run")
    if (explicitRerank > 0) {
      val colOf: ((Int, Long, Long, Long)) => Long =
        if (explicitRerank >= CalibRerankHi) _._4 else _._3
      (curve.find(p => colOf(p) >= want).map(_._1)
        .getOrElse(curve.last._1), explicitRerank)
    } else curve.collectFirst {
      case (np, _, s, _) if s >= want => (np, 0)
      case (np, _, _, h) if h >= want => (np, CalibRerankHi)
    }.getOrElse((curve.last._1,
      if (curve.last._4 > curve.last._3) CalibRerankHi else 0))
  }

  /** How long a maintenance op waits on the per-(index,field) advisory
    * lock before failing loudly. Generous: the holder may be a fold
    * rewriting the stored tier (minutes at scale), and waiting is
    * strictly better than the pre-lock behavior (two writers
    * interleaving sweep/append/publish on the same data/ tree). */
  val MaintenanceLockTimeoutMs: Long = 10L * 60 * 1000

  /** Process-wide serving-model cache (centroids + codebooks), LRU,
    * keyed on catalog root + index + field + META file signature — see
    * [[AnnIndex.servingModel]]. Sized in MODELS: even 64 resident
    * √n-cell models at 768 dims is a few hundred MB, and one index
    * typically serves per process. */
  private val ServingCacheMax = 64
  /** One served model: the centroid table, the shortlist tier the
    * layout stores codes for (None: exact vectors), and the META
    * snapshot both were read under. */
  private[engine] final case class Served(cents: Array[(Long, Array[Float])],
      tier: Option[Ann.Tier], meta: AnnMeta)
  private[engine] val servingCache: java.util.Map[String, Served] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Served](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Served]): Boolean =
          size() > ServingCacheMax
      })
  private[engine] val servingHits = new java.util.concurrent.atomic.AtomicLong()
  private[engine] val servingMisses = new java.util.concurrent.atomic.AtomicLong()

  /** Collected tombstone sets by immutable sidecar path — see
    * [[AnnIndex.antiTomb]]. Bounded small: one live entry per
    * (index, field) in steady state (a new publish retires the old
    * name). */
  private[engine] val tombCache: java.util.Map[String, Array[(Long, Long)]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Array[(Long, Long)]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[(Long, Long)]]): Boolean =
          size() > 32
      })

  /** (hits, misses, residentModels) of the serving-model cache — a MISS
    * is a centroids/ (+ codebooks/) parquet read + collect, the
    * per-query cold-read the cache exists to kill; surfaced by
    * `stats --ann`. */
  def servingCacheStats: (Long, Long, Int) =
    (servingHits.get(), servingMisses.get(), servingCache.size())

  /** Driver-side ADC lookup table for a query — identical fixed-point
    * arithmetic to [[graft.exprs.Pq]]'s PqLut kernel; the query is a
    * constant, so the table is computed once and shipped as a literal
    * instead of a per-row expression over an attached query column. */
  private[engine] def lutFor(q: Array[Float],
      cb: graft.exprs.Pq.Codebooks): Array[Long] = {
    val numSub = cb.length
    val numCw = cb.head.length
    val subDim = cb.head.head.length
    require(q.length == numSub * subDim,
      s"query dim ${q.length} != codebook dim ${numSub * subDim}")
    val qf = q.map(f => graft.exprs.Pq.fixedPoint(f.toDouble * 1000000.0))
    val lut = new Array[Long](numSub * numCw)
    var s = 0
    while (s < numSub) {
      var c = 0
      while (c < numCw) {
        val cw = cb(s)(c)
        val off = s * subDim
        var acc = 0L
        var i = 0
        while (i < subDim) {
          val d = qf(off + i) - cw(i); acc += d * d; i += 1
        }
        lut(s * numCw + c) = acc
        c += 1
      }
      s += 1
    }
    lut
  }

  /** Driver-side cosine — identical arithmetic to [[CosineSimilarity]]
    * (left-to-right double accumulation over float inputs). */
  private[engine] def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  /** The value of a `<column>=<n>` partition directory name (the
    * layout's `__epoch=` and `__cell=` levels), None for any other name. */
  private[engine] def partValue(dir: String, column: String): Option[Long] =
    if (dir.startsWith(column + "=")) dir.substring(column.length + 1).toLongOption
    else None

  /** Per-dim fixed-point ADC weights of a query under the stored SQ8
    * stats: w_i = floor(q_i · (mx_i − mn_i)/255 · 2^24). Σ code_i·w_i
    * then equals ⟨x̂, q⟩·2^24 minus the per-query constant Σ mn_i·q_i —
    * a pure integer ranking of candidates by reconstructed inner
    * product, with the affine offset cancelled. LONG end-to-end (the
    * batch tier's `floor(...)` column is bigint and the DuckDB oracle
    * keeps BIGINT), so all three paths share exact arithmetic even for
    * large-magnitude non-unit-norm vectors where an int would wrap. */
  private[engine] def sq8AdcWeights(q: Array[Float], mn: Array[Double],
      mx: Array[Double]): Array[Long] = {
    val n = math.min(q.length, mn.length)
    Array.tabulate(n) { i =>
      math.floor(q(i).toDouble * ((mx(i) - mn(i)) / 255.0) *
        graft.exprs.Sq8.AdcScale).toLong
    }
  }
}

/** One published ANN META: the vector tier's whole commit record, which
  * one atomic publish replaces. [[AnnMeta.parse]] and [[AnnMeta.render]]
  * are the format's only reader and writer; the body is `key=value`
  * lines in [[AnnMeta.render]]'s fixed order.
  *
  * @param tick monotone CAS version (0 = a legacy tick-less META)
  * @param cells trained centroid count
  * @param gen manifest generation the layout covers
  * @param spill copies stored per vector (1 on pre-spill METAs)
  * @param epoch top of the served epoch range
  * @param pq PQ subspace count (0 = no `__code` column)
  * @param sq8 the layout stores the SQ8 `__sq8` code column
  * @param pqRes the stored PQ codes are RESIDUAL (IVFADC, r17 — every
  *   `train --pq` since): each spilled copy encodes v − centroid(its
  *   cell), so serving ranks with a per-probed-cell LUT over the query's
  *   residual and MIN over a row's copies; legacy raw-coded layouts keep
  *   the single-LUT path
  * @param base bottom of the served epoch range (0 before any compaction)
  * @param model the `model/<name>` directory holding the centroids,
  *   codebooks, sq8 stats and calibration; None on legacy layouts, whose
  *   train wrote them at the root
  * @param fit drift anchor: since r17 the TRAIN-time fit of a held-out,
  *   training-disjoint slice (falling back to the first refresh batch's
  *   fit on tiny/degenerate corpora). Never the IN-SAMPLE train fit —
  *   ProbeDrift measured a ~190k-ppm in/out-of-sample gap with no
  *   distribution shift, which would false-trigger every stream
  * @param lastFit the most recent refresh batch's fit
  * @param tomb the `tombstones/<name>` directory of (__epoch, __rid) rows
  *   a `--dedup` merge retired from serving — anti-joined at query time,
  *   folded away by `train --compact`
  * @param reqCells the operator's requested cells (0 = census √n)
  * @param trainIters train iterations — with `reqCells`, what a
  *   policy-driven retrain replays (see [[AnnIndex.tierKnobs]])
  * @param splits covered split ids, in the same file as the epoch so
  *   coverage and epoch never disagree after a crash */
final case class AnnMeta(tick: Long, cells: Int, gen: Long, spill: Int,
    epoch: Int, pq: Int, sq8: Boolean = false, pqRes: Boolean = false,
    base: Int = 0, model: Option[String] = None, fit: Option[Long] = None,
    lastFit: Option[Long] = None, tomb: Option[String] = None,
    reqCells: Option[Int] = None, trainIters: Option[Int] = None,
    splits: Set[String] = Set.empty) {

  /** The crash contract's visibility rule: epoch `e` is served iff
    * `base <= e <= epoch`. Anything above is an append whose publish
    * never happened; anything below was retired by a committed fold. */
  def serves(e: Long): Boolean = base <= e && e <= epoch

  /** Centroid-drift reading: how far (ppm of mean nearest-centroid
    * cosine) the LAST refresh batch's fit sits below the anchor. Since
    * r17 the anchor is recorded AT TRAIN TIME from a held-out slice, so
    * the FIRST refresh batch is already a comparison and a stream that
    * drifted between train and its first refresh triggers instead of
    * silently re-baselining on drifted data (the r16 verdict's
    * finding). None until a refresh has recorded a `lastfit=` (and, on
    * legacy or tiny-corpus layouts whose train published no anchor,
    * until a first refresh has anchored — there drift reads 0 until the
    * SECOND refresh). A retrain clears both and re-records. Positive =
    * the stream has drifted away from the frozen quantizer; the
    * `--ann-retrain-threshold` streaming policy retrains when this
    * crosses the operator's threshold. */
  def driftPpm: Option[Long] = for (a <- fit; l <- lastFit) yield a - l
}

object AnnMeta {
  /** Parse a META body. Legacy defaults: no `tick=` reads 0, no
    * `spill=` 1, no `base=`/`epoch=`/`pq=` 0. With no `split=` line the
    * covered ids come from `legacySplits` — the pre-r13 `SPLITS`
    * sidecar, one id a line, read only in that case. A body without
    * `cells=` or `gen=` is not a META and fails loudly. */
  def parse(body: String, legacySplits: => Option[String] = None): AnnMeta = {
    val lines = body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val kv = lines.map(_.split("=", 2))
      .collect { case Array(k, v) if k != "split" => k -> v }.toMap
    def req(k: String): String = kv.getOrElse(k,
      throw new IllegalStateException(s"ANN META has no '$k=' line"))
    val ids = lines.collect {
      case l if l.startsWith("split=") => l.substring("split=".length)
    }.filter(_.nonEmpty).toSet
    AnnMeta(tick = kv.get("tick").fold(0L)(_.toLong),
      cells = req("cells").toInt, gen = req("gen").toLong,
      spill = kv.get("spill").fold(1)(_.toInt),
      epoch = kv.get("epoch").fold(0)(_.toInt),
      pq = kv.get("pq").fold(0)(_.toInt),
      sq8 = kv.get("sq8").exists(_.toInt > 0),
      pqRes = kv.get("pqres").contains("1"),
      base = kv.get("base").fold(0)(_.toInt),
      model = kv.get("model"), fit = kv.get("fit").map(_.toLong),
      lastFit = kv.get("lastfit").map(_.toLong), tomb = kv.get("tomb"),
      reqCells = kv.get("reqcells").map(_.toInt),
      trainIters = kv.get("titer").map(_.toInt),
      splits = if (ids.nonEmpty) ids else legacySplits.fold(Set.empty[String])(
        _.split("\n").map(_.trim).filter(_.nonEmpty).toSet))
  }

  /** The META body of `m`: the always-present keys first, then each
    * optional key only when set, then the covered ids sorted. */
  def render(m: AnnMeta): String = {
    val b = new StringBuilder()
    b.append(s"tick=${m.tick}\ncells=${m.cells}\ngen=${m.gen}\n")
    b.append(s"spill=${m.spill}\nepoch=${m.epoch}\npq=${m.pq}\n")
    if (m.sq8) b.append("sq8=1\n")
    if (m.pqRes) b.append("pqres=1\n")
    if (m.base > 0) b.append(s"base=${m.base}\n")
    m.model.foreach(v => b.append(s"model=$v\n"))
    m.fit.foreach(v => b.append(s"fit=$v\n"))
    m.lastFit.foreach(v => b.append(s"lastfit=$v\n"))
    m.tomb.foreach(v => b.append(s"tomb=$v\n"))
    m.reqCells.foreach(v => b.append(s"reqcells=$v\n"))
    m.trainIters.foreach(v => b.append(s"titer=$v\n"))
    m.splits.toList.sorted.foreach(id => b.append(s"split=$id\n"))
    b.toString
  }
}
