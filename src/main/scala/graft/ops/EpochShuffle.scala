package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Hashing.h64

/** Deterministic epoch shuffle + shard assignment — the "globally shuffle
  * the corpus, then write N training shards" stage every pretraining run
  * ends with (the reference engine has no analogue; this is part of the
  * LLM-pipeline surface).
  *
  * The permutation is the md5 order of (seed, doc_id): reproducible in any
  * engine, uncorrelated with the source order, and re-keyable per epoch by
  * changing the seed. Shard = hash mod N (balanced in expectation,
  * assignment is map-only); pos = the doc's position in its shard's hash
  * order — exactly the shard-local write order the sink needs.
  *
  * Scale shape: one map-only hash projection, ONE shuffle on the shard
  * key, and a per-shard window whose sort is shard-local. No global sort
  * anywhere: the permutation is DEFINED per shard, which is what a trainer
  * consuming shards in parallel sees regardless. The per-task sort is
  * bounded by the shard size, so the shard count — not the corpus size —
  * decides whether a task spills: at 100 TB you do not run 8 shards, you
  * run corpus/targetShardSize of them. [[shardCount]]/[[epochShuffleAuto]]
  * encode that sizing so callers never hard-code a count.
  */
object EpochShuffle {

  /** Shuffle `df` into `numShards` shards under `seed`.
    *
    * Output columns: (doc_id, shard, pos) with pos dense 1..n per shard.
    * `id` must be unique per row (it tiebreaks equal hash keys so the
    * permutation is total, and names the output's doc_id column).
    */
  def epochShuffle(df: DataFrame, id: Column, seed: String, numShards: Long): DataFrame =
    shuffled(df.select(id.as("doc_id")), col("doc_id"), seed, numShards)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** The payload-carrying core: every column of `df` plus (shard, pos).
    * [[epochShuffle]] is its id-only projection; [[writeShards]] keeps
    * the payload so the sink never joins the assignment back. */
  private def shuffled(df: DataFrame, id: Column, seed: String,
      numShards: Long): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key").asc, id.asc)
    df.withColumn("__key", h64(concat(lit(s"$seed:"), id.cast("string"))))
      .withColumn("shard", pmod(col("__key"), lit(numShards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }

  /** Write the shuffled corpus as ACTUAL training shards — the sink step
    * after [[epochShuffle]]'s assignment: one `shard=N/` parquet
    * directory per shard with rows in `pos` order, then a `manifest/`
    * table written LAST (the commit point — a reader treats the
    * manifest's presence as "the shard set is complete", the same
    * write-data-then-commit ordering the engine's split writer uses; a
    * crash mid-write leaves data files but no manifest, so nothing
    * downstream consumes a partial epoch). On a REWRITE of an existing
    * outDir the previous epoch's manifest is deleted FIRST — otherwise a
    * crash mid-rewrite would leave a valid-looking stale manifest paired
    * with partially rewritten data, and "manifest present" would no
    * longer imply "data complete" (r9 ADVICE). The rewrite is therefore
    * destructive-by-design: a crash between delete and commit reads as
    * "no epoch here", never as a partial one.
    *
    * Scale shape: the assignment is [[shuffled]]'s one shard-keyed
    * exchange; the write re-uses that partitioning (repartition on the
    * same key collapses into it under AQE) with a shard-local sort, and
    * `partitionBy` fans each task's rows into its shard directory. The
    * manifest aggregates the WRITTEN files (not the plan that produced
    * them), so its counts attest what actually landed.
    *
    * Returns the manifest: (shard, n_docs, last_pos, n_chars) read back
    * from disk. `sizeCol` is the per-row cost measure recorded per
    * shard. */
  def writeShards(df: DataFrame, id: Column, sizeCol: Column, seed: String,
      numShards: Long, outDir: String): DataFrame = {
    val sp = df.sparkSession
    // invalidate the OLD commit point before touching data: readers see
    // either the previous complete epoch (before this line) or no epoch
    // (until the new manifest lands) — never stale-manifest + new data
    val mPath = new org.apache.hadoop.fs.Path(s"$outDir/manifest")
    val fs = mPath.getFileSystem(sp.sparkContext.hadoopConfiguration)
    if (fs.exists(mPath)) fs.delete(mPath, true)
    // EVERY payload column rides into the shard files (plus sz/shard/pos)
    // — the whole point of the payload-carrying core: a trainer reads the
    // shards directly, it never joins the corpus back by id
    shuffled(df.withColumn("sz", sizeCol.cast("long")), id, seed, numShards)
      .repartition(numShards.toInt, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/data")
    val manifest = sp.read.parquet(s"$outDir/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), max(col("pos")).as("last_pos"),
        sum(col("sz")).as("n_chars"))
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    sp.read.parquet(s"$outDir/manifest")
  }

  /** Per-EPOCH shard assignment — [[epochShuffle]] for a relation that
    * carries an `epoch` tag (a multi-epoch mixture realization, where
    * the SAME document appears once per pass): the epoch folds into the
    * hash seed, so each epoch's repeats land in a DIFFERENT, provably
    * uncorrelated shard order (the whole point of re-shuffling between
    * passes — a trainer must never see epoch k+1 in epoch k's order),
    * and the position window partitions by (epoch, shard) so every
    * epoch's shards stay independently dense.
    *
    * Scale shape: identical to [[epochShuffle]] — one map-only hash
    * projection, one exchange on the (epoch, shard) window key, a
    * shard-local sort. Output: every column of `df` plus (shard, pos),
    * pos dense 1..n per (epoch, shard). */
  def epochShuffleTagged(df: DataFrame, id: Column, epoch: Column,
      seed: String, numShards: Long): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val w = Window.partitionBy(epoch, col("shard"))
      .orderBy(col("__key").asc, id.asc)
    df.withColumn("__key", h64(concat(lit(s"$seed:"),
        epoch.cast("string"), lit(":"), id.cast("string"))))
      .withColumn("shard", pmod(col("__key"), lit(numShards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }

  /** The multi-EPOCH shard SINK — [[writeShards]] for a relation that
    * carries an `epoch` tag (one row per (document, pass) from
    * [[Mixture.mixEpochsKept]]): every payload column rides into
    * `epoch=E/shard=N/` parquet trees in pos order, each epoch's
    * repeats in its OWN [[epochShuffleTagged]] order, and ONE manifest
    * covering the whole epoch set is written LAST — the commit point a
    * trainer consuming pass after pass reads once ("every epoch's
    * shards are complete"), with the same delete-stale-manifest-first
    * rewrite protocol as [[writeShards]] (a crash mid-rewrite reads as
    * "no dataset here", never a partial one).
    *
    * Scale shape: [[epochShuffleTagged]]'s one (epoch, shard)-keyed
    * exchange, re-used by the write's repartition; per-task sort
    * bounded by the shard size. `numShards` sizes EACH epoch's shard
    * count (the caller's census should cover one epoch's mass, not the
    * expanded total — every epoch is a full training pass), and the
    * write fans into `numEpochs · numShards` partitions so a task
    * holds ONE (epoch, shard) group — packing every epoch's copy of a
    * shard into `numShards` tasks would sort numEpochs× the bound the
    * census promised (review r18).
    *
    * Returns the manifest read back from disk:
    * (epoch, shard, n_docs, last_pos, n_chars). */
  def writeEpochShards(df: DataFrame, id: Column, epoch: Column,
      sizeCol: Column, seed: String, numShards: Long, numEpochs: Long,
      outDir: String): DataFrame = {
    require(numEpochs > 0, s"numEpochs must be positive, got $numEpochs")
    val sp = df.sparkSession
    val mPath = new org.apache.hadoop.fs.Path(s"$outDir/manifest")
    val fs = mPath.getFileSystem(sp.sparkContext.hadoopConfiguration)
    if (fs.exists(mPath)) fs.delete(mPath, true)
    val parts = math.min(numShards * numEpochs, Int.MaxValue.toLong).toInt
    epochShuffleTagged(df.withColumn("sz", sizeCol.cast("long"))
        .withColumn("epoch", epoch.cast("long")),
        id, col("epoch"), seed, numShards)
      .repartition(parts, col("epoch"), col("shard"))
      .sortWithinPartitions(col("epoch"), col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("epoch", "shard")
      .parquet(s"$outDir/data")
    val manifest = sp.read.parquet(s"$outDir/data")
      .groupBy(col("epoch").cast("long").as("epoch"),
        col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), max(col("pos")).as("last_pos"),
        sum(col("sz")).as("n_chars"))
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    sp.read.parquet(s"$outDir/manifest")
  }

  /** SCHEDULE-ORDERED shard assignment — the single-epoch face of the
    * stride-ordered sink family (r18 verdict #1): shard membership is
    * BYTE-IDENTICAL to [[epochShuffle]] (same `h64(seed:id)` key, same
    * `mod numShards`), but `pos` within each shard is the ascending
    * STRIDE order of the shard's own rows ([[Mixture.mixSchedule]]'s
    * closed form, ⌊(2k−1)·W/(2w_s)⌋ with k the row's rank among its
    * shard's rows of the same source) — so a trainer reading ONE shard
    * sequentially sees each source at its weighted rate w_s/W in every
    * prefix (±O(1) vs the shard's own composition), instead of the
    * arbitrary hash interleave. Before this, the schedule existed only
    * as [[Mixture.mixSchedule]]'s separate artifact the sink ignored —
    * exactly the source-drift its scaladoc warns against.
    *
    * `weight` must be functionally determined by `source`
    * ([[Mixture.weightChecked]] raises otherwise); W sums the weights
    * of the sources PRESENT in `df` (the [[Mixture.mixSchedule]] rule —
    * a phantom source would shift every key). The stride multiply
    * widens to DECIMAL(38,0) (the module overflow convention).
    *
    * Scale shape: one per-source combiner aggregate for the weight
    * table (broadcast back), ONE exchange on the shard key, then both
    * rank windows ride that partitioning — `(shard, source)` clusters
    * REFINE `(shard)`, so the k-window needs no second shuffle, only a
    * partition-local sort. No global window, no corpus broadcast.
    * The weight-table aggregate is a SECOND EVALUATION of `df`'s plan
    * (r19 advice): inside [[ops.Pipeline]] the input is
    * localCheckpoint-backed so the re-read is a cached-block scan, but
    * a direct caller with an expensive un-snapshotted upstream should
    * snapshot first (`df.localCheckpoint()` — the module's
    * two-consumers rule) or accept the recompute.
    * Output: every column of `df` plus (shard, skey, pos); `skey`
    * rides out so shards carry their own schedule evidence. */
  def shuffleScheduled(df: DataFrame, id: Column, source: Column,
      weight: Column, seed: String, numShards: Long): DataFrame =
    scheduledAssign(df, id, None, source, weight, seed, numShards,
      partitions = 0)

  /** SCHEDULE-ORDERED per-epoch shard assignment — the
    * [[epochShuffleTagged]] analogue of [[shuffleScheduled]]: shard
    * membership is byte-identical to [[epochShuffleTagged]] (the
    * epoch-folded `h64(seed:epoch:id)` key, so each pass still lands
    * in its own uncorrelated shard distribution), and `pos` within
    * each (epoch, shard) is the stride order of that group's rows.
    * Output: every column of `df` plus (shard, skey, pos), pos dense
    * 1..n per (epoch, shard). */
  def epochShuffleScheduled(df: DataFrame, id: Column, epoch: Column,
      source: Column, weight: Column, seed: String,
      numShards: Long): DataFrame =
    scheduledAssign(df, id, Some(epoch), source, weight, seed, numShards,
      partitions = 0)

  /** The shared core of the scheduled assigners: hash shard key
    * (epoch-folded when tagged), broadcast per-source (w, W) table,
    * ONE repartition on the group key, then two partition-local rank
    * windows — k per (group, source) in hash order, pos per group in
    * (skey, source, id) order. `partitions` > 0 pins the exchange's
    * partition count (the sinks pass their task fan-out so the write
    * needs no second repartition); 0 leaves it to
    * spark.sql.shuffle.partitions. */
  private def scheduledAssign(df: DataFrame, id: Column,
      epoch: Option[Column], source: Column, weight: Column, seed: String,
      numShards: Long, partitions: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val per = Mixture.weightChecked(
      df.select(source.as("source"), weight.as("weight"))
        .groupBy(col("source"), col("weight"))
        .agg(count(lit(1)).as("n_rows")))
    // DECIMAL(38,0) sum: Σw over token-mass-scale weights wraps a
    // BIGINT window sum silently (the Mixture.mixSchedule convention)
    val wtab = Mixture.withTotals(per,
        "__wsum" -> sum(col("weight").cast("decimal(38,0)")))
      .select(col("source").as("__src"), col("weight").as("__w"), col("__wsum"))
    val keyExpr = epoch match {
      case Some(e) => h64(concat(lit(s"$seed:"), e.cast("string"),
        lit(":"), id.cast("string")))
      case None => h64(concat(lit(s"$seed:"), id.cast("string")))
    }
    val keyed = df
      .withColumn("__src", source)
      .withColumn("__key", keyExpr)
      .withColumn("shard", pmod(col("__key"), lit(numShards)))
      .join(broadcast(wtab), Seq("__src"))
    val gKeys = epoch.toSeq :+ col("shard")
    val parted =
      if (partitions > 0) keyed.repartition(partitions, gKeys: _*)
      else keyed.repartition(gKeys: _*)
    val wk = Window.partitionBy(gKeys :+ col("__src"): _*)
      .orderBy(col("__key").asc, id.asc)
    val wp = Window.partitionBy(gKeys: _*)
      .orderBy(col("skey").asc, col("__src").asc, id.asc)
    parted
      .withColumn("__k", row_number().over(wk).cast("long"))
      .withColumn("skey", expr(
        "(CAST(2 * __k - 1 AS DECIMAL(38,0)) * __wsum) DIV (2 * __w)"))
      .withColumn("pos", row_number().over(wp).cast("long"))
      .drop("__src", "__key", "__k", "__w", "__wsum")
  }

  /** [[writeShards]] with the STRIDE-ORDERED intra-shard layout
    * ([[shuffleScheduled]]): same shard membership, same
    * delete-stale-manifest-first commit protocol, same manifest shape —
    * only the within-shard `pos` order changes, from hash-arbitrary to
    * mixture-faithful. The assignment's one exchange is pinned at
    * `numShards` partitions, so the write fans straight out of it with
    * a shard-local sort — no second repartition. `skey` rides into the
    * shard files as the layout's own evidence. */
  def writeShardsScheduled(df: DataFrame, id: Column, source: Column,
      weight: Column, sizeCol: Column, seed: String, numShards: Long,
      outDir: String): DataFrame = {
    val sp = df.sparkSession
    dropManifest(sp, outDir)
    scheduledAssign(df.withColumn("sz", sizeCol.cast("long")), id, None,
        source, weight, seed, numShards,
        partitions = math.min(numShards, Int.MaxValue.toLong).toInt)
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/data")
    val manifest = sp.read.parquet(s"$outDir/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), max(col("pos")).as("last_pos"),
        sum(col("sz")).as("n_chars"))
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    sp.read.parquet(s"$outDir/manifest")
  }

  /** [[writeEpochShards]] with the STRIDE-ORDERED intra-shard layout
    * ([[epochShuffleScheduled]]): same per-epoch shard membership, same
    * one-manifest-for-the-whole-epoch-set commit point — each (epoch,
    * shard) file's row order becomes the stride interleave, so every
    * pass's every shard is mixture-faithful at every prefix. The
    * assignment exchange is pinned at numEpochs·numShards partitions
    * (one task ≈ one (epoch, shard) group — the r18 per-epoch sort
    * bound), and the write fans straight out of it. */
  def writeEpochShardsScheduled(df: DataFrame, id: Column, epoch: Column,
      source: Column, weight: Column, sizeCol: Column, seed: String,
      numShards: Long, numEpochs: Long, outDir: String): DataFrame = {
    require(numEpochs > 0, s"numEpochs must be positive, got $numEpochs")
    val sp = df.sparkSession
    dropManifest(sp, outDir)
    val parts = math.min(numShards * numEpochs, Int.MaxValue.toLong).toInt
    scheduledAssign(df.withColumn("sz", sizeCol.cast("long"))
        .withColumn("epoch", epoch.cast("long")),
        id, Some(col("epoch")), source, weight, seed, numShards, parts)
      .sortWithinPartitions(col("epoch"), col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("epoch", "shard")
      .parquet(s"$outDir/data")
    val manifest = sp.read.parquet(s"$outDir/data")
      .groupBy(col("epoch").cast("long").as("epoch"),
        col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), max(col("pos")).as("last_pos"),
        sum(col("sz")).as("n_chars"))
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    sp.read.parquet(s"$outDir/manifest")
  }

  /** Invalidate the OLD commit point before touching data (the shared
    * first step of every sink here): readers see either the previous
    * complete epoch or no epoch — never stale-manifest + new data. */
  private def dropManifest(sp: org.apache.spark.sql.SparkSession,
      outDir: String): Unit = {
    val mPath = new org.apache.hadoop.fs.Path(s"$outDir/manifest")
    val fs = mPath.getFileSystem(sp.sparkContext.hadoopConfiguration)
    if (fs.exists(mPath)) fs.delete(mPath, true)
  }

  /** Shard count for a corpus of `totalSize` units at `targetShardSize`
    * units per shard: ceil(total/target), at least 1. Integer arithmetic so
    * an external oracle reproduces the count exactly. */
  def shardCount(totalSize: Long, targetShardSize: Long): Long = {
    require(targetShardSize > 0, s"targetShardSize must be positive, got $targetShardSize")
    math.max(1L, (math.max(0L, totalSize) + targetShardSize - 1) / targetShardSize)
  }

  /** Auto-sized variant: shard count = ceil(Σ size / targetShardSize).
    *
    * `size` is the per-row cost measure (tokens, bytes, chars). The census
    * is one column-pruned aggregate returning a single scalar to the
    * driver — O(scan) work, O(1) result, the same shape as any row-count
    * census — and it fixes the per-shard sort at ~targetShardSize
    * regardless of corpus scale. */
  def epochShuffleAuto(df: DataFrame, id: Column, size: Column, seed: String,
      targetShardSize: Long): DataFrame = {
    require(targetShardSize > 0, s"targetShardSize must be positive, got $targetShardSize")
    val total = df.agg(sum(size.cast("long"))).first() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    epochShuffle(df, id, seed, shardCount(total, targetShardSize))
  }
}
