package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Hashing.h64

/** Data Selection via Importance Resampling (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling" — DSIR): score
  * every candidate document by how much more likely its hashed n-gram
  * features are under a TARGET corpus distribution than under the RAW
  * candidate pool, then keep the highest-scoring candidates. This is the
  * standard "select web text that looks like Wikipedia/books" pass of a
  * pretraining pipeline, and the natural companion to the quality filters
  * in [[TextAnalysis]].
  *
  * Features are the paper's: unigrams AND adjacent bigrams, hashed into a
  * fixed bucket space (the fixed dimensionality is what makes the
  * bag-of-ngrams model tractable at any vocabulary). Per bucket `b` the
  * add-1-smoothed log-likelihood ratio is
  * `lr(b) = ln( (c_t(b)+1)·(T_r+B) / ((c_r(b)+1)·(T_t+B)) )`, and a
  * document's importance weight is the sum of `lr` over its feature
  * occurrences.
  *
  * Engine-reproducibility: the ratio is quantized ONCE per bucket —
  * `floor(lr · 1e6)` as a 64-bit integer — so the per-document sum is
  * exact integer arithmetic, immune to float-summation order (a double
  * sum over shuffled feature rows would differ run to run, let alone
  * engine to engine). The only cross-engine float surface is `ln` on B
  * bucket constants, agreed to 1e-6 between the JVM and DuckDB's libm.
  *
  * Scale shape: ONE explode+hash pass over the corpus, immediately
  * collapsed to the per-document feature histogram (did, tgt, bucket,
  * cnt) — combiner-friendly, ≤ docs × buckets rows — and snapshotted.
  * Both model passes run over that compact table: the bucket
  * distributions are a second-level aggregate of it (≤ `buckets` result
  * rows), and scoring joins the tiny broadcast `lr` table back to it for
  * one doc-keyed integer sum. The raw exploded feature stream is never
  * materialized OR re-derived — at 100 TB, hashing every token twice is
  * the cost worth designing away.
  */
object Dsir {

  /** Importance scores for EVERY row of `df` (target rows included — their
    * scores are the standard diagnostic that the model separates the two
    * pools). `toks` is the tokenized text (caller controls the tokenizer),
    * `isTarget` marks rows of the target corpus; `buckets` is the hashed
    * feature dimensionality. Output: (<id>, score) with score the exact
    * integer `Σ floor(lr·1e6)` over the row's features; token-less rows
    * score 0. */
  def importanceScores(df: DataFrame, id: Column, toks: Column,
      isTarget: Column, buckets: Int): DataFrame = {
    val b = lit(buckets.toLong)
    val base = df
      .select(id.as("did"), toks.as("toks"), isTarget.cast("boolean").as("tgt"))
      .localCheckpoint(eager = false)
    // THE one corpus pass: explode unigrams+bigrams, hash, and collapse
    // straight to the per-document feature histogram — every downstream
    // stage reads this compact snapshot, never the raw feature stream
    val feat = base
      .select(col("did"), col("tgt"),
        explode(concat(col("toks"), Dedup.gramArray(col("toks"), 2))).as("f"))
      .groupBy(col("did"), col("tgt"), pmod(h64(col("f")), b).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val counts = feat.groupBy(col("bucket")).agg(
      sum(when(col("tgt"), col("cnt")).otherwise(0L)).as("c_t"),
      sum(when(col("tgt"), 0L).otherwise(col("cnt"))).as("c_r"))
    // totals: a one-row aggregate over the ≤ `buckets`-row counts (never
    // over the corpus — same shape as Mixture's global min)
    val lr = Mixture.withTotals(counts,
        "__sr" -> sum(col("c_r")), "__st" -> sum(col("c_t")))
      .select(col("bucket"),
        floor(log(
          ((col("c_t") + 1).cast("double") *
            (col("__sr") + b).cast("double")) /
          ((col("c_r") + 1).cast("double") *
            (col("__st") + b).cast("double"))) * 1e6)
          .cast("long").as("lr"))
    val scored = feat
      .join(broadcast(lr), "bucket")
      .groupBy(col("did")).agg(sum(col("cnt") * col("lr")).as("score"))
    base.select(col("did"))
      .join(scored, Seq("did"), "left")
      .select(col("did"), coalesce(col("score"), lit(0L)).as("score"))
  }
}
