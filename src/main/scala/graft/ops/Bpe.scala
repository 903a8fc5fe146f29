package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One training iteration of byte-pair encoding (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"): count
  * every adjacent symbol pair across the corpus, weighted by word
  * frequency, and surface the top merge candidates. Tokenizer training
  * over a pretraining corpus is exactly this loop; like
  * [[Ann.kmeansStep]], the operator is the distributed STEP (the
  * downstream trainer owns the merge-apply-repeat driver loop).
  *
  * Scale shape — the reason BPE training is feasible at 100 TB at all:
  * the corpus collapses to its word-frequency table first (one explode →
  * combiner-friendly count, output ∝ VOCABULARY), and the pair counting
  * then runs over distinct words only, each weighted by its frequency —
  * so per-iteration work is vocabulary-sized, corpus-size-independent.
  * The final cut is a TakeOrdered top-k, never a full sort.
  *
  * Determinism: counts are exact integers; ties in the merge ranking
  * break lexicographically on the pair text, so the top-k set and order
  * reproduce in any engine.
  */
object Bpe {

  /** Adjacent character pairs of `w` as "a b" strings, one per position —
    * [[symPairs]] over [[charSyms]]; `substring` is 1-based and
    * codepoint-counted in both Spark and DuckDB's `substr`, so the pair
    * text is engine-portable. */
  private def charPairs(w: Column): Column = symPairs(charSyms(w))

  /** The top-`k` symbol-pair merge candidates over `df`'s tokenized
    * `toks` column: `(rank, pair, cnt)` with `cnt` the exact number of
    * corpus occurrences of the adjacent pair (weighted by word
    * frequency, all occurrences within a word counted), ranked by count
    * descending then pair text ascending. */
  def topPairs(df: DataFrame, toks: Column, k: Int): DataFrame = {
    // corpus -> word frequency table: the one corpus-sized pass
    val words = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // vocabulary-sized from here on: pairs explode over DISTINCT words
    val pairs = words
      .select(col("freq"), explode(charPairs(col("w"))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
    // global top-k: orderBy+limit compiles to TakeOrderedAndProject, and
    // the rank window then runs over the k survivors only. The limit
    // leaves them in one partition, so a window keyed on the partition
    // id numbers them as an unpartitioned one would
    val top = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(spark_partition_id())
          .orderBy(col("cnt").desc, col("pair").asc)))
      .select(col("rank"), col("pair"), col("cnt"))
  }

  /** Symbol array of `w`: its codepoints as one-char strings (the BPE
    * base vocabulary). Empty for the empty string — `sequence()` runs
    * DESCENDING on a negative span. */
  private def charSyms(w: Column): Column =
    when(length(w) >= 1,
      transform(sequence(lit(1), length(w)), i => substring(w, i, lit(1))))
      .otherwise(array().cast("array<string>"))

  /** Adjacent pairs of a symbol array as "a b" strings — exactly
    * [[Dedup.gramArray]] at n=2 (one definition of the space-joined
    * pair text, shared with every other gram consumer). */
  private def symPairs(syms: Column): Column = Dedup.gramArray(syms, 2)

  /** The full BPE training loop: `iterations` rounds of count-pairs →
    * pick the argmax → merge it everywhere, returning the learned merge
    * table `(iter, pair, cnt)` in learning order. This is the driver
    * loop [[topPairs]] deliberately leaves to the caller, packaged: the
    * corpus collapses ONCE to its word-frequency table (localCheckpoint
    * cuts the lineage so iteration i does not replay the corpus scan),
    * and each round is a vocabulary-sized job — re-derive the current
    * segmentation by replaying the merges learned so far through the
    * tight-loop [[graft.exprs.BpeEncode]] expression (sequential
    * training application ≡ rank-greedy encode: any merge that could
    * re-expose an earlier pair must itself rank earlier, since a pair's
    * component symbols always come from strictly earlier merges), count
    * adjacent pairs weighted by word freq, and TakeOrdered the single
    * winner to the driver (a model artifact, not a data collect).
    *
    * Stops early if the vocabulary runs out of adjacent pairs. Counts
    * are exact; ties break on pair text — reproducible anywhere. */
  def train(df: DataFrame, toks: Column, iterations: Int): DataFrame =
    trainWithVocab(df, toks, iterations)._1

  /** [[train]] plus the checkpointed `(w, freq)` word-frequency table it
    * trained on — for callers that immediately encode the same
    * vocabulary (one corpus collapse instead of two; the checkpoint is
    * already paid, re-deriving it would repeat the corpus explode the
    * train scaladoc says we avoid). */
  def trainWithVocab(df: DataFrame, toks: Column,
      iterations: Int): (DataFrame, DataFrame) = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    val sp = df.sparkSession
    val words = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var exhausted = false
    for (_ <- 1 to iterations if !exhausted) {
      val syms =
        if (merges.isEmpty) charSyms(col("w"))
        else encode(col("w"), merges.map(_._1).toSeq)
      val best = words
        .select(col("freq"), explode(symPairs(syms)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else merges += ((best(0).getString(0), best(0).getLong(1)))
    }
    import sp.implicits._
    (merges.toSeq.zipWithIndex
      .map { case ((p, c), i) => ((i + 1).toLong, p, c) }
      .toDF("iter", "pair", "cnt"), words)
  }

  /** Greedy BPE encoding of `word` under `merges` (rank = list order,
    * pair text space-joined as [[topPairs]] emits it) — see
    * [[graft.exprs.BpeEncode]] for the exact GPT-2 `bpe()` semantics.
    * Returns the piece array. */
  def encode(word: Column, merges: Seq[String]): Column = {
    import graft.exprs.exprs.{toColumn, toExpr}
    toColumn(graft.exprs.BpeEncode(toExpr(word), merges))
  }

  /** GPT-2-shape pre-tokenizer, minus the trailing-space lookahead
    * (`\s+(?!\S)`) the original uses — RE2-based oracles have no
    * lookahead, so runs of 2+ spaces keep their spaces in the whitespace
    * pre-token instead of donating one to the next word (deterministic
    * in both engines; single-spaced text is unaffected). The contraction
    * alternations ('s|'t|'re|'ve|'m|'ll|'d) ARE kept — lookahead-free,
    * so RE2 runs them — making "don't" pre-tokenize as [don, 't] like
    * GPT-2, not [don, ', t]. A word carries its leading space (the 'Ġ'
    * convention after [[byteLevelToks]]' remap), letters/digits/other
    * split into separate pre-tokens. */
  val PreTokenRegex: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** Byte-level tokens of `text`: [[PreTokenRegex]] pre-tokenization,
    * each pre-token byte-remapped ([[graft.exprs.ByteRemap]]) so its
    * CODEPOINTS are its UTF-8 BYTES under the GPT-2 printable table.
    * Feed the result anywhere [[train]]/[[topPairs]]/[[encode]] take a
    * `toks` column and the whole whitespace-word machinery becomes
    * byte-level BPE with byte fallback: no input can fall outside the
    * 256-symbol base alphabet, which is what makes a trained tokenizer
    * total over an uncurated crawl. Map-only; the remap is one tight
    * loop per pre-token. */
  def byteLevelToks(text: Column): Column = {
    import graft.exprs.exprs.{toColumn, toExpr}
    transform(regexp_extract_all(text, lit(PreTokenRegex), lit(0)),
      tk => toColumn(graft.exprs.ByteRemap(toExpr(tk))))
  }
}
