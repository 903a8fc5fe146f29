package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-mixture assembly arithmetic — the step that turns "mix
  * sources at weights w_s" into concrete per-source token budgets
  * (the Pile / Llama-style pretraining mixtures are specified exactly
  * this way): with integer weight parts w_s and T_s tokens available in
  * source s, the largest NO-UPSAMPLING budget is u = min_s ⌊T_s / w_s⌋
  * whole mixture units, and source s contributes alloc_s = w_s · u
  * tokens of it. Everything stays integer arithmetic, so the result is
  * engine-reproducible; upsampling policies (multiple epochs over a
  * small high-weight source) are a caller-side relaxation of the same
  * numbers, not a different computation.
  *
  * Scale shape: ONE source-keyed aggregate over the corpus (partial
  * map-side combine, tiny result), then the global min over the handful
  * of per-source rows is ONE one-row aggregate OVER THAT AGGREGATE
  * ([[withTotals]]) — single-task, but only the per-source rows ever
  * enter it, so the corpus is never reshuffled and never read twice. (A
  * two-branch aggregate-plus-crossJoin form reads the corpus TWICE:
  * column pruning specializes each branch's scan, so ReuseExchange never
  * fires — plan-pinned in PlanSpec.)
  */
object Mixture {

  /** The "weight is functionally determined by source" contract, made
    * LOUD (r17 verdict #6): every per-source aggregate in this module
    * keys by (source, weight), so a caller whose weight expression
    * varied WITHIN a source used to get two silent allocation rows for
    * it. Route the weight column through a per-source row-count window
    * (the aggregate output is per-source tiny, so the window is free)
    * that raises on the first violating source — downstream arithmetic
    * consumes the routed column, so the check can never be pruned.
    * NULLs raise too (r19 self-review): a NULL source would silently
    * DROP its rows from every source-keyed equi-join in the module
    * (SQL null never matches — the realize cut and the scheduled
    * sink's weight attach would lose the rows without a trace), and a
    * NULL weight passes the multiplicity check yet nulls every
    * downstream allocation/stride key, which then sorts as a silent
    * corruption instead of an error. Non-positive weights raise too
    * (r19 verdict #1): a ZERO weight reaches the stride key's
    * `DIV (2·w)` — under Spark 4's ANSI default that throws a cryptic
    * DIVIDE_BY_ZERO from deep inside the plan (and would silently null
    * under `ansi=false`); a NEGATIVE weight is the silent face — the
    * stride key ⌊(2k−1)·W/(2w)⌋ goes negative, sorting that source's
    * ENTIRE allocation to the front of every schedule and every
    * scheduled shard instead of interleaving it.
    * `private[ops]`: [[EpochShuffle]]'s scheduled sinks build the same
    * per-source weight table and must enforce the same contract. */
  /** `df` with each global aggregate in `totals` attached to every row
    * under its name, through ONE one-row aggregate that carries the rows
    * along (`collect_list`) and explodes them back — no cartesian, no
    * second consumer of `df`. The final aggregate runs in one task, as
    * the unpartitioned window it replaces did (which also logged `No
    * Partition Defined`), so `df` must be a small relation: the
    * per-source or per-bucket rows of an aggregate, never a corpus. */
  private[ops] def withTotals(df: DataFrame, totals: (String, Column)*): DataFrame = {
    val names = df.columns.toSeq
    df.agg(collect_list(struct(names.map(col): _*)).as("__rows"),
        totals.map { case (n, t) => t.as(n) }: _*)
      .select(explode(col("__rows")).as("__r") +: totals.map(t => col(t._1)): _*)
      .select(names.map(n => col("__r").getField(n).as(n)) ++
        totals.map(t => col(t._1)): _*)
  }

  private[ops] def weightChecked(per: DataFrame): DataFrame = {
    val nw = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("source")))
    per.withColumn("weight",
      when(col("source").isNull, raise_error(
        lit("mixture source contract violated: a NULL source row would " +
          "silently drop from every source-keyed join — source must be " +
          "non-null")))
        .when(col("weight").isNull, raise_error(concat(
          lit("mixture weight contract violated: source '"), col("source"),
          lit("' carries a NULL weight — every downstream allocation and " +
            "stride key would null out silently"))))
        .when(col("weight") <= lit(0), raise_error(concat(
          lit("mixture weight contract violated: source '"), col("source"),
          lit("' carries weight "), col("weight").cast("string"),
          lit(" — weights must be positive (zero divides the stride key, " +
            "negative front-loads the source's whole allocation)"))))
        .when(nw > lit(1), raise_error(concat(
          lit("mixture weight contract violated: source '"), col("source"),
          lit("' carries multiple distinct weights — weight must be " +
            "functionally determined by source"))))
        .otherwise(col("weight")))
  }

  /** `source`/`nTok`/`weight` are expressions over `df`'s columns;
    * `weight` must be functionally determined by `source` (it keys the
    * aggregate alongside it; a violation raises — [[weightChecked]]).
    * Output per source: (source, n_docs, n_tokens, weight,
    * alloc_tokens). */
  def mixAllocation(df: DataFrame, source: Column, nTok: Column,
      weight: Column): DataFrame = {
    val per = weightChecked(
      df.select(source.as("source"), nTok.as("n_tok"), weight.as("weight"))
        .groupBy(col("source"), col("weight"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")))
    // the no-upsampling unit count: global min over the per-source rows
    withTotals(per, "__u" -> min(expr("n_tokens DIV weight")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        (col("weight") * col("__u")).as("alloc_tokens"))
  }

  /** REALIZE a training mixture: cut each source's document stream at
    * its [[mixAllocation]] token budget, exactly and deterministically —
    * the step between "the mixture spec says source s contributes
    * alloc_s tokens" and a dataset that actually does. [[temperatureSample]]
    * hits its targets only in expectation (per-doc Bernoulli over a
    * rate); here each source keeps the PREFIX of its docs in hash order
    * whose cumulative token count fits the budget: keep doc d iff
    * `Σ n_tok over (partition source order by h, id) ≤ alloc_s`. The
    * first doc to cross the boundary is dropped, so
    * `alloc_s − kept_tokens_s < that doc's n_tok` — the budget is met
    * as tightly as whole-document selection allows (finer would be a
    * knapsack; pipelines split documents instead, see the chunkers).
    * Hash order (the [[domainQuota]] idiom — md5 over source|id), not
    * arrival/id order, so the kept set is an unbiased reproducible
    * sample and a re-run on a grown corpus keeps a stable selection
    * rule.
    *
    * Scale shape: one tiny source-keyed aggregate (the allocation),
    * broadcast back, then ONE source-keyed window for the running sum —
    * the same single shuffle [[domainQuota]] pays, right up to ~10⁸-doc
    * sources; a pathologically hot source takes [[mixRealizeTwoPass]]
    * (an expected-budget hash threshold bounds the windowed survivor
    * set — implemented, spec-pinned equal on the fixtures).
    *
    * Output per source (the realized-mixture datasheet): EVERY source
    * emits a row — one whose allocation is smaller than its first
    * hash-order doc's token count keeps nothing and reports
    * kept_docs = 0 / slack = alloc (r17 advice: the kept-rows aggregate
    * alone dropped such a source from the datasheet, so a consumer
    * summing it could not see the unfilled budget):
    * (source, alloc_tokens, kept_docs, kept_tokens, slack_tokens). */
  def mixRealize(df: DataFrame, id: Column, source: Column, nTok: Column,
      weight: Column): DataFrame = {
    val (kept, alloc) = mixRealizeParts(df, id, source, nTok, weight)
    val agg = kept.groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
    alloc.join(agg, Seq("source"), "left")
      .select(col("source"), col("alloc_tokens"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("alloc_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("slack_tokens"))
  }

  /** The KEPT ROWS of [[mixRealize]]'s cut — what a pipeline stage joins
    * back onto the corpus to materialize the realized mixture (the
    * summary above is this relation aggregated). Output:
    * (id, source, n_tok, alloc_tokens). */
  def mixRealizeKept(df: DataFrame, id: Column, source: Column,
      nTok: Column, weight: Column): DataFrame =
    mixRealizeParts(df, id, source, nTok, weight)._1

  /** (kept rows, per-source allocation) of the realized cut — the
    * allocation relation rides out so [[mixRealize]] can report sources
    * whose cut kept nothing, without re-scanning the corpus (both
    * consumers share the one checkpointed tokenized projection). */
  private def mixRealizeParts(df: DataFrame, id: Column, source: Column,
      nTok: Column, weight: Column): (DataFrame, DataFrame) = {
    // two consumers (allocation + cut) of the tokenized projection —
    // snapshot so the token count runs once (the module self-join rule)
    val rows = df.select(id.as("id"), source.as("source"),
      nTok.as("n_tok"), weight.as("weight"))
      .localCheckpoint(eager = false)
    val alloc = mixAllocation(rows, col("source"), col("n_tok"),
      col("weight"))
      .select(col("source"), col("alloc_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("id"))
    val kept = rows
      .withColumn("h", Hashing.h64(
        concat(col("source"), lit("|"), col("id").cast("string"))))
      .join(broadcast(alloc), "source")
      .withColumn("cum", sum(col("n_tok")).over(w))
      .where(col("cum") <= col("alloc_tokens"))
      .select(col("id"), col("source"), col("n_tok"), col("alloc_tokens"))
    (kept, alloc)
  }

  /** Multi-EPOCH mixture plan — the table a mixture spec becomes when
    * the token budget EXCEEDS the no-upsampling point ([[mixAllocation]]
    * stops there): per source, its share of a total budget
    * `budgetNum × corpus tokens`, how many passes over the source that
    * means (epochs, in ppm — the Llama/Pile "epochs per source" table),
    * the cap (`maxEpochs` passes — repeating a small source beyond a
    * few epochs measurably hurts, so the excess is REPORTED as
    * shortfall rather than silently over-repeated or redistributed —
    * redistribution loops are a planner's choice, this is the honest
    * input to one). Exact integer arithmetic throughout; the ×10⁶
    * epochs scale-up widens to DECIMAL(38,0) (HUGEINT in the oracle)
    * because `alloc · 10⁶` wraps BIGINT at the 100 TB design point.
    * One source-keyed combiner aggregate + a one-row aggregate over the
    * per-source rows only. Output per source: (source, n_tokens, weight,
    * alloc_tokens, epochs_ppm, capped_tokens, shortfall_tokens). */
  def mixEpochs(df: DataFrame, source: Column, nTok: Column,
      weight: Column, budgetNum: Long, maxEpochs: Long): DataFrame = {
    val per = weightChecked(df.select(source.as("source"), nTok.as("n_tok"),
        weight.as("weight"))
      .groupBy(col("source"), col("weight"))
      .agg(sum(col("n_tok")).as("n_tokens")))
    withTotals(per.select(col("source"), col("n_tokens"), col("weight")),
        "__tn" -> sum(col("n_tokens")), "__tw" -> sum(col("weight")))
      .withColumn("alloc_tokens", expr(
        s"(weight * (__tn * $budgetNum)) DIV __tw"))
      .withColumn("epochs_ppm", expr(
        "(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000) DIV n_tokens"))
      .withColumn("capped_tokens",
        least(col("alloc_tokens"), expr(s"n_tokens * $maxEpochs")))
      .withColumn("shortfall_tokens",
        col("alloc_tokens") - col("capped_tokens"))
      .drop("__tn", "__tw")
  }

  /** Water-filling fixpoint over the per-source (weight, n_tokens)
    * table — [[mixEpochs]]' planner COMPLETION (r17 verdict #2): the
    * plan form REPORTS each capped source's excess as shortfall; this
    * redistributes it across the uncapped sources until no source's
    * proportional share exceeds its `n_tokens · maxEpochs` cap.
    * Simultaneous-round form, exact integer arithmetic: each round
    * computes `share_s = w_s · R DIV Σ_U w` over the uncapped set U
    * with R the budget minus already-capped caps, caps every source
    * whose share exceeds its cap (allocating exactly the cap), and
    * terminates when none does — every round caps ≥ 1 source, so the
    * fixpoint lands in ≤ #sources rounds (shares of survivors only
    * GROW as capped sources leave: a capped source consumed less than
    * its share). Rounds are idempotent at the fixpoint, so an oracle
    * replaying a fixed unroll of ≥ the actual round count computes the
    * identical allocation.
    *
    * Returns (per-source allocation, residual, capped set): residual =
    * budget − Σ alloc — the floor-division remainders of the final
    * round, plus the whole undeliverable excess when EVERY source
    * capped. */
  private def waterFill(per: Seq[(String, BigInt, BigInt)],
      budgetNum: Long, maxEpochs: Long)
      : (Map[String, BigInt], BigInt, Set[String]) = {
    val budget = per.map(_._3).sum * budgetNum
    var uncapped = per.map(_._1).toSet
    var alloc = Map.empty[String, BigInt]
    var remaining = budget
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      // each round caps >= 1 source or terminates — anything past
      // #sources+1 rounds is a logic fault, not a convergence question
      require(rounds <= per.length + 1,
        s"water-filling failed to converge in ${per.length + 1} rounds")
      val u = per.filter(p => uncapped(p._1))
      if (u.isEmpty) done = true
      else {
        val wSum = u.map(_._2).sum
        require(wSum > 0,
          "mixture weights must be positive — the uncapped sources' " +
            s"weight sum is $wSum (a zero-weight source can absorb no " +
            "budget; list only sources the mixture draws from)")
        val share = u.map { case (s, w, n) =>
          (s, w * remaining / wSum, n * maxEpochs) }
        val over = share.filter { case (_, sh, cap) => sh > cap }
        if (over.isEmpty) {
          alloc ++= share.map { case (s, sh, _) => s -> sh }
          done = true
        } else over.foreach { case (s, _, cap) =>
          alloc += s -> cap; remaining -= cap; uncapped -= s
        }
      }
    }
    (alloc, budget - alloc.values.sum, per.map(_._1).toSet -- uncapped)
  }

  /** Per-source (source, weight, n_tokens) with the weight contract
    * enforced, COLLECTED — bounded by the source count: mixture specs
    * are human-written tables (tens to low thousands of sources at the
    * 100 TB design point), the same bounded-census shape as every
    * model/stats pull in the engine. Sorted by source for a
    * deterministic driver-side iteration order. */
  private def collectPer(rows: DataFrame): Seq[(String, BigInt, BigInt)] =
    weightChecked(rows.groupBy(col("source"), col("weight"))
      .agg(sum(col("n_tok")).as("n_tokens")))
      .select(col("source"), col("weight").cast("long"), col("n_tokens"))
      .collect()
      .map(r => (r.getString(0), BigInt(r.getLong(1)), BigInt(r.getLong(2))))
      .toSeq.sortBy(_._1)

  /** The multi-epoch mixture PLAN after shortfall redistribution —
    * [[mixEpochs]] with [[waterFill]] run to its fixpoint. Output per
    * source: (source, n_tokens, weight, alloc_tokens, epochs_ppm,
    * capped, residual_tokens) — `capped` marks sources pinned at
    * `n_tokens · maxEpochs`, `residual_tokens` is the one global
    * undeliverable remainder, identical on every row. */
  def mixEpochsPlan(df: DataFrame, source: Column, nTok: Column,
      weight: Column, budgetNum: Long, maxEpochs: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(source.as("source"), nTok.as("n_tok"),
      weight.as("weight"))
    val per = collectPer(rows)
    val (alloc, residual, cappedSet) = waterFill(per, budgetNum, maxEpochs)
    per.map { case (s, w, n) =>
      val a = alloc(s)
      (s, n.toLong, w.toLong, a.toLong,
        if (n > 0) (a * 1000000 / n).toLong else 0L,
        cappedSet(s), residual.toLong)
    }.toDF("source", "n_tokens", "weight", "alloc_tokens", "epochs_ppm",
      "capped", "residual_tokens")
  }

  /** REALIZE the multi-epoch mixture ([[mixEpochsPlan]] materialized —
    * r17 verdict #2): per source, ⌊alloc / n_tokens⌋ FULL passes over
    * every document (epoch-tagged 0..full−1) plus one fractional
    * epoch — the [[mixRealizeKept]] hash-order prefix cut at the
    * remaining `alloc − full·n_tokens` tokens, tagged epoch = full —
    * then [[EpochShuffle.epochShuffleTagged]] assigns shards with the
    * epoch folded into the hash seed, so each pass lands in a distinct
    * shard order (a trainer must never replay epoch k's order).
    *
    * Scale shape: the plan is a driver-side fixpoint over the bounded
    * per-source table; full passes are ONE broadcast join of a
    * (source, epoch) relation (≤ sources × maxEpochs rows) onto the
    * corpus; the fractional cut is one source-keyed window (the
    * [[mixRealize]] bound applies); sharding adds its one (epoch,
    * shard) exchange. The corpus token projection is checkpointed once
    * and shared. Output: (id, source, n_tok, epoch, shard, pos). */
  def mixEpochsRealize(df: DataFrame, id: Column, source: Column,
      nTok: Column, weight: Column, budgetNum: Long, maxEpochs: Long,
      seed: String, numShards: Long): DataFrame =
    EpochShuffle.epochShuffleTagged(
      mixEpochsKept(df, id, source, nTok, weight, budgetNum, maxEpochs),
      col("id"), col("epoch"), seed, numShards)
      .select(col("id"), col("source"), col("n_tok"), col("epoch"),
        col("shard"), col("pos"))

  /** The PRE-SHUFFLE relation of [[mixEpochsRealize]] — one row per
    * (document, epoch) the realized mixture contains, before shard
    * assignment: what a pipeline sink joins back onto the corpus to
    * materialize the upsampled dataset with full payload (the
    * [[mixRealizeKept]] analogue one level up). Output:
    * (id, source, n_tok, epoch). */
  def mixEpochsKept(df: DataFrame, id: Column, source: Column,
      nTok: Column, weight: Column, budgetNum: Long,
      maxEpochs: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(id.as("id"), source.as("source"),
      nTok.as("n_tok"), weight.as("weight"))
      .localCheckpoint(eager = false)
    val per = collectPer(rows)
    val (alloc, _, _) = waterFill(per, budgetNum, maxEpochs)
    val plan = per.map { case (s, _, n) =>
      val a = alloc(s)
      val full = if (n > 0) (a / n).toLong else 0L
      (s, full, (a - BigInt(full) * n).toLong)
    }
    val fullEp = plan.flatMap { case (s, full, _) =>
      (0L until full).map(e => (s, e)) }.toDF("source", "epoch")
    val fullRows = rows.join(broadcast(fullEp), "source")
      .select(col("id"), col("source"), col("n_tok"), col("epoch"))
    val fracB = plan.filter(_._3 > 0L)
      .map { case (s, full, frac) => (s, full, frac) }
      .toDF("source", "epoch", "frac_tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("id"))
    val fracRows = rows
      .withColumn("h", Hashing.h64(
        concat(col("source"), lit("|"), col("id").cast("string"))))
      .join(broadcast(fracB), "source")
      .withColumn("cum", sum(col("n_tok")).over(w))
      .where(col("cum") <= col("frac_tok"))
      .select(col("id"), col("source"), col("n_tok"), col("epoch"))
    fullRows.unionByName(fracRows)
  }

  /** Deterministic source-INTERLEAVE schedule of a realized mixture —
    * stride scheduling (Waldspurger & Weihl 1995; the order Megatron's
    * blendable dataset consumes a weighted mixture in): a mixture is
    * not just WHICH documents train but in WHAT ORDER the sources
    * interleave — reading source A's allocation then source B's would
    * train on a distribution that drifts source-to-source. Source s's
    * k-th draw (docs in the module's reproducible hash order) gets the
    * ideal-position key `⌊(2k−1)·W / (2·w_s)⌋` (its k-th stride
    * midpoint under weight w_s of total W), and the schedule is the
    * key-ascending order (ties by source, id): any prefix of length t
    * then holds t·w_s/W ± O(1) draws of each source — the interleave a
    * per-step argmin loop produces, in closed form (exact integer
    * arithmetic, so an external engine replays every position).
    *
    * Scale shape: one source-keyed window for k (the [[domainQuota]]
    * shuffle), the tiny per-source weight table broadcast back, the
    * key map-only — and the ORDER is a distributed range sort on the
    * key, never a single-partition global window (the schedule has no
    * dense step column for exactly that reason: consumers read it
    * key-ordered, the key IS the position up to tie runs). The key's
    * multiply widens to DECIMAL(38,0) (the module's overflow
    * convention — [[temperatureSample]], [[mixEpochs]]): `weight` is
    * caller-supplied, and at token-mass-scale weights `(2k−1)·W`
    * wraps BIGINT at k·W > 4.6×10¹⁸ — silently in Spark, loudly in
    * DuckDB, so the engines would diverge exactly at the 100 TB
    * design point (r18 verdict #3). W itself widens too: Σw over
    * thousands of token-mass-scale sources exceeds 2⁶³ INSIDE the
    * window sum (DuckDB's sum(BIGINT) is HUGEINT, Spark's wraps), so
    * the aggregate runs on DECIMAL(38,0) — 10³⁸ headroom covers
    * draws(10¹²)·W(10²¹) with 5 digits to spare. The QUOTIENT stays
    * BIGINT: skey is the draw's ideal global position, bounded by the
    * total draw count plus O(1).
    * Output: (skey, source, id), ascending (skey, source, id). */
  def mixSchedule(df: DataFrame, id: Column, source: Column,
      weight: Column): DataFrame = {
    val rows = df.select(id.as("id"), source.as("source"),
      weight.as("weight"))
    val per = weightChecked(rows.groupBy(col("source"), col("weight"))
      .agg(count(lit(1)).as("n_docs")))
    val wtab = withTotals(per,
      "wsum" -> sum(col("weight").cast("decimal(38,0)")))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("id"))
    rows
      .withColumn("h", Hashing.h64(
        concat(col("source"), lit("|"), col("id").cast("string"))))
      .join(broadcast(wtab.select(col("source"), col("weight").as("w"),
        col("wsum"))), "source")
      .withColumn("k", row_number().over(wk).cast("long"))
      .withColumn("skey", expr(
        "(CAST(2 * k - 1 AS DECIMAL(38,0)) * wsum) DIV (2 * w)"))
      .select(col("skey"), col("source"), col("id"))
      // the documented contract IS the order — a distributed range
      // sort on the key (consumers read the schedule sequentially);
      // an outer orderBy on the same keys collapses into this one
      .orderBy(col("skey"), col("source"), col("id"))
  }

  /** The TWO-PASS form of [[mixRealize]] — the shape its scaladoc
    * prescribes for a pathologically hot source (≫ executor memory per
    * window task), the running-sum analogue of [[domainQuotaTwoPass]]:
    * pass 1 aggregates per-source token mass (tiny, broadcast); each
    * source gets a hash THRESHOLD sized so the EXPECTED token mass
    * under it is `alloc_s · slack` (token counts are independent of the
    * md5 hash, so mass under `h < t` is `n_tokens · t / 2⁶⁰`); the
    * corpus is map-side filtered on `h < thr_s` — no window touches the
    * full source — and only the bounded survivor set pays the exact
    * running-sum cut. With `slack` ≥ 2 the survivors cover the true
    * boundary prefix with overwhelming probability, making the output
    * equal to the window form's (pinned by spec); a source whose
    * survivors fell short of the budget would under-deliver
    * deterministically rather than corrupt — the same documented trade
    * as [[domainQuotaTwoPass]]. Threshold arithmetic widens to
    * DECIMAL(38,0): `(2⁶⁰ DIV n_tokens) · alloc · slack` overflows
    * BIGINT exactly at the scale tier this form exists for. */
  def mixRealizeTwoPass(df: DataFrame, id: Column, source: Column,
      nTok: Column, weight: Column, slack: Long = 2L): DataFrame = {
    val MaxH = 1152921504606846976L // 2^60, the h64 range
    val rows = df.select(id.as("id"), source.as("source"),
      nTok.as("n_tok"), weight.as("weight"))
      .localCheckpoint(eager = false)
    val per = weightChecked(rows.groupBy(col("source"), col("weight"))
      .agg(sum(col("n_tok")).as("n_tokens")))
    val alloc = withTotals(per, "__u" -> min(expr("n_tokens DIV weight")))
      .select(col("source"), col("n_tokens"),
        (col("weight") * col("__u")).as("alloc_tokens"))
      .withColumn("thr", expr(
        s"CAST(LEAST(CAST($MaxH AS DECIMAL(38,0)), " +
          s"CAST($MaxH DIV n_tokens AS DECIMAL(38,0)) * " +
          s"CAST(alloc_tokens AS DECIMAL(38,0)) * $slack) AS BIGINT)"))
      .select(col("source"), col("alloc_tokens"), col("thr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("id"))
    val agg = rows
      .withColumn("h", Hashing.h64(
        concat(col("source"), lit("|"), col("id").cast("string"))))
      .join(broadcast(alloc), "source")
      .where(col("h") < col("thr"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .where(col("cum") <= col("alloc_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
    // every source emits a datasheet row, kept = 0 when nothing fit under
    // its threshold (the same r17-advice completeness rule as mixRealize)
    alloc.join(agg, Seq("source"), "left")
      .select(col("source"), col("alloc_tokens"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("alloc_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("slack_tokens"))
  }

  /** Domain balancing by per-domain quota (the C4/RefinedWeb "cap any one
    * host's contribution" rule): keep at most `quota` documents per
    * domain, chosen by md5-hash rank — hash order, not arrival or id
    * order, so the survivors are an unbiased, reproducible sample of the
    * domain (the same reason [[temperatureSample]] hash-buckets instead
    * of rand()), and re-running on a grown corpus keeps a stable prefix
    * of the old survivors' ordering.
    *
    * Scale shape: one domain-keyed window (row_number over hash) — a
    * single shuffle on domain; per-task cost is that domain's doc count.
    * A pathologically hot domain (≫ memory) would instead take the
    * two-pass form: aggregate an approximate per-domain hash threshold
    * at quota/n_domain quantile, broadcast it, map-side filter, and only
    * exact-rank the survivors — same output, corpus never sorted. The
    * window form is right up to domains of ~10⁸ docs.
    *
    * Output: (id, domain, rk) for survivors, rk 1..quota in hash order. */
  def domainQuota(df: DataFrame, id: Column, domain: Column,
      quota: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("h"), col("id"))
    df.select(id.as("id"), domain.as("domain"))
      .withColumn("h",
        Hashing.h64(concat(col("domain"), lit("|"), col("id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= quota)
      .select(col("id"), col("domain"), col("rk"))
  }

  /** The TWO-PASS form of [[domainQuota]] — the shape [[domainQuota]]'s
    * scaladoc prescribes for pathologically hot domains (≫ executor
    * memory), now implemented: pass 1 aggregates per-domain counts (tiny,
    * broadcast); each domain gets a hash THRESHOLD
    * `min(2^60, (2^60 DIV n_d) · quota · slack)` sized so the expected
    * survivor count is `quota · slack`; the corpus is then map-side
    * filtered on `h < thr_d` — no window touches the full domain — and
    * only the small survivor set is exact-ranked to the final
    * `rk ≤ quota` cut. With `slack` ≥ 2 the survivor superset covers the
    * true hash-top-quota with overwhelming probability, making the
    * output equal to the window form's (pinned by spec on the fixtures);
    * a domain whose survivors fell short would under-deliver
    * deterministically rather than corrupt — the documented trade.
    * Threshold arithmetic widens to DECIMAL(38,0) (HUGEINT in the
    * oracle): `(2^60 DIV 1) · quota · slack` overflows BIGINT.
    *
    * Scale shape: one combiner count aggregate, one broadcast join +
    * map filter, then a window over `quota · slack` expected rows per
    * domain — per-task cost is bounded by the threshold, not the
    * domain's size. */
  def domainQuotaTwoPass(df: DataFrame, id: Column, domain: Column,
      quota: Long, slack: Long = 2L): DataFrame = {
    val MaxH = 1152921504606846976L // 2^60, the h64 range
    val base = df.select(id.as("id"), domain.as("domain"))
      .withColumn("h",
        Hashing.h64(concat(col("domain"), lit("|"), col("id").cast("string"))))
    val thr = expr(s"CAST(LEAST(CAST($MaxH AS DECIMAL(38,0)), " +
      s"CAST($MaxH DIV n AS DECIMAL(38,0)) * ${quota * slack}) AS BIGINT)")
    val counts = base.groupBy(col("domain")).agg(count(lit(1)).as("n"))
      .withColumn("thr", thr)
    val surv = base
      .join(broadcast(counts.select(col("domain"), col("thr"))), "domain")
      .where(col("h") < col("thr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("h"), col("id"))
    surv.withColumn("rk", row_number().over(w))
      .where(col("rk") <= quota)
      .select(col("id"), col("domain"), col("rk"))
  }

  /** Temperature-scaled mixture sampling (the mC4 / XLM-R α-sampling
    * rule, α = 1/2): per-source sampling mass ∝ n_tokens^α, so
    * low-resource sources are upweighted relative to their natural
    * share. Everything after the one `floor(sqrt(·))` — an exact IEEE
    * pair of ops on any engine — is integer arithmetic:
    *
    *   w_s      = ⌊√n_tokens_s⌋
    *   budget   = (Σ n_tokens) DIV 2          (half-corpus token budget)
    *   target_s = (w_s · budget) DIV Σw
    *   rate_s   = min(10^6, (target_s · 10^6) DIV n_tokens_s)  [ppm]
    *
    * A document survives iff its md5 bucket (`pmod(h64('tsamp:'||id),
    * 10^6)`) falls under its source's rate — hash sampling, not rand():
    * reproducible across runs, engines, and resumes, the same reason
    * `pipe_sample_stratified` hashes. Selection is token-mass-targeted
    * but decided per document, so realized kept_tokens tracks target_s
    * in expectation (exact-budget packing is a knapsack, not a sampling
    * pass).
    *
    * Scale shape: one source-keyed aggregate (map-side combine, tiny
    * result), one-row global sums over the per-source rows ONLY,
    * then the rates broadcast back onto the corpus for the keep pass —
    * the corpus is scanned twice (aggregate + filter), which is
    * inherent: rates are a function of the global aggregate. Output per
    * source: (source, n_docs, n_tokens, w, target_tokens, rate_ppm,
    * kept_docs, kept_tokens). */
  def temperatureSample(df: DataFrame, id: Column, source: Column,
      nTok: Column): DataFrame = {
    // two consumers (aggregate + keep pass) of the tokenized projection —
    // snapshot so the token count runs once (the module self-join rule)
    val rows = df.select(id.as("id"), source.as("source"), nTok.as("n_tok"))
      .localCheckpoint(eager = false)
    val per = rows.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val rates = withTotals(per
        .withColumn("w", floor(sqrt(col("n_tokens").cast("double"))).cast("long")),
        "__tn" -> sum(col("n_tokens")), "__tw" -> sum(col("w")))
      .withColumn("target_tokens", expr("(w * (__tn DIV 2)) DIV __tw"))
      .drop("__tn", "__tw")
      // widen to DECIMAL(38,0) before the ×10^6 scale-up: in pure Int64
      // the multiply wraps above ~9.2e12 target tokens — real at the
      // module's 100 TB design point — and Spark wraps silently while
      // DuckDB raises, so the engines would diverge exactly there. DIV on
      // decimal operands is IntegralDivide → BIGINT (DuckDB: HUGEINT `//`).
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("(CAST(target_tokens AS DECIMAL(38,0)) * 1000000) DIV n_tokens")))
    val kept = rows
      .withColumn("bucket",
        pmod(Hashing.h64(concat(lit("tsamp:"), col("id").cast("string"))),
          lit(1000000L)))
      .join(broadcast(rates.select(col("source"), col("rate_ppm"))),
        Seq("source"))
      .where(col("bucket") < col("rate_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w"),
        col("target_tokens"), col("rate_ppm"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }
}
