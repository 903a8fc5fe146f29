package graft.engine

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.SchemaDerivation

/** Batch ingest: JSONL → typed Parquet split + manifest commit, mirroring
  * the reference's `index` command (`/root/reference/src/commands/index.rs`
  * `:95-192`): parse each document against the declared schema, funnel
  * undeclared keys into `_dynamic`, skip (and count) documents with a
  * parse error on any declared field, and register the split atomically
  * only after all data files are written.
  *
  * Scale shape: the whole pipeline is narrow (read text → project → write
  * parquet) — zero shuffles; parallelism is the input's natural split
  * count. The reference's always-merge-to-one-segment step
  * (`index.rs:211-217`) is deliberately NOT reproduced as `coalesce(1)` —
  * a split here is a *directory* whose file count equals the write
  * parallelism, so a 1000-executor ingest writes 1000 objects for one
  * atomic commit instead of serializing through one writer.
  */
final class Indexer(spark: SparkSession, catalog: Catalog) {

  /** Time-ordered split id (UUIDv7-style: millis prefix + random). */
  private def newSplitId(): String =
    f"${System.currentTimeMillis()}%013x-${UUID.randomUUID().toString.take(18)}"

  /** Index one JSONL file (or directory of files). Returns the committed
    * split, or None when the batch held zero valid documents (the
    * reference skips the commit entirely then, `index.rs:164-170`). */
  def indexFile(indexName: String, inputPath: String): Option[SplitInfo] = {
    val lines = spark.read.text(inputPath)
    indexDataFrame(indexName, lines)
  }

  /** Ingest from a STRUCTURED source (parquet / csv-with-header) by
    * re-serializing each row to a JSON line and feeding the one ingest
    * path — the schema cascade, skip-on-error policy, `_dynamic`
    * residual, and stats-on-write all apply identically, so a column
    * the index schema doesn't know lands in `_dynamic` instead of being
    * dropped. `to_json` is a codegen'd projection: the detour costs one
    * narrow map, not a shuffle, and keeps ONE parser as the single
    * source of ingest truth (two parse paths drifting is the bug class
    * this avoids). */
  def indexStructured(indexName: String, inputPath: String,
      format: String): Option[SplitInfo] = {
    val df = format match {
      case "parquet" => spark.read.parquet(inputPath)
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true").csv(inputPath)
      case other => sys.error(s"unsupported ingest format: $other" +
        " (want parquet | csv | jsonl)")
    }
    indexDataFrame(indexName,
      df.select(to_json(struct(df.columns.map(col): _*)).as("value")))
  }

  /** Index a DataFrame with a single string column `value` (one JSON doc
    * per row). Used by both batch and streaming paths. */
  def indexDataFrame(indexName: String, lines: DataFrame): Option[SplitInfo] = {
    val cfg = catalog.load(indexName)
    val d = new SchemaDerivation(cfg)
    val typed = d.ingest(lines, col("value"))

    val id = newSplitId()
    val dir = catalog.splitDir(indexName, id)
    // ONE job: the write pass carries the stats aggregates as observed
    // metrics, gating empty batches and filling the manifest entry without
    // re-reading what was just written.
    val split = Indexer.writeSplit(spark, d, typed, dir, id)
    if (split.numDocs == 0) {
      catalog.deleteDirBestEffort(dir)
      None
    } else {
      catalog.commitSplit(indexName, split)
      Some(split)
    }
  }

  /** Merge compaction (`/root/reference/src/commands/merge.rs:19-73`):
    * read all live splits, rewrite as one, swap the manifest atomically,
    * best-effort delete the old files. Requires >= 2 splits, like the
    * reference (`merge.rs:28-31`). */
  def merge(indexName: String, retainInputs: Boolean = false): Option[SplitInfo] =
    mergeSplits(indexName, catalog.liveSplits(indexName),
      retainInputs = retainInputs)

  /** Tiered compaction — the scale-correct variant the reference lacks:
    * merge only splits smaller than `smallDocs`, leaving large splits'
    * files untouched. Full `merge` rewrites the whole index every time
    * (fine for a CLI, quadratic write amplification for a long-lived
    * stream of small commits); this keeps compaction cost proportional to
    * the small tier. Repeated calls converge: merged output that crosses
    * the threshold graduates out of the tier. */
  /** Note: with `dedup` the duplicate drop applies WITHIN the merged
    * (sub-threshold) set only — a duplicate spanning a small and a large
    * split survives; run the full [[mergeDedup]] to clear those. */
  def mergeSmall(indexName: String, smallDocs: Long,
      dedup: Boolean = false, retainInputs: Boolean = false): Option[SplitInfo] =
    mergeSplits(indexName,
      catalog.liveSplits(indexName).filter(_.numDocs < smallDocs), dedup,
      retainInputs)

  /** Compact-and-deduplicate: merge that also drops exact duplicate
    * documents (every stored column equal — the at-least-once streaming
    * failure mode, and the first dedup pass of a training pipeline, run
    * inside compaction where the data is being rewritten anyway). One
    * extra shuffle on all columns over data that is already in flight. */
  def mergeDedup(indexName: String,
      retainInputs: Boolean = false): Option[SplitInfo] =
    mergeSplits(indexName, catalog.liveSplits(indexName), dedup = true,
      retainInputs = retainInputs)

  /** Tiered merge that never touches the named split — the streaming
    * auto-compaction hook: the just-committed split is the only one a
    * checkpoint-replayed micro-batch can legitimately overwrite, so
    * excluding it keeps the idempotent-replay (effective exactly-once)
    * guarantee while everything older gets compacted. */
  def mergeSmallExcept(indexName: String, smallDocs: Long,
      excludeId: String): Option[SplitInfo] =
    mergeSplits(indexName, catalog.liveSplits(indexName)
      .filter(s => s.numDocs < smallDocs && s.id != excludeId))

  private def mergeSplits(indexName: String, splits: List[SplitInfo],
      dedup: Boolean = false,
      retainInputs: Boolean = false): Option[SplitInfo] = {
    val cfg = catalog.load(indexName)
    val d = new SchemaDerivation(cfg)
    if (splits.length < 2) return None

    val id = newSplitId()
    val dir = catalog.splitDir(indexName, id)
    // readSplits upgrades format-1 inputs, so a merge across formats
    // writes one uniform current-format output split.
    val read = Catalog.readSplits(spark, d, splits,
      s => catalog.splitDir(indexName, s.id))
    // variant is not a groupable type — dedup keys on its JSON text
    // (deterministic: variant object keys render sorted)
    val df = if (dedup) {
      val dynKey = "__dyn_key"
      val keys = read.columns.filterNot(_ == SchemaDerivation.Dynamic).toSeq :+ dynKey
      read.withColumn(dynKey, to_json(col(SchemaDerivation.Dynamic)))
        .dropDuplicates(keys)
        .drop(dynKey)
    } else read
    // Compaction controls output file count via repartition: small indexes
    // collapse to one file; at scale this would target a fixed bytes/file.
    // Stats ride the write pass (observed metrics over the post-shuffle
    // rows), so the compacted output is never re-read for its manifest
    // entry; the write-task count is `parts` — passed as the hint, which
    // both sizes the Bloom-on-observe decision and spares writeSplit an
    // RDD probe (under AQE, probing a plan holding an exchange would
    // eagerly EXECUTE the shuffle, running the repartition twice).
    val n = splits.map(_.numDocs).sum
    val parts = math.max(1, (n / Indexer.MaxRecordsPerFile).toInt)
    val split = Indexer.writeSplit(spark, d, df.repartition(parts), dir, id,
      partitionsHint = Some(parts))
    // A plain merge concatenates its inputs verbatim — declare it
    // lossless so the produced split inherits the inputs' ANN coverage
    // through `parents`. A --dedup merge drops documents: no lineage.
    if (catalog.swapSplits(indexName, splits.map(_.id), List(split),
        retainInputs, lossless = !dedup)) Some(split)
    else {
      // a concurrent merge consumed (some of) our inputs first: our output
      // would duplicate those documents, so abandon it and clean up
      catalog.deleteDirBestEffort(dir)
      None
    }
  }
}

object Indexer {

  /** Upper bound on rows per written Parquet file: a skewed or
    * single-partition input otherwise produces one giant object, which on
    * an object store means one giant PUT and no read parallelism within
    * the split. (At real scale this would be a byte target; rows are the
    * proxy the writer exposes.) */
  val MaxRecordsPerFile = 4000000L

  /** Complete-dictionary size cap: a raw text field's distinct values are
    * recorded in the manifest only when there are at most this many —
    * enough for enum-like log fields (severity, service, lang) while
    * keeping the manifest O(bytes) per split. */
  val DictCap = 16

  private def tsFieldOf(d: SchemaDerivation) =
    d.config.schema.timeField.flatMap(d.byFlatName.get).filter {
      _.fieldType.isInstanceOf[graft.config.DateTimeField]
    }
  private def numFieldsOf(d: SchemaDerivation) = d.resolved.filter { rf =>
    !rf.array && (rf.fieldType match {
      case n: graft.config.NumberField => n.indexed || n.fast
      case _                           => false
    })
  }
  private def dictFieldsOf(d: SchemaDerivation) = d.resolved.filter { rf =>
    !rf.array && (rf.fieldType match {
      case t: graft.config.TextField => t.tokenizer.contains("raw")
      case _                         => false
    })
  }
  // IP zone maps: the canonical 16 bytes as fixed-width uppercase hex —
  // string min/max ≡ unsigned byte order ≡ numeric IP order.
  private def ipFieldsOf(d: SchemaDerivation) = d.resolved.filter { rf =>
    !rf.array && (rf.fieldType match {
      case ip: graft.config.IpField => ip.indexed || ip.fast
      case _                        => false
    })
  }
  // Term-digest inputs: (flatName, token-array column) — every text
  // field's ingest-time terms array, every declared dynamic_object field
  // with a real tokenizer (the compiled term predicate tokenizes the
  // STORED JSON text with that tokenizer, so a digest over the same
  // tokenization is exact; raw/None dyn fields compare against the
  // CANONICALIZED text and stay undigested), plus the catch-all. The
  // same single pass builds every per-split Bloom filter.
  private def digestFieldsOf(d: SchemaDerivation)
      : List[(String, org.apache.spark.sql.Column)] = {
    def termsCol(flat: String) =
      col(s"`${graft.config.SchemaDerivation.Terms}`").getField(flat)
    val declared = d.termsFields.map { case (flat, _, _) => flat -> termsCol(flat) }
    val dyn = d.resolved.collect {
      case rf if rf.fieldType.isInstanceOf[graft.config.DynamicObjectField] &&
          rf.fieldType.asInstanceOf[graft.config.DynamicObjectField]
            .tokenizer.exists(_ != "raw") =>
        val tok = rf.fieldType.asInstanceOf[graft.config.DynamicObjectField]
          .tokenizer.get
        rf.flatName ->
          graft.functions.TextFunctions.tokensOf(rf.column, tok, rf.array)
    }
    declared ++ dyn :+
      (graft.config.SchemaDerivation.Dynamic ->
        termsCol(graft.config.SchemaDerivation.Dynamic))
  }

  /** The per-split statistics aggregate list — shared verbatim between
    * the ingest write pass ([[Indexer.writeSplit]]'s `Dataset.observe`)
    * and the read-back fallback ([[splitStats]]), so both produce
    * identical manifests:
    *
    *  - numDocs (fused here so callers skip a separate count job);
    *  - time_field min/max in epoch micros;
    *  - min/max zone maps for every indexed non-array numeric field,
    *    widened one ulp so Long→Double rounding stays conservative;
    *  - complete value dictionaries (≤ [[DictCap]] distinct values) for
    *    indexed non-array raw-tokenizer text fields, via the bounded-set
    *    aggregate ([[graft.exprs.BoundedSet]]) — executor state is
    *    capped, so no cardinality probe is needed;
    *  - token Bloom digests per text field + catch-all ([[TokenBloom]],
    *    state bounded by the dense filter, shrunk driver-side).
    *
    * Both custom aggregates are native Catalyst aggregates that serialize
    * their own buffers: analysis resolves no encoders for them.
    */
  /** Byte-sized-per-task aggregates: count, zone maps, dictionaries. */
  private def scalarAggs(d: SchemaDerivation): List[org.apache.spark.sql.Column] =
    count(lit(1)).as("__n") ::
      tsFieldOf(d).toList.flatMap(rf =>
        List(min(rf.column).as("__ts_mn"), max(rf.column).as("__ts_mx"))) ++
      numFieldsOf(d).flatMap(rf => List(
        min(rf.column).cast("double").as(s"__mn__${rf.flatName}"),
        max(rf.column).cast("double").as(s"__mx__${rf.flatName}"))) ++
      ipFieldsOf(d).flatMap(rf => List(
        min(hex(rf.column)).as(s"__ipmn__${rf.flatName}"),
        max(hex(rf.column)).as(s"__ipmx__${rf.flatName}"))) ++
      dictFieldsOf(d).map(rf =>
        graft.exprs.BoundedSet.column(rf.column, DictCap)
          .as(s"__dict__${rf.flatName}"))

  /** Bloom-digest aggregates — up to [[TermDigest.BuildBits]]/8 bytes of
    * state per task per field, once a task's field passes
    * [[TokenBloom.SparseMax]] distinct bit positions; 4 bytes a position
    * below that. */
  private def bloomAggs(d: SchemaDerivation): List[org.apache.spark.sql.Column] =
    digestFieldsOf(d).map { case (f, toks) =>
      TokenBloom.column(toks).as(s"__bloom__$f")
    }

  private def statsAggs(d: SchemaDerivation): List[org.apache.spark.sql.Column] =
    scalarAggs(d) ++ bloomAggs(d)

  /** Build the [[SplitInfo]] (and write the term-digest sidecar) from one
    * stats row, addressed by aggregate alias — `get` abstracts over a
    * collected `Row` and an observed-metrics map. */
  private def splitInfoFrom(spark: SparkSession, d: SchemaDerivation,
      get: String => Any, splitDir: String, id: String): SplitInfo = {
    val numDocs = get("__n").asInstanceOf[Long]
    if (numDocs == 0) return SplitInfo(id, 0)

    def micros(name: String): Option[Long] =
      Option(get(name)).map {
        case t: java.sql.Timestamp =>
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        case t: java.time.Instant =>
          t.getEpochSecond * 1000000L + t.getNano / 1000L
        case t: java.time.LocalDateTime =>
          t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
            t.getNano / 1000L
        case other => sys.error(s"unexpected timestamp type: ${other.getClass}")
      }
    val (minTs, maxTs) =
      if (tsFieldOf(d).isDefined) (micros("__ts_mn"), micros("__ts_mx"))
      else (None, None)

    val numStats = numFieldsOf(d).flatMap { rf =>
      (Option(get(s"__mn__${rf.flatName}")),
        Option(get(s"__mx__${rf.flatName}"))) match {
        case (Some(mn: Double), Some(mx: Double)) if !mn.isNaN && !mx.isNaN =>
          Some(rf.flatName -> (Math.nextDown(mn), Math.nextUp(mx)))
        case _ => None
      }
    }.toMap

    val hexStats = ipFieldsOf(d).flatMap { rf =>
      (Option(get(s"__ipmn__${rf.flatName}")).map(_.asInstanceOf[String]),
        Option(get(s"__ipmx__${rf.flatName}")).map(_.asInstanceOf[String])) match {
        case (Some(mn), Some(mx)) => Some(rf.flatName -> (mn, mx))
        case _                    => None
      }
    }.toMap

    // BoundedSet saturates at cap+1 elements — a saturated result means
    // "field has too many distinct values, no dictionary"; the state is
    // bounded on the executors regardless of cardinality, so this runs
    // inside the single stats pass (no probe, no second scan).
    val dicts = dictFieldsOf(d).flatMap { rf =>
      val vals = get(s"__dict__${rf.flatName}")
        .asInstanceOf[scala.collection.Seq[String]]
      if (vals != null && vals.size <= DictCap) Some(rf.flatName -> vals.toList)
      else None
    }.toMap

    // Shrink the build-size Bloom filters (fold while sparse, drop when
    // saturated) and publish them as a sidecar INSIDE the split dir —
    // written before the manifest commit like all split data, invisible to
    // the Parquet reader (`_` prefix). The manifest entry carries only the
    // sidecar's md5, keeping the hot-path manifest read small while giving
    // the searcher an exact cache key for the lazily fetched digests.
    val digests = digestFieldsOf(d).flatMap { case (f, _) =>
      Option(get(s"__bloom__$f")).map(_.asInstanceOf[Array[Byte]])
        .flatMap(TermDigest.shrinkBytes).map(f -> _)
    }.toMap
    val dir = new org.apache.hadoop.fs.Path(splitDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val digestMd5 =
      if (digests.isEmpty) None
      else {
        val bytes = TermDigest.renderAll(digests)
        val out =
          fs.create(new org.apache.hadoop.fs.Path(dir, TermDigest.SidecarName), true)
        try out.write(bytes) finally out.close()
        Some(TermDigest.md5HexBytes(bytes))
      }

    // One listing of the finished directory, before the manifest commit:
    // the entry carries its data files, so readers never list the split.
    SplitInfo(id, numDocs, minTs, maxTs, numStats, dicts, hexStats,
      digest = digestMd5, files = Catalog.listDataFiles(fs, dir))
  }

  /** Observed-metric partials travel in task results to the driver (no
    * executor-side tree merge), so the Bloom aggregates only ride the
    * write when tasks × digest-fields stays under this cell budget. A
    * partial is its distinct bit positions (4 bytes each) up to
    * [[TokenBloom.SparseMax]], then the dense filter: 512 KB
    * ([[TermDigest.BuildBits]]/8) per field per task at worst, so
    * 64 cells ≤ 32 MB of accumulator payload, safely inside the default
    * 1g spark.driver.maxResultSize. A fixed task bound alone under-counts
    * schemas with many digested fields (10 text fields at 32 tasks would
    * ship 160 MB); budgeting cells scales the cutoff both ways — a
    * one-field schema rides up to 64 tasks, a ten-field schema only 6. */
  val ObserveBloomMaxCells = 64

  /** Write one split AND compute its manifest stats in the same job: the
    * stats aggregates ride the write pass as observed metrics
    * (`Dataset.observe` — partial aggregation inside the write tasks,
    * merged on the driver), so batch ingest reads every byte once instead
    * of re-scanning the written files for stats. The scalar aggregates
    * (bytes per task) always ride; the Bloom digests ride only for
    * narrow inputs ([[ObserveBloomMaxCells]] — streaming micro-batches,
    * CLI files), and a WIDE backfill computes them in a column-pruned
    * second scan of the `_terms` struct (plus, when the schema declares
    * tokenized dynamic_object fields, those JSON columns re-tokenized —
    * the one case where the second scan is not cheap) — the
    * shuffle-merged aggregation shape that actually scales to thousands
    * of tasks.
    * Falls back to the full read-back scan ([[splitStats]]) if the
    * metrics don't surface — same aggregates, identical result. */
  private[graft] def writeSplit(spark: SparkSession, d: SchemaDerivation,
      typed: org.apache.spark.sql.DataFrame, splitDir: String,
      id: String, partitionsHint: Option[Int] = None): SplitInfo = {
    // Task count: the caller's hint when it knows (merge's repartition),
    // else probe the RDD — safe only for exchange-free plans (ingest is a
    // narrow projection): under AQE, `.rdd` on a plan WITH an exchange
    // eagerly executes its shuffle stages, which would run the work
    // twice. An AQE-wrapped plan without a hint is treated as wide
    // (blooms via the column-pruned scan) rather than probed.
    val parts = partitionsHint.getOrElse {
      typed.queryExecution.executedPlan match {
        case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Int.MaxValue
        case _ => typed.rdd.getNumPartitions
      }
    }
    val bloomsOnWrite =
      parts.toLong * math.max(1, digestFieldsOf(d).size) <= ObserveBloomMaxCells
    val obs = org.apache.spark.sql.Observation(s"graft-stats-$id")
    val aggs = if (bloomsOnWrite) statsAggs(d) else scalarAggs(d)
    typed.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .parquet(splitDir)
    // The metrics future is normally already complete here (the execution
    // listener fires synchronously at action end); the bounded wait +
    // fallback guards any path where it doesn't.
    val metrics: Option[org.apache.spark.sql.Row] =
      try Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "seconds")))
      catch { case _: java.util.concurrent.TimeoutException => None }
    metrics match {
      case Some(row) if bloomsOnWrite =>
        splitInfoFrom(spark, d, name => row.getAs[Any](name), splitDir, id)
      case Some(row) =>
        // lazy: splitInfoFrom short-circuits on numDocs == 0 before any
        // bloom lookup, so empty batches never pay the scan
        lazy val bloomRow = {
          val ba = bloomAggs(d)
          spark.read.schema(d.storageSchema).parquet(splitDir)
            .agg(ba.head, ba.tail: _*).collect()(0)
        }
        splitInfoFrom(spark, d,
          name => if (name.startsWith("__bloom__")) bloomRow.getAs[Any](name)
            else row.getAs[Any](name),
          splitDir, id)
      case None => splitStats(spark, d, splitDir, id)
    }
  }

  /** Read-back stats pass over an already-written split — the merge path
    * (whose writer input is a shuffled repartition, where a stats observe
    * would aggregate pre-shuffle rows just the same, but the re-read is
    * of freshly compacted, page-cached files) and the fallback for
    * [[writeSplit]]. Same aggregates, same [[SplitInfo]]. */
  def splitStats(spark: SparkSession, d: SchemaDerivation, splitDir: String,
      id: String): SplitInfo = {
    val df = spark.read.schema(d.storageSchema).parquet(splitDir)
    val aggs = statsAggs(d)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    splitInfoFrom(spark, d, name => row.getAs[Any](name), splitDir, id)
  }
}
