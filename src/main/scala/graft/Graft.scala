package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loaders for the graft engine.
  *
  * Local test runs use `local[N]` with `spark.sql.shuffle.partitions` set to
  * the core count (not Spark's default 200, which would create hundreds of
  * tiny shuffle files on a laptop-scale run). On a real cluster the same
  * builder settings scale: AQE coalesces shuffle partitions at runtime and
  * handles skew joins, so the static setting is only the upper bound.
  *
  * This is the only session builder in the engine: the CLI, `Bench`,
  * `Verify`, the tools and the tests all run the same configuration, so
  * the oracle gate certifies the session the product and the bench run.
  * The configuration is fixed in code and read from no environment
  * variable; a config A/B edits a `.config` line here on a branch.
  */
object Graft {
  def session(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r21 (verdict #2): promoted from the bench session so the product
      // path executes the same plans the bench measures — the registry's
      // mid-size joins (band/cell/pair/group tables) are SHJ's safety
      // shape (bounded build side per partition), and AQE still rewrites
      // to broadcast when a side is tiny. Guide §3.1/§9.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in an interpolated path or in hand-written oracle
    * SQL would otherwise make a `json.load` of the artifact fail. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Load one of the driver-generated test tables from an sf directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events table, normalized to three timestamp views regardless of how
    * the fixture stores `ts`: a naive `ts: timestamp_ntz`, epoch-micros
    * `ts_us: long`, and epoch-nanos `ts_ns: long`. Fixture generations have
    * alternated between int64 epoch-nanos (which Spark's Parquet reader
    * rejects without the nanosAsLong shim) and a native `timestamp[us]`
    * column, so we branch on the physical type — schema-on-read, same as the
    * rest of the engine. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        // Integer `div`, NOT `/`: Column./ is double division, and an
        // epoch-nanos value exceeds double's 53-bit mantissa — the rounding
        // error is a few hundred nanoseconds, enough to mismatch DuckDB's
        // exact truncation.
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      case TimestampType | TimestampNTZType =>
        // Session TZ is pinned to UTC, so NTZ→LTZ cast for unix_micros is the
        // identity instant mapping — same values DuckDB's epoch_us(ts) gives.
        raw
          .withColumn("ts", col("ts").cast(TimestampNTZType))
          .withColumn("ts_us", unix_micros(col("ts").cast(TimestampType)))
          .withColumn("ts_ns", col("ts_us") * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts column has unsupported type $other (expected int64 nanos or timestamp)")
    }
  }
}
