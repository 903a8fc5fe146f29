package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{PipelineQueries, RelationalQueries, SearchQueries, SketchQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates the per-module registries; every entry that is
  * ANSI-SQL-expressible has a matching DuckDB oracle in `oracleSql` with
  * identical output column names (the driver sorts columns by name before
  * hashing values, so aliases must agree on both sides).
  *
  * Modules:
  *  - [[queries.RelationalQueries]] — the Spark relational surface
  *    (aggregates, joins, windows, set ops, scalar functions, ...);
  *  - [[queries.SearchQueries]] — the reference's tantivy query-language
  *    constructs plus full engine lifecycle roundtrips
  *    (create → index → merge → search through the query compiler);
  *  - [[queries.PipelineQueries]] — training-data pipeline operators
  *    (dedup ×5, similarity search ×2, text analysis ×4, multimodal).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1_agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ SearchQueries.all ++ PipelineQueries.all ++
      SketchQueries.all

  /** The registry entries a main runs, in name order: every entry when
    * `names` is empty, else the named ones. An argument may hold several
    * comma-separated names; empty segments are dropped. A misspelled name
    * fails loudly instead of running nothing — a bench would otherwise
    * report a total of 0 and a dump would leave stale outputs to compare. */
  def select(names: Seq[String]): List[(String, (SparkSession, String) => DataFrame)] = {
    val wanted = names.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted.diff(queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    queries.toList.sortBy(_._1)
      .filter { case (name, _) => wanted.isEmpty || wanted(name) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ SearchQueries.oracles ++
      PipelineQueries.oracles ++ SketchQueries.oracles
}
