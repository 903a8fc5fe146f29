package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine.{Catalog, Indexer, Searcher}
import perfbench.Gen.Doc

/** `corpus_pipeline`: batch work. Seeded permuted-replica tables
  * (documents, embeddings, lineitem) feed a fixed list of oracle-backed
  * registry operators, run through `SparkEntry.queries(name)(spark, dir)`
  * and measured as a batch job runs them: in a fresh JVM, each first call
  * paying its code generation, as a `spark-submit` of the pipeline would.
  * A round bulk-indexes the documents `BulkCommits` times, each in one
  * commit into a fresh index, sends `SearchesPerKind` searches of each
  * kind to the last index (index and search paths warmed up first,
  * outside the metrics), then calls every operator once. Searches run
  * before the operators: right after a cold operator, background code
  * generation and garbage collection slow them and make them spread.
  * Rounds repeat until the run time is spent (one round outlasts 10 s).
  * Exchanges, operator compute and large-plan planning
  * dominate; manifest and pruning costs are negligible. Every operator's
  * last result is written out for the DuckDB oracle check, which runs
  * after the timed phase. */
object CorpusPipeline {
  val BaseDocs = 250
  val Replicas = 4
  val Embeddings = 500
  val Dim = 64
  val LineItems = 100000
  /** Bulk commits per round (each into a fresh index). */
  val BulkCommits = 3
  /** Measured searches per kind and round; each kind's latency is their
    * median. */
  val SearchesPerKind = 6
  /** Untimed warm-up bulk commits. Commit walls keep falling for the
    * first few commits of a JVM (about 4 s, then 1.2 s, then 1.0 s), and
    * a median taken on that slope moves with how fast the host lets the
    * JIT compiler finish. */
  val WarmupCommits = 3
  /** Untimed warm-up searches per kind, before the measured phase. */
  val WarmupSearches = 3
  /** Table generations timed for setup_s (median). */
  val SetupReps = 3
  val Ops: Seq[String] = Seq("op_grammar_search", "pipe_dedup_corpus",
    "dedup_semantic", "sketch_kmv_setops", "pipe_curate_v2", "text_tfidf_top")

  /** The engine's documents index layout (`SearchQueries`' docs config). */
  def docsConfig(name: String): String =
    s"""version: 1
      |name: $name
      |path: unused
      |schema:
      |  fields:
      |    - name: doc_id
      |      type: !number
      |        type: i64
      |    - name: text
      |      type: !text
      |    - name: lang
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: source
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: n_chars
      |      type: !number
      |        type: i64
      |""".stripMargin

  /** Write the three tables the operators read, as parquet under `dir`. */
  def writeTables(spark: SparkSession, seed: Long, docs: IndexedSeq[Doc], dir: Path): Unit = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    Gen.embeddings(seed, Embeddings, Dim).map { case (i, v, l) => (i, v, l) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
    // lineitem: ~4 lines per order, a seeded hash picks the return flag
    spark.range(LineItems).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(xxhash64(col("id"), lit(seed)), lit(3)) + 1).cast("int")).as("l_returnflag"))
      .coalesce(1).write.parquet(dir.resolve("lineitem.parquet").toString)
  }

  def run(c: Ctx): Outcome = {
    val h = c.h
    val spark = h.spark
    import spark.implicits._

    val docs = Gen.permutedReplicas(c.seed, Gen.baseDocs(c.seed, BaseDocs), Replicas)
    val fixtureMs = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      writeTables(spark, c.seed, docs, c.dir(s"tables$i"))
      (System.nanoTime() - t0) / 1e6
    }
    val tables = c.dir(s"tables${SetupReps - 1}").toString
    val byId = docs.map(d => d.docId -> d).toMap
    val lines = docs.map(d => s"""{"doc_id":${d.docId},"text":"${d.text}",""" +
      s""""lang":"${d.lang}","source":"${d.source}","n_chars":${d.nChars}}""")

    val results = mutable.Map.empty[String, (StructType, Array[Row])]
    val r = Gen.rng(c.seed, 9L)
    var round = 0
    def bulk(cls: String): (Catalog, String) = {
      val name = s"docs$round"
      val cat = new Catalog(c.dir(s"index$round").toString)
      cat.create(docsConfig(name))
      round += 1
      h.callOp(cls, "bulk", "indexer.commit")(
        new Indexer(spark, cat).indexDataFrame(name, lines.toDF("value"))).foreach {
        case (split, rec) =>
          h.check(rec, split.exists(_.numDocs == docs.length), s"bulk commit holds ${split.map(_.numDocs)}")
      }
      (cat, name)
    }
    def searches(cat: Catalog, name: String, perKind: Int, cls: Option[String]): Unit = {
      val se = new Searcher(spark, cat)
      // every parameter comes from a document of the index, so every
      // query matches: one that matches nothing is pruned to no split and
      // answered without Spark, and a seed that drew a few such queries
      // would move the kind's median
      def doc = docs(r.nextInt(docs.length))
      for (_ <- 0 until perKind) {
      val lo = doc.docId
      val (src, lang) = { val d = doc; (d.source, d.lang) }
      val w = { val ws = doc.text.split(' '); ws(r.nextInt(ws.length)) }
      Seq(
        Search.Query[Doc]("selective", "zone", s"doc_id:[$lo TO ${lo + 20}]", 100, count = false,
          d => d.docId >= lo && d.docId <= lo + 20),
        Search.Query[Doc]("selective", "dict", s"source:$src AND lang:$lang", 100, count = false,
          d => d.source == src && d.lang == lang),
        Search.Query[Doc]("broad", "bm25", s"text:$w", 10, count = false,
          _.text.split(' ').contains(w)),
        Search.Query[Doc]("broad", "match_all", "*", 10, count = false, _ => true)
      ).foreach(q => Search.run(h, cat, se, name, q.copy(cls = cls.getOrElse(q.cls)),
        byId, "doc_id", sameDoc, (_: Doc) => name))
      }
    }
    def op(name: String): Unit = {
      var schema: StructType = null
      h.dfOp("verb", name, "pipeline.build") {
        val df = graft.SparkEntry.queries(name)(spark, tables)
        schema = df.schema
        df
      }.foreach { case (rows, rec) =>
        h.check(rec, rows.nonEmpty, s"$name returned no rows")
        results(name) = (schema, rows)
      }
    }

    // warm-up outside the metrics: the JVM's first commit and searches pay
    // class loading and code generation; the operators stay cold
    val (wcat, wname) = (1 to WarmupCommits).map(_ => bulk("warmup")).last
    searches(wcat, wname, WarmupSearches, Some("warmup"))
    // every run starts measuring from the same heap state
    System.gc()

    c.measure { () =>
      val (cat, name) = (1 to BulkCommits).map(_ => bulk("commit")).last
      searches(cat, name, SearchesPerKind, None)
      Ops.foreach(op)
    }

    // oracle inputs, written after the timed phase: each operator's last
    // result plus its DuckDB SQL, next to the tables it read
    val out = c.dir("oracle")
    for ((name, (schema, rows)) <- results)
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(name).toString)
    Files.writeString(out.resolve("oracle_sql.json"), Json.render(
      Ops.map(o => o -> graft.SparkEntry.oracleSql(o)).toMap))
    Files.writeString(out.resolve("tables_dir"), tables)

    val perOp = Ops.map { o =>
      val w = h.recs.filter(r => r.cls == "verb" && r.kind == o && !r.traced).map(_.wallMs)
      o -> (if (w.isEmpty) Double.NaN else Stats.median(w.toSeq))
    }
    val commitMs = h.of("commit").map(_.wallMs)
    val (tail, pct, _) = c.tailOf(Seq("selective", "broad"))
    Outcome(
      fixtureMs = fixtureMs,
      commitMs = commitMs,
      docsPerS = docs.length / (Stats.median(commitMs) / 1000),
      verbMs = perOp.map(_._2).sum,
      details = Seq(
        Metric("bulk_index_docs_per_s", docs.length / (Stats.median(commitMs) / 1000), "docs/s",
          commitMs.length),
        Metric("pipeline_s", perOp.map(_._2).sum / 1000, "s", c.n("verb")),
        Metric("search_tail_ms", tail, "ms", c.n("selective") + c.n("broad"), f"p$pct%.1f"),
        Metric("corpus.docs", docs.length, "count", 1)) ++
        perOp.map { case (o, ms) => Metric(s"pipeline.$o.wall_ms", ms, "ms", c.n("verb") / Ops.length) } ++
        (if (!c.trace) Nil else
          for {
            o <- Ops
            (key, unit) <- Seq("plan_ms" -> "ms", "exchanges" -> "count",
              "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "task_cpu_ms" -> "ms")
          } yield {
            val xs = h.recs.filter(r => r.traced && r.kind == o).flatMap(_.layers.get(key))
            Metric(s"pipeline.$o.${key}", if (xs.isEmpty) 0.0
              else if (unit == "ms") Stats.median(xs.toSeq) else Stats.mean(xs.toSeq), unit, xs.length)
          }) ++
        (if (!c.trace) Nil else Seq(
          Metric("indexer.bulk_job_ms", h.layer("job_ms", "commit"), "ms", c.n("commit", traced = true)),
          Metric("indexer.bulk_task_cpu_ms", h.layer("task_cpu_ms", "commit"), "ms",
            c.n("commit", traced = true)))))
  }

  private def sameDoc(j: JsonNode, d: Doc): Boolean =
    j.get("text").asText == d.text && j.get("lang").asText == d.lang &&
      j.get("source").asText == d.source && j.get("n_chars").asLong == d.nChars
}
