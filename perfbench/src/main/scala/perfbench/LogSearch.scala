package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import graft.engine.{AnnIndex, Catalog, Searcher}
import perfbench.Gen.LogDoc

/** `log_search`: the log index's life in one client, closed loop.
  *
  *  1. Ingest (the set-up, timed): from an empty index, a time-ordered
  *     stream is committed as `Splits` `indexDataFrame` calls — one split
  *     each, above Spark's 32-path parallel-listing threshold — and after
  *     every `FreshEvery`-th commit a read-after-write search for a token
  *     only that batch holds must find it. The fixed cost of a commit
  *     dominates (job launch, stats and digest aggregation, manifest
  *     compare-and-swap), and every write invalidates search caches. A
  *     clustered vector index is committed and IVF-trained.
  *  2. Serve (the measured phase): a seeded mix of selective, broad and
  *     knn requests. Work is driver-side and per request: manifest read,
  *     pruning, listing, BM25 stats, planning, small scans. Selective
  *     requests prune to one or two splits; broad ones pay every per-split
  *     cost; knn serves the IVF and exact tiers. Half the text requests
  *     repeat the kind's hot query, sent once in the warm-up (stats and
  *     digest caches hit), half are new.
  *  3. Compact: a full `merge`, with the document count checked on both
  *     sides. */
object LogSearch {
  val Splits = 34
  val DocsPerBatch = 250
  val FreshEvery = 4
  val Vectors = 600
  val Dim = 64
  val Clusters = 12
  val Cells = 12
  val QueryVectors = 16
  val NProbes: Seq[Int] = Seq(2, 4, 8)

  def vecConfig(name: String): String =
    s"""version: 1
      |name: $name
      |path: unused
      |schema:
      |  fields:
      |    - name: id
      |      type: !number
      |        type: i64
      |    - name: emb
      |      type: !number
      |        type: f64
      |      array: true
      |""".stripMargin

  private val mapper = new ObjectMapper()

  def run(c: Ctx): Outcome = {
    val h = c.h
    val spark = h.spark
    import spark.implicits._

    // ---- set-up: ingest the log stream, then the vector index + IVF train
    val t0 = System.nanoTime()
    val root = c.dir("catalog")
    val cat = new Catalog(root.toString)
    cat.create(LogIndex.config(LogIndex.Name))
    val se = new Searcher(spark, cat)
    val docs = mutable.LinkedHashMap.empty[Long, LogDoc]
    val splitOfBatch = mutable.ArrayBuffer.empty[String]
    def splitOf(d: LogDoc): String = splitOfBatch((d.reqId / DocsPerBatch).toInt)
    var inputBytes = 0L
    c.traced {
      for (b <- 0 until Splits) {
        val batch = Gen.logBatch(c.seed, b, DocsPerBatch)
        val lines = batch.map(_.json)
        splitOfBatch += Ingest.commit(c, cat, LogIndex.Name, lines).getOrElse("")
        batch.foreach(d => docs(d.reqId) = d)
        inputBytes += lines.map(_.getBytes("UTF-8").length + 1L).sum
        if (b % FreshEvery == FreshEvery - 1)
          LogIndex.run(h, cat, se, LogIndex.fresh(b), docs, splitOf)
      }
    }
    val commitMs = h.recs.filter(_.cls == "commit").map(_.wallMs).toSeq

    val vecs = Gen.clusteredVectors(c.seed, Vectors, Dim, Clusters)
    cat.create(vecConfig("vecs"))
    h.verify("vector commit") {
      new graft.engine.Indexer(spark, cat).indexDataFrame("vecs",
        vecs.indices.map(i => Gen.vectorJson(i, vecs(i))).toDF("value"))
        .exists(_.numDocs == Vectors)
    }
    val ann = new AnnIndex(spark, cat)
    val trainT = System.nanoTime()
    h.verify("ann train")(ann.train("vecs", "emb", cells = Cells)._2 == Vectors)
    val trainMs = (System.nanoTime() - trainT) / 1e6
    val fixtureMs = (System.nanoTime() - t0) / 1e6

    val storedVecs = vecs.map(Gen.asStored)
    val qvecs = Gen.queryVectors(c.seed, vecs, QueryVectors)
    val exactTop: Array[Array[(Int, Double)]] = qvecs.map { q =>
      val qd = q.map(_.toDouble)
      storedVecs.indices.map(i => (i, Gen.cosine(storedVecs(i), qd))).sortBy(-_._2).toArray
    }

    // ---- requests. The serve phase runs whole rounds; a round sends every
    // request kind once, classes interleaved, so each kind gets the same
    // sample count and a seed changes only parameters. Every text kind is
    // sent twice per round: as the kind's hot query, which the warm-up has
    // sent once, so every repeat hits the stats and digest caches (kind
    // suffix /hot), and with new parameters (/new).
    val r = Gen.rng(c.seed, 7L)
    def selective(kind: String) =
      LogIndex.selective(kind, r.nextInt(Splits), DocsPerBatch, r)
    val hot: Map[String, LogIndex.Query] =
      (LogIndex.SelectiveKinds.map(k => k -> selective(k)) ++
        LogIndex.BroadKinds.map(k => k -> LogIndex.broad(k, r))).toMap
    def text(kind: String, isSelective: Boolean, fromHot: Boolean): LogIndex.Query = {
      val q =
        if (fromHot) hot(kind)
        else if (isSelective) selective(kind)
        else LogIndex.broad(kind, r)
      q.copy(kind = s"$kind/${if (fromHot) "hot" else "new"}")
    }

    val recall = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    def knn(nProbe: Int, cls: String): Unit = {
      val qi = r.nextInt(QueryVectors)
      val kind = if (nProbe == 0) "exact" else s"ivf$nProbe"
      h.dfOp(cls, kind, "ann.knn_build")(ann.knn("vecs", "emb", qvecs(qi), 10, nProbe)).foreach {
        case (rows, rec) =>
          val ids = rows.map(x => mapper.readTree(x.getString(1)).get("id").asInt)
          val truth = exactTop(qi)
          if (nProbe == 0)
            h.check(rec, Ingest.sameTopK(ids.toIndexedSeq, truth, 10), s"exact knn ${ids.mkString(",")} " +
              s"is not the brute-force top-10 ${truth.take(10).map(_._1).mkString(",")}")
          else {
            h.check(rec, ids.length == 10 && ids.distinct.length == 10, s"ivf knn returned ${ids.length}")
            if (cls == "verb")
              recall.getOrElseUpdate(nProbe, mutable.ArrayBuffer.empty) +=
                ids.count(truth.take(10).map(_._1).toSet).toDouble / 10
          }
      }
    }
    def serveRound(): Unit =
      for (i <- LogIndex.SelectiveKinds.indices) {
        for (fromHot <- Seq(true, false)) {
          LogIndex.run(h, cat, se, text(LogIndex.SelectiveKinds(i), isSelective = true,
            fromHot), docs, splitOf)
          LogIndex.run(h, cat, se, text(LogIndex.BroadKinds(i), isSelective = false,
            fromHot), docs, splitOf)
        }
        knn((0 +: NProbes)(i), "verb")
      }

    // ---- warm-up outside the metrics: every hot query once (so every text
    // kind's code path is warm and its hot query cached) and both knn tiers
    (LogIndex.SelectiveKinds ++ LogIndex.BroadKinds).map(hot)
      .foreach(q => LogIndex.run(h, cat, se, q.copy(cls = "warmup"), docs, splitOf))
    Seq(0, NProbes.head).foreach(knn(_, "warmup"))

    val model0 = AnnIndex.servingCacheStats
    c.measure(() => serveRound())
    val model1 = AnnIndex.servingCacheStats

    // ---- compact: one full merge, the document count checked either side
    val manifestBytes = Ingest.manifestBytes(root, LogIndex.Name)
    val n = docs.size.toLong
    h.verify(s"$n docs live before the merge")(cat.liveSplits(LogIndex.Name).map(_.numDocs).sum == n)
    val mergeMs = h.callOp("merge", "merge", "indexer.merge")(
      new graft.engine.Indexer(spark, cat).merge(LogIndex.Name)).map(_._2.wallMs)
    h.verify(s"one split of $n docs after the merge") {
      val live = cat.liveSplits(LogIndex.Name)
      live.length == 1 && live.head.numDocs == n
    }
    h.verify(s"$n docs match * after the merge")(se.countMatches(LogIndex.Name, "*") == n)
    val stored = Ingest.dirBytes(root.resolve("indexes").resolve(LogIndex.Name))

    val ivfRecall = recall.values.flatten.toSeq
    val (textTail, textPct, _) = c.tailOf(Seq("selective", "broad"))
    val (commitTail, commitPct, _) = Stats.tail(commitMs)
    val freshMs = h.recs.filter(_.cls == "fresh").map(_.wallMs).toSeq
    Outcome(
      fixtureMs = Seq(fixtureMs),
      commitMs = commitMs,
      // steady state: the JVM's first commit pays class loading and code
      // generation (several seconds) and would dominate the sum
      docsPerS = (n - DocsPerBatch) / (commitMs.tail.sum / 1000),
      verbMs = c.typical("verb"),
      details = Seq(
        Metric("commit_tail_ms", commitTail, "ms", commitMs.length, f"p$commitPct%.1f"),
        Metric("fresh_search_p50_ms", Stats.median(freshMs), "ms", freshMs.length),
        Metric("merge_s", mergeMs.getOrElse(Double.NaN) / 1000, "s", mergeMs.size),
        Metric("bytes_stored_per_input_byte", stored.toDouble / inputBytes, "ratio", 1),
        Metric("knn_p50_ms", c.p50("verb"), "ms", c.n("verb")),
        Metric("knn_ms", c.typical("verb"), "ms", c.n("verb"), "mean over tiers of the tier's median"),
        Metric("knn_recall_at_10", Stats.mean(ivfRecall), "fraction", ivfRecall.length),
        Metric("search_tail_ms", textTail, "ms", c.n("selective") + c.n("broad"),
          f"p$textPct%.1f"),
        Metric("ann.train_ms", trainMs, "ms", 1),
        Metric("catalog.manifest_bytes", manifestBytes, "bytes", 1),
        Metric("ann.model_cache_hit_ratio", Ingest.hitRatio(model0, model1), "fraction", 1)) ++
        NProbes.map(p => Metric(s"ann.recall_at_10.nprobe$p",
          Stats.mean(recall.getOrElse(p, Nil).toSeq), "fraction", recall.get(p).fold(0)(_.length))) ++
        (if (!c.trace) Nil else Seq(
          Metric("ann.knn_build_ms", h.layer("build_ms", "verb"), "ms", c.n("verb", traced = true)),
          Metric("ann.knn_exec_ms", h.layer("exec_ms", "verb"), "ms", c.n("verb", traced = true)),
          Metric("ann.rows_scored_per_query", h.layer("scan_rows", "verb"), "count",
            c.n("verb", traced = true)))))
  }
}
