package perfbench

import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.engine.{Catalog, Searcher}
import perfbench.Gen.LogDoc

/** The log index `log_search` serves: its config, the seeded search
  * requests by class, and the ground-truth check of their outputs. */
object LogIndex {

  val Name = "logs"

  /** `ts` is the time field (split time ranges prune); `level`,
    * `service`, `host` are raw (split dictionaries prune); `req_id` and
    * `latency_ms` are numbers (zone maps prune); `msg` is tokenized text
    * (BM25, term digests prune). */
  def config(name: String): String =
    s"""version: 1
      |name: $name
      |path: unused
      |schema:
      |  time_field: ts
      |  fields:
      |    - name: ts
      |      type: !datetime
      |        formats: [rfc3339]
      |    - name: level
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: service
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: host
      |      type: !text
      |        indexed:
      |          tokenizer: raw
      |    - name: req_id
      |      type: !number
      |        type: i64
      |    - name: latency_ms
      |      type: !number
      |        type: i64
      |    - name: msg
      |      type: !text
      |""".stripMargin

  type Query = Search.Query[LogDoc]
  private def Query(cls: String, kind: String, q: String, limit: Int,
      count: Boolean, pred: LogDoc => Boolean): Query =
    Search.Query(cls, kind, q, limit, count, pred)

  val SelectiveKinds: Seq[String] = Seq("time", "zone", "dict", "bloom")
  val BroadKinds: Seq[String] = Seq("bm25", "match_all", "unprunable", "count")

  /** A selective request over batch `b` of a stream of `n`-doc batches. */
  def selective(kind: String, b: Int, n: Int, r: SplittableRandom): Query = kind match {
    case "time" =>
      val lo = Gen.T0 + b * Gen.BatchSpanS + r.nextLong(Gen.BatchSpanS - 20)
      val hi = lo + 20
      Query("selective", kind, s"ts:[${Gen.iso(lo)} TO ${Gen.iso(hi)}]", 100,
        count = false, d => d.ts >= lo && d.ts <= hi)
    case "zone" =>
      val lo = b.toLong * n + r.nextInt(math.max(1, n - 40))
      val hi = lo + 40
      Query("selective", kind, s"req_id:[$lo TO $hi]", 100, count = false,
        d => d.reqId >= lo && d.reqId <= hi)
    case "dict" =>
      val h = Gen.host(b, r.nextInt(Gen.HostsPerBatch))
      Query("selective", kind, s"host:$h", 100, count = false, _.host == h)
    case "bloom" =>
      val t = Gen.rareToken(b, r.nextInt(Gen.RareTokensPerBatch))
      Query("selective", kind, s"msg:$t", 10, count = false, _.tokens(t))
  }

  /** A broad request: every split holds matches, so none is pruned. */
  def broad(kind: String, r: SplittableRandom): Query = kind match {
    case "bm25" =>
      val w = Gen.Vocab(r.nextInt(16))
      Query("broad", kind, s"msg:$w", 10, count = false, _.tokens(w))
    case "match_all" =>
      Query("broad", kind, "*", 10, count = false, _ => true)
    case "unprunable" =>
      val x = 990 + r.nextInt(10)
      Query("broad", kind, s"latency_ms:>=$x", 10, count = false, _.latencyMs >= x)
    case "count" =>
      val l = Gen.Levels(1 + r.nextInt(2))
      val s = Gen.Services(r.nextInt(Gen.Services.length))
      Query("broad", kind, s"level:$l AND service:$s", 0, count = true,
        d => d.level == l && d.service == s)
  }

  /** A read-after-write search for the token only batch `b` holds. */
  def fresh(b: Int): Query = {
    val t = Gen.rareToken(b, 0)
    Query("fresh", "fresh", s"msg:$t", 10, count = false, _.tokens(t))
  }

  /** Run `q` against the log index as the CLI `search`/`count` verbs do
    * and check it against `docs` (every document in the index, by
    * req_id). */
  def run(h: Harness, cat: Catalog, se: Searcher, q: Query,
      docs: collection.Map[Long, LogDoc], splitOf: LogDoc => String): Option[Rec] =
    Search.run(h, cat, se, Name, q, docs, "req_id", sameDoc, splitOf)

  /** The search output echoes the stored document field by field. */
  private def sameDoc(j: JsonNode, d: LogDoc): Boolean =
    j.get("ts").asText == Gen.iso(d.ts) && j.get("level").asText == d.level &&
      j.get("service").asText == d.service && j.get("host").asText == d.host &&
      j.get("latency_ms").asLong == d.latencyMs && j.get("msg").asText == d.msg
}

/** Runs search requests the way the CLI `search` and `count` verbs do and
  * checks them against the generator's documents. */
object Search {

  /** `count` requests go through `countMatches` and must equal the true
    * count; the others must return exactly min(limit, true count)
    * distinct documents, each matching and equal to its generated
    * original. */
  final case class Query[T](cls: String, kind: String, q: String, limit: Int,
      count: Boolean, pred: T => Boolean)

  private val mapper = new ObjectMapper()

  /** Run `q` against `index`; `docs` is every document in it by the id
    * field `key`. In traced runs, probes then measure the manifest read,
    * query parse+compile and split pruning for the same query, outside
    * the request. */
  def run[T](h: Harness, cat: Catalog, se: Searcher, index: String, q: Query[T],
      docs: collection.Map[Long, T], key: String, same: (JsonNode, T) => Boolean,
      splitOf: T => String): Option[Rec] = {
    def truth = docs.valuesIterator.filter(q.pred)
    val rec =
      if (q.count)
        h.callOp(q.cls, q.kind, "searcher.build")(se.countMatches(index, q.q)).map {
          case (n, rec) =>
            val want = truth.size.toLong
            h.check(rec, n == want, s"${q.q}: count $n, want $want")
            rec
        }
      else
        h.dfOp(q.cls, q.kind, "searcher.build")(se.searchDf(index, q.q, q.limit)).map {
          case (rows, rec) =>
            val want = math.min(q.limit, truth.size)
            val hits = rows.map(r => mapper.readTree(r.getString(0)))
            val ids = hits.map(_.get(key).asLong)
            h.check(rec, hits.length == want, s"${q.q}: ${hits.length} hits, want $want") &&
              h.check(rec, ids.distinct.length == ids.length, s"${q.q}: duplicate hits") &&
              h.check(rec, hits.forall(j => docs.get(j.get(key).asLong)
                .exists(d => q.pred(d) && same(j, d))), s"${q.q}: a hit does not match")
            rec
        }
    if (h.tracer.on)
      rec.foreach(r => probes(h, cat, se, index, q.q, r, truth.map(splitOf).toSet))
    rec
  }

  /** Layer figures of one search request that need extra calls, made
    * after it returns: the uncached manifest read, query parse+compile,
    * split pruning (`explainPrune`) and — once per distinct query — the
    * share of scanned splits that hold a match. */
  private def probes(h: Harness, cat: Catalog, se: Searcher, index: String,
      q: String, rec: Rec, matching: Set[String]): Unit = {
    val d = new graft.config.SchemaDerivation(cat.load(index))
    val (_, manifestMs) = h.probe(rec.id, "catalog.manifest_read")(cat.manifestState(index))
    val (_, parseMs) = h.probe(rec.id, "query.parse_compile") {
      new graft.query.QueryCompiler(d).compileAst(graft.query.QueryParser.parse(q))
    }
    val ((live, surv), pruneMs) = h.probe(rec.id, "searcher.prune")(se.explainPrune(index, q))
    val useful =
      if (!h.firstTime(q)) Map.empty[String, Double]
      else Map("useful_split_ratio" ->
        surv.count(matching).toDouble / math.max(1, surv.length))
    h.addProbe(rec.cls, Map(
      "manifest_read_ms" -> manifestMs,
      "parse_compile_ms" -> parseMs,
      "prune_ms" -> pruneMs,
      "splits_scanned_ratio" -> surv.length.toDouble / math.max(1, live.length)) ++ useful)
  }
}
