package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import scala.jdk.CollectionConverters._

import graft.config.IndexConfig
import graft.exprs.JsonSupport

/** Filesystem/object-store catalog — the engine's metadata store,
  * replacing the reference's Postgres tables
  * (`/root/reference/migrations/0001_base.up.sql` `indexes` +
  * `index_files`) with:
  *
  * {{{
  * <root>/catalog/<name>.yaml            # index config (create/drop)
  * <root>/indexes/<name>/splits/<id>/    # parquet files of one split
  * <root>/indexes/<name>/manifest.json   # commit point: gen + page refs + inline tail
  *                                       # (each entry lists its split's files)
  * <root>/indexes/<name>/pages/page-<md5>.json  # sealed split entries (content-addressed,
  *                                       # immutable; only above the page threshold)
  * }}}
  *
  * All IO goes through the Hadoop `FileSystem` of the root's scheme
  * ([[ManifestStore]]), so the root can be a local path today and
  * `hdfs://` / `s3a://` on a cluster. Commit protocol matches the
  * reference's crash-safety order (`src/commands/merge.rs:50-70`): write
  * new split files first, then atomically publish the manifest, then
  * best-effort delete dropped files (leaked files are tolerated; they
  * are invisible without a manifest entry).
  *
  * Concurrency contract: every mutation is an optimistic
  * read-modify-write against the [[ManifestCommitPoint]] compare-and-
  * swap — read (gen, splits), apply, publish as gen+1 iff the store is
  * still at gen, retry on contention. On `file://` the CAS is an OS
  * advisory lock + atomic rename; on S3 it maps to a conditional PUT
  * (see [[RenameCommitPoint]]). Readers never take any lock: they see
  * either the old or the new manifest, never a partial one. Every
  * manifest write bumps the generation counter, the cheap
  * change-detection handle for caches.
  */
/** One committed split. minTs/maxTs (epoch micros of the configured
  * time_field) enable manifest-level split pruning for time-ranged
  * queries; `numStats` holds per-field min/max zone maps for indexed
  * numeric fields and `dicts` small complete value dictionaries for
  * low-cardinality raw-tokenized text fields — both consulted by the
  * searcher to skip splits without opening a single data file. */
final case class SplitInfo(id: String, numDocs: Long,
    minTs: Option[Long] = None, maxTs: Option[Long] = None,
    numStats: Map[String, (Double, Double)] = Map.empty,
    dicts: Map[String, List[String]] = Map.empty,
    hexStats: Map[String, (String, String)] = Map.empty,
    format: Int = Catalog.SplitFormat,
    /** md5 of the split's `_digests.json` term-digest sidecar (None = no
      * digests: pre-digest split, or every filter saturated). The hash —
      * not the filters — lives in the manifest, so manifest reads stay
      * O(bytes) and cached digests have an exact identity. */
    digest: Option[String] = None,
    /** Compaction lineage: the split ids a LOSSLESS merge consumed to
      * produce this one (empty for ingested splits and for merges that
      * changed the document count, e.g. `--dedup`). Committed atomically
      * with the swap, so a sidecar index built over the consumed splits
      * (the ANN trained tier) can translate its coverage through the
      * merge instead of forcing a corpus-scale retrain. */
    parents: List[String] = Nil,
    /** The split's data files as (name relative to the split directory,
      * byte length), recorded at write time so a scan plans from the
      * manifest without listing the directory. Nil = not recorded
      * (entries from before the field): readers list that one split. */
    files: List[(String, Long)] = Nil)

object Catalog {
  /** Upper bound on mtime granularity across supported stores: local FS
    * and HDFS stamp milliseconds, object stores commonly whole seconds.
    * A manifest signature without an etag whose mtime is younger than
    * this is treated as unsettled by [[Catalog.manifestStateCached]]
    * (same-tick rewrite still possible); 2 s covers second-granularity
    * stamps plus rounding at the tick boundary. */
  val MtimeGranularityMs = 2000L

  /** Manifest commit timeout, applied per layer: the file:// commit
    * point bounds lock ACQUISITION by it, and the mutate() CAS-retry loop
    * separately bounds RETRYING by it — worst-case commit latency under a
    * stuck peer is therefore a small multiple, not exactly this value.
    * Either path fails loudly rather than hanging. */
  val LockTimeoutMs = 30000L

  /** Current split data-layout version. 1 = `_dynamic` stored as JSON
    * text; 2 = `_dynamic` stored as Spark `VariantType` (binary-encoded
    * path access, no per-query JSON re-parse). Manifest entries without a
    * `format` field are version 1. */
  val SplitFormat = 2

  /** Hadoop configuration for catalog IO: the active Spark session's
    * (carries cluster credentials for s3a etc.) when one exists, vanilla
    * defaults otherwise (pure-metadata use before any session is up). */
  def defaultHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Memoized term-digest sidecars, keyed by catalog root + index + split
    * id + sidecar md5 (exact content identity — see [[Catalog.loadDigests]]).
    * Only successful loads are stored (failures retry on the next query);
    * values are a few KB each. Access-ordered LRU: at 100k-split scale a
    * wholesale clear() on overflow would trigger a refetch storm (every
    * live split's sidecar re-GET on the next query); evicting only the
    * least-recently-probed entry keeps the hot split set resident.
    * Synchronized map: critical sections are tiny get/put of small
    * values, and the sidecar IO itself always runs OUTSIDE the lock
    * (get → fetch → putIfAbsent in [[Catalog.loadDigests]]). */
  /** Sizing rule (ProbeServe, 100k splits): a digest-prunable query
    * probes EVERY live split's sidecar, so a cache smaller than the
    * live split count thrashes — every repeat query re-fetches the
    * evicted majority. Deployments serve with this ≥ live splits
    * (entries are a few KB; 100k ≈ low hundreds of MB); the default
    * suits ≤16k-split indexes. */
  private val DigestCacheMax =
    sys.props.get("graft.digest.cache.max").map(_.toInt).getOrElse(16384)
  private val digestCache: java.util.Map[String, Map[String, TermDigest]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Map[String, TermDigest]](
          1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Map[String, TermDigest]]): Boolean =
          size() > DigestCacheMax
      })

  /** Failed sidecar loads per cache key; at [[DigestLoadStrikes]] the key
    * is negatively cached (empty map = no pruning info) so a permanently
    * broken sidecar stops costing one store round trip per query. */
  private val digestFailures =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val DigestLoadStrikes = 3

  private val digestHits = new java.util.concurrent.atomic.AtomicLong()
  private val digestMisses = new java.util.concurrent.atomic.AtomicLong()

  /** Entry count above which a manifest commit writes split entries into
    * immutable content-addressed PAGE files instead of inlining them all
    * in `manifest.json`. Measured motivation (ProbeServe, 100k splits):
    * the inline manifest is 16.4 MB, 185.8 ms cold read+parse, and every
    * commit rewrites all of it — O(total splits) write amplification.
    * Paged, a commit rewrites the small root (page refs + an inline
    * tail of < pageSize entries) plus at most the pages whose entries
    * changed — O(delta) — and cold readers fetch only pages they have
    * not cached (pages are content-addressed, so a cache entry can
    * never be stale). Small indexes stay on the plain inline format. */
  private[graft] def manifestPageSize: Int =
    sys.props.get("graft.manifest.page.size").map(_.toInt).getOrElse(4096)

  /** Parsed manifest pages, keyed by root + index + page file name. The
    * name embeds the content md5, so entries are immutable — no
    * invalidation, only LRU pressure. Sized in entries-of-pages: at the
    * default page size, 1024 resident pages cover a 4M-split index. */
  private val PageCacheMax =
    sys.props.get("graft.manifest.page.cache.max").map(_.toInt).getOrElse(1024)
  private val pageCache: java.util.Map[String, List[SplitInfo]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, List[SplitInfo]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, List[SplitInfo]]): Boolean =
          size() > PageCacheMax
      })

  /** Probe/test hook: forget all cached pages, forcing the next resolve
    * to re-fetch — how ProbeServe measures the COLD paged read. */
  private[graft] def clearPageCache(): Unit = pageCache.clear()

  /** One sealed manifest page: an immutable content-addressed file under
    * `indexes/<name>/pages/` holding `count` split entries. The file name
    * embeds the content md5 (`page-<md5>.json`), which is what makes
    * page caching invalidation-free and a torn write detectable. */
  private[engine] final case class PageRef(file: String, count: Long)

  /** A manifest as stored: generation, sealed page references, and the
    * inline tail of entries not yet sealed into a page. Small indexes
    * (≤ [[Catalog.manifestPageSize]] splits) have no pages at all — the
    * original flat format, byte-for-byte. */
  private[engine] final case class ManifestDoc(gen: Long,
      pages: List[PageRef], tail: List[SplitInfo])

  /** (hits, misses, residentEntries) of the process-wide digest cache —
    * a MISS is a store round trip (sidecar GET), so at a 10k+ split
    * count the hit rate is the difference between O(matching) per query
    * and a refetch storm; surfaced by the CLI `stats` verb. */
  def digestCacheStats: (Long, Long, Int) =
    (digestHits.get(), digestMisses.get(), digestCache.size())

  /** A split directory's data files as (name, byte length): every plain
    * file not named `_*` or `.*` — Spark's reader rule, so the
    * `_digests.json` sidecar, `_SUCCESS` and `.crc` checksums stay out. */
  private[graft] def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): List[(String, Long)] =
    fs.listStatus(dir).iterator.filter(_.isFile)
      .map(st => st.getPath.getName -> st.getLen)
      .filterNot { case (n, _) => n.startsWith("_") || n.startsWith(".") }
      .toList.sortBy(_._1)

  /** Read a set of splits as one DataFrame, upgrading format-1 splits
    * (`_dynamic` as JSON text) to the current in-memory shape (variant)
    * so every consumer sees a single representation. Grouped by format so
    * each parquet read gets the schema its files were written with.
    *
    * Each group scans the files the manifest recorded
    * ([[SplitInfo.files]]) through a fixed [[ManifestFileIndex]], so
    * planning lists no directory and starts no Spark listing job however
    * many splits survive pruning. Entries without a recorded list
    * (written before the field) are listed here, one directory each. */
  private[graft] def readSplits(spark: org.apache.spark.sql.SparkSession,
      d: graft.config.SchemaDerivation, splits: List[SplitInfo],
      dir: SplitInfo => String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.functions.{col, try_parse_json}
    import org.apache.spark.sql.types.StructType
    val fs = new HPath(dir(splits.head))
      .getFileSystem(spark.sessionState.newHadoopConf())
    def scan(group: List[SplitInfo], schema: StructType) = {
      val files = group.flatMap { s =>
        val sd = fs.makeQualified(new HPath(dir(s)))
        val recorded = if (s.files.nonEmpty) s.files else listDataFiles(fs, sd)
        recorded.map { case (name, len) =>
          new org.apache.hadoop.fs.FileStatus(len, false, 0, 0L, 0L,
            new HPath(sd, name))
        }
      }
      spark.baseRelationToDataFrame(HadoopFsRelation(
        new ManifestFileIndex(files), new StructType(), schema, None,
        new ParquetFileFormat, Map.empty)(spark))
    }
    val (cur, legacy) = splits.partition(_.format >= SplitFormat)
    val parts = List(
      Option.when(cur.nonEmpty)(scan(cur, d.storageSchema)),
      Option.when(legacy.nonEmpty)(
        scan(legacy, d.legacyStorageSchema)
          .withColumn(graft.config.SchemaDerivation.Dynamic,
            try_parse_json(col(graft.config.SchemaDerivation.Dynamic))))
    ).flatten
    parts.reduce(_.unionByName(_))
  }
}

final class Catalog(rootDir: String,
    hadoopConf: Configuration = Catalog.defaultHadoopConf()) {
  private val store = new ManifestStore(rootDir, hadoopConf)

  /** The catalog's store, for engine-internal sidecar writers that need
    * its atomic-publish helpers (the ANN tier's META). */
  private[engine] def metaStore: ManifestStore = store

  private def configPath(name: String) =
    new HPath(new HPath(store.root, "catalog"), s"$name.yaml")
  private def indexDir(name: String) =
    new HPath(new HPath(store.root, "indexes"), name)
  private def manifestPath(name: String) =
    new HPath(indexDir(name), "manifest.json")
  private def archivePath(name: String, gen: Long) =
    new HPath(indexDir(name), s"manifest.v$gen.json")
  private def pagePath(name: String, file: String) =
    new HPath(new HPath(indexDir(name), "pages"), file)
  def splitDir(name: String, id: String): String =
    new HPath(new HPath(indexDir(name), "splits"), id).toString
  /** Whether a split's directory still exists — the time-travel guard's
    * probe for history vacuumed by merge compaction. */
  def splitDirExists(name: String, id: String): Boolean =
    store.exists(new HPath(new HPath(indexDir(name), "splits"), id))

  // ---- create / drop ----------------------------------------------------

  def create(configYaml: String): IndexConfig = {
    val cfg = IndexConfig.fromYaml(configYaml) // validates
    require(!store.exists(configPath(cfg.name)),
      s"index '${cfg.name}' already exists")
    store.writeStringExclusive(configPath(cfg.name), configYaml)
    store.mkdirs(new HPath(indexDir(cfg.name), "splits"))
    mutate(cfg.name)(_ => Some(Nil)) // initial empty manifest, gen 1
    cfg
  }

  def load(name: String): IndexConfig = {
    val yaml = store.readString(configPath(name))
      .getOrElse(throw new IllegalArgumentException(
        s"requirement failed: index '$name' does not exist"))
    IndexConfig.fromYaml(yaml)
  }

  def exists(name: String): Boolean = store.exists(configPath(name))

  /** Metadata first, then best-effort file deletion (same order as the
    * reference's drop, `src/commands/drop.rs:11-48`). */
  def drop(name: String): Unit = {
    store.deleteIfExists(configPath(name))
    store.deleteDirBestEffort(indexDir(name))
  }

  /** Best-effort recursive delete of a split directory by path string —
    * for callers cleaning up data files already invisible to readers. */
  def deleteDirBestEffort(dir: String): Unit =
    store.deleteDirBestEffort(new HPath(dir))

  // ---- manifest ---------------------------------------------------------

  /** The catalog root (part of cache identities: index names and split
    * ids are only unique within one root). */
  def catalogRoot: String = store.root.toString

  def liveSplits(name: String): List[SplitInfo] = manifestState(name)._2

  /** (generation, live splits) from ONE manifest read — callers that need
    * both (e.g. the searcher's stats-cache identity) must not issue two
    * reads, or a concurrent commit can pair generation N+1 with a gen-N
    * split listing and poison a cache entry for that generation. */
  def manifestState(name: String): (Long, List[SplitInfo]) =
    store.readString(manifestPath(name)) match {
      case None => (0L, Nil)
      case Some(text) => resolveDoc(name, parseDoc(text))
    }

  /** Parsed manifests keyed by (file length, mtime) signature — at 100k
    * splits the manifest is ~16 MB of JSON and its read+parse (202 ms
    * p50, ProbeServe 2026-08-14) dominated selective serving; a repeat
    * query at an unchanged generation costs ONE metadata RPC instead.
    * Serving-path only: mutators ([[mutate]]) always read fresh — a
    * stale generation there would spin the CAS loop — and invalidate
    * this cache after every commit, so a same-instance
    * commit-then-search always sees its own write. Cross-process
    * staleness is bounded by the signature: on etag-bearing stores
    * (S3A) the signature is content-derived, and on mtime-only stores a
    * hit is only trusted once the file's mtime tick lies wholly in the
    * past — a signature younger than [[Catalog.MtimeGranularityMs]]
    * could still be rewritten at the same (length, mtime) by a
    * cross-process writer, so those reads bypass the cache (a brief
    * full-read window after each observed commit, nothing in steady
    * state). The reader contract is unchanged: an old or new manifest,
    * never a partial one. Pinned by CatalogStoreSpec's back-to-back
    * same-length commit case. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (ManifestStore.FileSig, (Long, List[SplitInfo]))]()

  /** [[manifestState]] through the signature cache — the searcher's
    * read path. */
  def manifestStateCached(name: String): (Long, List[SplitInfo]) =
    store.fileSignature(manifestPath(name)) match {
      case None => (0L, Nil)
      case Some(sig) =>
        val contentDerived = sig.etag.nonEmpty
        val settled = // mtime tick fully in the past (future mtimes: never)
          System.currentTimeMillis() - sig.mtime >= Catalog.MtimeGranularityMs
        val hit = manifestCache.get(name)
        if (hit != null && hit._1 == sig && (contentDerived || settled)) hit._2
        else {
          val st = manifestState(name)
          // Only cache trustworthy reads: an UNSETTLED mtime-only
          // signature could still be rewritten at the same
          // (length, mtime) by a foreign writer AFTER this read, and a
          // cached entry would then serve the stale parse on every
          // signature hit once the tick settles. Unsettled reads stay
          // uncached (they were bypassing the cache anyway).
          if (contentDerived || settled) manifestCache.put(name, (sig, st))
          st
        }
    }

  private def invalidateManifestCache(name: String): Unit =
    manifestCache.remove(name): Unit

  /** Test hook: drop the parsed-manifest cache entry, as [[mutate]] does
    * after its own commits — lets specs simulate a foreign writer's
    * commit without waiting out the signature settle window. */
  private[graft] def invalidateCachesForTest(name: String): Unit =
    invalidateManifestCache(name)

  /** Snapshot read: (generation, splits) as of a PAST committed
    * generation — the Iceberg-style time-travel surface, served from the
    * advisory per-generation archive [[mutate]] leaves behind AFTER each
    * commit point. The archive is best-effort and NON-authoritative: the
    * current manifest remains the only commit point, and a missing
    * archive fails loudly rather than serving plausible-but-wrong
    * history (generation 0 — the empty index — is always answerable;
    * asking for the current generation falls back to the live
    * manifest, so pre-archive indexes still answer for "now"). */
  def manifestStateAt(name: String, gen: Long): (Long, List[SplitInfo]) = {
    if (gen == 0L) return (0L, Nil)
    store.readString(archivePath(name, gen)) match {
      case Some(text) => resolveDoc(name, parseDoc(text))
      case None =>
        val cur = manifestState(name)
        if (cur._1 == gen) cur
        else throw new IllegalArgumentException(
          s"no archived manifest for '$name' generation $gen" +
            s" (current generation ${cur._1})")
    }
  }

  import Catalog.{ManifestDoc, PageRef}

  private def parseEntry(s: com.fasterxml.jackson.databind.JsonNode): SplitInfo = {
    val numStats = Option(s.get("stats")).filter(_.isObject).map { st =>
      st.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("min").asDouble(), e.getValue.get("max").asDouble())
      }.toMap
    }.getOrElse(Map.empty[String, (Double, Double)])
    val dicts = Option(s.get("dicts")).filter(_.isObject).map { dc =>
      dc.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toList
      }.toMap
    }.getOrElse(Map.empty[String, List[String]])
    val hexStats = Option(s.get("hexStats")).filter(_.isObject).map { st =>
      st.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("min").asText(), e.getValue.get("max").asText())
      }.toMap
    }.getOrElse(Map.empty[String, (String, String)])
    SplitInfo(s.get("id").asText(), s.get("numDocs").asLong(),
      Option(s.get("minTs")).filter(!_.isNull).map(_.asLong()),
      Option(s.get("maxTs")).filter(!_.isNull).map(_.asLong()),
      numStats, dicts, hexStats,
      // entries from before the field are format-1 splits
      Option(s.get("format")).filter(!_.isNull).map(_.asInt()).getOrElse(1),
      Option(s.get("digest")).filter(!_.isNull).map(_.asText()),
      Option(s.get("parents")).filter(_.isArray).map {
        _.elements().asScala.map(_.asText()).toList
      }.getOrElse(Nil),
      Option(s.get("files")).filter(_.isArray).map {
        _.elements().asScala.map(f =>
          f.get("name").asText() -> f.get("bytes").asLong()).toList
      }.getOrElse(Nil))
  }

  private def parseDoc(text: String): ManifestDoc = {
    val node = JsonSupport.parse(text)
    val gen = Option(node.get("gen")).filter(!_.isNull)
      .map(_.asLong()).getOrElse(0L)
    val pages = Option(node.get("pages")).filter(_.isArray).map {
      _.elements().asScala.map(p =>
        PageRef(p.get("file").asText(), p.get("count").asLong())).toList
    }.getOrElse(Nil)
    val tail = node.get("splits").elements().asScala.map(parseEntry).toList
    ManifestDoc(gen, pages, tail)
  }

  /** Entries of one sealed page, through the process-wide page cache.
    * Uncached pages are read and md5-verified against the name they were
    * addressed by; a missing or corrupt page fails LOUDLY — the manifest
    * references it, so serving without it would silently drop splits. */
  private def pageEntries(name: String, ref: PageRef): List[SplitInfo] = {
    val key = s"$catalogRoot#$name#${ref.file}"
    val cached = Catalog.pageCache.get(key)
    if (cached != null) cached
    else {
      val text = store.readString(pagePath(name, ref.file)).getOrElse(
        throw new IllegalStateException(
          s"manifest page ${ref.file} of '$name' is missing"))
      val md5 = TermDigest.md5HexBytes(
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      require(ref.file == s"page-$md5.json",
        s"manifest page ${ref.file} of '$name' fails its content hash")
      val entries = JsonSupport.parse(text).get("splits")
        .elements().asScala.map(parseEntry).toList
      Catalog.pageCache.put(key, entries)
      entries
    }
  }

  /** Flatten a stored manifest to (generation, all live splits): sealed
    * pages in order, then the inline tail. Uncached pages are fetched
    * CONCURRENTLY (they are independent immutable objects — on an object
    * store the cold read is then max-of-page-GETs, not sum). */
  private def resolveDoc(name: String, doc: ManifestDoc): (Long, List[SplitInfo]) = {
    val uncached = doc.pages.filter(p =>
      Catalog.pageCache.get(s"$catalogRoot#$name#${p.file}") == null)
    if (uncached.sizeIs > 1)
      uncached.asJava.parallelStream().forEach(p => pageEntries(name, p): Unit)
    (doc.gen, doc.pages.flatMap(pageEntries(name, _)) ++ doc.tail)
  }

  def splitPaths(name: String): List[String] =
    liveSplits(name).map(s => splitDir(name, s.id))

  /** Lazily fetch + memoize a split's term digests. The cache key includes
    * the manifest-recorded sidecar md5, so a replayed/rewritten split id
    * can never serve stale filters; a missing, unreadable, or
    * hash-mismatched sidecar yields None (= never prune) WITHOUT caching
    * — a transient store error must not disable pruning for the split
    * for the rest of the process. get → fetch → putIfAbsent, not
    * computeIfAbsent: the sidecar read is remote IO and must not run
    * under the CHM bin lock (racing threads fetch redundantly; identical
    * content either way). Successful digests are fetched once per split
    * per process and amortize across every query. */
  def loadDigests(name: String, s: SplitInfo): Option[Map[String, TermDigest]] =
    s.digest.flatMap { md5 =>
      val key = s"$catalogRoot#$name#${s.id}#$md5"
      val cached = Option(Catalog.digestCache.get(key))
      if (cached.isDefined) Catalog.digestHits.incrementAndGet()
      else Catalog.digestMisses.incrementAndGet()
      cached.orElse {
        val loaded =
          try {
            val p = new HPath(splitDir(name, s.id), TermDigest.SidecarName)
            store.readString(p).filter(text =>
              TermDigest.md5HexBytes(
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) == md5)
              .map(TermDigest.parseAll)
          } catch { case scala.util.control.NonFatal(_) => None }
        loaded match {
          case Some(m) =>
            Catalog.digestCache.putIfAbsent(key, m)
            Catalog.digestFailures.remove(key)
          case None =>
            // transient errors retry on later queries, but a persistently
            // missing/corrupt sidecar must not cost a store round trip per
            // query forever: after a few strikes, cache "no pruning info"
            // (an EMPTY digest map — semantically identical to unreadable)
            if (Catalog.digestFailures.size > 4096) Catalog.digestFailures.clear()
            val n = Catalog.digestFailures.merge(key, 1, (a, b) => a + b)
            if (n >= Catalog.DigestLoadStrikes) {
              Catalog.digestCache.putIfAbsent(key, Map.empty)
              Catalog.digestFailures.remove(key)
            }
        }
        loaded
      }
    }

  /** Monotonic manifest generation — bumped by every committed write; the
    * exact invalidation handle for anything cached per manifest state
    * (e.g. the searcher's BM25 corpus-stats memo). 0 = no manifest. */
  def manifestGen(name: String): Long = manifestState(name)._1

  private def renderEntries(splits: List[SplitInfo]): com.fasterxml.jackson.databind.node.ArrayNode = {
    val m = JsonSupport.mapper
    val arr = m.createArrayNode()
    splits.foreach { s =>
      val o = m.createObjectNode()
      o.put("id", s.id); o.put("numDocs", s.numDocs)
      o.put("format", s.format)
      s.minTs.foreach(o.put("minTs", _))
      s.maxTs.foreach(o.put("maxTs", _))
      s.digest.foreach(o.put("digest", _))
      if (s.parents.nonEmpty) {
        val a = m.createArrayNode()
        s.parents.foreach(a.add)
        o.set[com.fasterxml.jackson.databind.JsonNode]("parents", a)
      }
      if (s.files.nonEmpty) {
        val a = m.createArrayNode()
        s.files.foreach { case (f, len) =>
          val fo = m.createObjectNode()
          fo.put("name", f); fo.put("bytes", len)
          a.add(fo)
        }
        o.set[com.fasterxml.jackson.databind.JsonNode]("files", a)
      }
      if (s.numStats.nonEmpty) {
        val st = m.createObjectNode()
        s.numStats.toList.sortBy(_._1).foreach { case (f, (mn, mx)) =>
          val fo = m.createObjectNode()
          fo.put("min", mn); fo.put("max", mx)
          st.set[com.fasterxml.jackson.databind.JsonNode](f, fo)
        }
        o.set[com.fasterxml.jackson.databind.JsonNode]("stats", st)
      }
      if (s.hexStats.nonEmpty) {
        val st = m.createObjectNode()
        s.hexStats.toList.sortBy(_._1).foreach { case (f, (mn, mx)) =>
          val fo = m.createObjectNode()
          fo.put("min", mn); fo.put("max", mx)
          st.set[com.fasterxml.jackson.databind.JsonNode](f, fo)
        }
        o.set[com.fasterxml.jackson.databind.JsonNode]("hexStats", st)
      }
      if (s.dicts.nonEmpty) {
        val dc = m.createObjectNode()
        s.dicts.toList.sortBy(_._1).foreach { case (f, vs) =>
          val a = m.createArrayNode()
          vs.foreach(a.add)
          dc.set[com.fasterxml.jackson.databind.JsonNode](f, a)
        }
        o.set[com.fasterxml.jackson.databind.JsonNode]("dicts", dc)
      }
      arr.add(o)
    }
    arr
  }

  /** Seal `entries` into a content-addressed page file (write-if-absent:
    * identical content from a racing writer lands on the same name with
    * the same bytes) and warm the page cache. Runs BEFORE the root CAS,
    * the same invisible-until-referenced ordering as split data — a
    * page whose commit loses is an unreferenced leaked file, tolerated
    * like any leaked split. */
  private def writePage(name: String, entries: List[SplitInfo]): PageRef = {
    val m = JsonSupport.mapper
    val node = m.createObjectNode()
    node.set[com.fasterxml.jackson.databind.JsonNode]("splits", renderEntries(entries))
    val text = m.writeValueAsString(node)
    val md5 = TermDigest.md5HexBytes(
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val file = s"page-$md5.json"
    val p = pagePath(name, file)
    if (!store.exists(p)) {
      store.mkdirs(p.getParent)
      try store.writeStringExclusive(p, text)
      catch { case _: java.io.IOException if store.exists(p) => () }
    }
    Catalog.pageCache.put(s"$catalogRoot#$name#$file", entries)
    PageRef(file, entries.size.toLong)
  }

  /** Render the next manifest, reusing the previous commit's sealed
    * pages wherever their entries survive unchanged. At or below the
    * page threshold this IS the original flat format. Above it:
    *
    *  - a sealed page whose every entry is present and unchanged in
    *    `next` is referenced as-is (zero bytes rewritten);
    *  - any other page is dropped and its surviving entries spill into
    *    the inline tail (new versions included — idempotent replace);
    *  - the tail (spills + appends + the previous tail's survivors)
    *    seals full page-size chunks into new pages, remainder inline.
    *
    * Ingest appends therefore rewrite O(tail) bytes per commit and seal
    * one page every pageSize commits; a merge rewrites only the pages
    * its removed splits lived in. */
  private def renderManifest(name: String, prevPages: List[PageRef],
      next: List[SplitInfo], prevGen: Long): Array[Byte] = {
    val m = JsonSupport.mapper
    val rootNode = m.createObjectNode()
    rootNode.put("gen", prevGen + 1L)
    val pageSize = Catalog.manifestPageSize
    val tail =
      if (next.sizeIs <= pageSize) next // flat format, no pages
      else {
        val nextById = next.map(s => s.id -> s).toMap
        val kept = List.newBuilder[PageRef]
        val covered = scala.collection.mutable.HashSet.empty[String]
        prevPages.foreach { p =>
          val entries = pageEntries(name, p)
          if (entries.forall(e => nextById.get(e.id).contains(e))) {
            kept += p
            covered ++= entries.iterator.map(_.id)
          }
        }
        val tail0 = next.filterNot(s => covered(s.id))
        val (toSeal, remain) = tail0.splitAt((tail0.size / pageSize) * pageSize)
        val pages = kept.result() ++
          toSeal.grouped(pageSize).map(writePage(name, _))
        if (pages.nonEmpty) {
          val arr = m.createArrayNode()
          pages.foreach { p =>
            val o = m.createObjectNode()
            o.put("file", p.file); o.put("count", p.count)
            arr.add(o)
          }
          rootNode.set[com.fasterxml.jackson.databind.JsonNode]("pages", arr)
        }
        remain
      }
    rootNode.set[com.fasterxml.jackson.databind.JsonNode]("splits",
      renderEntries(tail))
    m.writeValueAsString(rootNode)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Optimistic read-modify-write: read (gen, splits), apply `f`, publish
    * via the commit point's CAS, retry on contention until the timeout.
    * `f` returning None aborts without writing (returns false). */
  private def mutate(name: String)(
      f: List[SplitInfo] => Option[List[SplitInfo]]): Boolean = {
    val commitPoint = store.commitPoint(manifestPath(name))
    val deadline = System.nanoTime() + Catalog.LockTimeoutMs * 1000000L
    while (true) {
      val doc = store.readString(manifestPath(name))
        .map(parseDoc).getOrElse(ManifestDoc(0L, Nil, Nil))
      val (gen, live) = resolveDoc(name, doc)
      f(live) match {
        case None => return false
        case Some(next) =>
          val bytes = renderManifest(name, doc.pages, next, gen)
          if (commitPoint.commit(gen + 1L, bytes)) {
            invalidateManifestCache(name)
            // advisory time-travel archive, AFTER the commit point and
            // best-effort: exactly one writer wins a generation, so
            // exclusive-create is race-free; a failed archive only
            // disables snapshot reads for this generation, never the
            // commit itself
            try store.writeStringExclusive(archivePath(name, gen + 1L),
              new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            catch {
              case _: InterruptedException => Thread.currentThread().interrupt()
              case scala.util.control.NonFatal(_) => ()
            }
            return true
          }
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"timed out committing manifest for '$name' under contention")
          Thread.sleep(5)
      }
    }
    false // unreachable
  }

  /** Append one split (ingest commit). */
  def commitSplit(name: String, split: SplitInfo): Unit =
    mutate(name)(live => Some(live :+ split))

  /** Append or replace by id — used by streaming ingest, where a replayed
    * micro-batch rewrites the same split id (effective exactly-once). */
  def commitSplitIdempotent(name: String, split: SplitInfo): Unit =
    mutate(name)(live => Some(live.filterNot(_.id == split.id) :+ split))

  /** Remove one split's manifest entry if present (no-op otherwise) —
    * the replay-to-empty form of idempotent commit: a replayed batch that
    * now reads zero rows must retract the entry its earlier run
    * committed, since the overwrite already emptied the data files. */
  def removeSplitIfPresent(name: String, id: String): Unit =
    mutate(name) { live =>
      if (live.exists(_.id == id)) Some(live.filterNot(_.id == id)) else None
    }

  /** Replace `removed` with `added` (merge commit), then best-effort delete
    * the removed splits' files (outside the commit — they are already
    * invisible). Returns false WITHOUT committing when any `removed` id is
    * no longer live: a concurrent merge already consumed those splits, and
    * committing `added` anyway would duplicate every document they held —
    * the compare-and-swap that makes concurrent compactions one-wins. */
  /** Replace `removed` splits with `added` in one manifest commit.
    * With `retainInputs` the removed splits' FILES stay on disk —
    * invisible to the live manifest but still servable through archived
    * generations ([[manifestStateAt]] snapshot reads), until an
    * explicit [[vacuum]] unreferences them. Without it (the default,
    * the reference's `merge.rs:50-70` order) the files are best-effort
    * deleted after the commit point.
    *
    * `lossless` is the CALLER's declaration that the swap preserves
    * every document (a pure concatenating compaction — nothing dropped,
    * nothing added, nothing rewritten). Only then are the consumed ids
    * recorded as the produced splits' `parents`, atomically with the
    * swap — the lineage a sidecar index ([[AnnIndex]] coverage
    * translation) uses to claim "the docs of these parents are covered
    * exactly once by this child". Losslessness is a semantic property
    * only the producer of `added` knows (doc-COUNT equality is a
    * necessary-but-not-sufficient proxy: an equal-count REPLACEMENT of
    * different documents must not inherit coverage), so it is declared
    * here, not inferred — and the count proxy is kept as a loud sanity
    * check against a false declaration. */
  def swapSplits(name: String, removed: List[String], added: List[SplitInfo],
      retainInputs: Boolean = false, lossless: Boolean = false): Boolean = {
    val committed = mutate(name) { live =>
      val liveIds = live.map(_.id).toSet
      if (!removed.forall(liveIds.contains)) None
      else {
        val tagged = if (lossless) {
          require(removed.nonEmpty && added.nonEmpty,
            "lossless swap must consume and produce at least one split")
          val consumedDocs = live.iterator
            .filter(s => removed.contains(s.id)).map(_.numDocs).sum
          val producedDocs = added.iterator.map(_.numDocs).sum
          require(consumedDocs == producedDocs,
            s"swap declared lossless but consumed $consumedDocs docs != " +
              s"produced $producedDocs — refusing to record lineage")
          added.map(_.copy(parents = removed.sorted))
        } else added
        Some(live.filterNot(s => removed.contains(s.id)) ++ tagged)
      }
    }
    if (committed && !retainInputs)
      removed.foreach(id => deleteDirBestEffort(splitDir(name, id)))
    committed
  }

  /** Iceberg-style history expiry — the explicit counterpart of a
    * retain-inputs merge: delete every archived generation STRICTLY
    * below `beforeGen`, plus any split directory only those generations
    * reference (the live manifest and surviving archives keep their
    * splits servable; a split still referenced by either is never
    * touched). After vacuum, a snapshot read of an expired generation
    * fails loudly ("no archived manifest"), never partially. Ordering is
    * crash-safe the same way drop is: data dirs first, then the archive
    * files that referenced them — a crash in between leaves extra
    * archives whose reads fail loudly on the missing-split guard, not
    * silently-partial history. Returns (archivesDeleted, splitDirsDeleted). */
  def vacuum(name: String, beforeGen: Long): (Int, Int) = {
    val liveDoc = store.readString(manifestPath(name))
      .map(parseDoc).getOrElse(ManifestDoc(0L, Nil, Nil))
    val (curGen, live) = resolveDoc(name, liveDoc)
    require(beforeGen <= curGen + 1,
      s"--before-gen $beforeGen is ahead of current generation $curGen")
    val archRe = """manifest\.v(\d+)\.json""".r
    val gens = store.listFileNames(indexDir(name)).collect {
      case archRe(g) => g.toLong
    }
    val (dropGens, keepGens) = gens.partition(_ < beforeGen)
    def docAt(g: Long): ManifestDoc =
      store.readString(archivePath(name, g))
        .map(parseDoc).getOrElse(ManifestDoc(0L, Nil, Nil))
    def idsOf(d: ManifestDoc): List[String] =
      resolveDoc(name, d)._2.map(_.id)
    val dropDocs = dropGens.map(docAt)
    val keepDocs = keepGens.map(docAt)
    val referenced = live.map(_.id).toSet ++ keepDocs.flatMap(idsOf)
    val victims = dropDocs.flatMap(idsOf).distinct.filterNot(referenced)
    // sealed pages shared with the live manifest or a surviving archive
    // stay; pages only the dropped generations referenced go with them
    val keptPages = (liveDoc.pages ++ keepDocs.flatMap(_.pages))
      .map(_.file).toSet
    val pageVictims = dropDocs.flatMap(_.pages).map(_.file)
      .distinct.filterNot(keptPages)
    victims.foreach(id => deleteDirBestEffort(splitDir(name, id)))
    dropGens.foreach(g => store.deleteIfExists(archivePath(name, g)))
    pageVictims.foreach(f => store.deleteIfExists(pagePath(name, f)))
    (dropGens.size, victims.size)
  }
}
