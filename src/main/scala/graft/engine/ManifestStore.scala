package graft.engine

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

/** Catalog storage over the Hadoop `FileSystem` API: every metadata
  * path — configs, manifests, split directories — resolves through the
  * scheme of the catalog root, so the same catalog runs on `file://`
  * today and `hdfs://` / `s3a://` on a cluster without touching the
  * engine (split data was always read/written through this layer by
  * Spark; this makes the metadata side match). Reference capability:
  * `/root/reference/src/commands/mod.rs:70-99` (OpenDAL operator
  * selecting S3 vs local FS by URL prefix, env-var credentials — here
  * the Hadoop `Configuration` plays that role).
  */
final class ManifestStore(rootUri: String, conf: Configuration) {
  val root = new HPath(rootUri)
  val fs: FileSystem = root.getFileSystem(conf)

  def exists(p: HPath): Boolean = fs.exists(p)
  def mkdirs(p: HPath): Unit = fs.mkdirs(p)

  /** Change-detection signature of a file, None if missing — ONE
    * metadata RPC, what the parsed-manifest cache keys on (a manifest
    * commit always rewrites the file, changing at least mtime). Where
    * the store's `FileStatus` carries an etag (S3A HEAD responses
    * implement `EtagSource`; the etag is content-derived), it joins the
    * signature for free, making same-length-same-second rewrites — the
    * exact hazard of second-granularity object-store mtimes —
    * distinguishable without reading the object. On stores without
    * etags the caller must treat a signature whose mtime is still
    * inside the clock's granularity window as unsettled (see
    * [[graft.engine.Catalog.manifestStateCached]]). */
  def fileSignature(p: HPath): Option[ManifestStore.FileSig] =
    try {
      val st = fs.getFileStatus(p)
      val etag = st match {
        case e: org.apache.hadoop.fs.EtagSource => Option(e.getEtag).getOrElse("")
        case _ => ""
      }
      Some(ManifestStore.FileSig(st.getLen, st.getModificationTime, etag))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Names of plain files directly under `dir` (empty for a missing
    * dir) — one LIST call; used by vacuum to enumerate archived
    * manifest generations. */
  def listFileNames(dir: HPath): List[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toList.filter(_.isFile).map(_.getPath.getName)

  /** Open-and-catch, not exists-then-open: the check-then-act window
    * would turn a concurrent drop into a FileNotFoundException instead of
    * the expected None, and costs a second metadata RPC per read on an
    * object store. */
  def readString(p: HPath): Option[String] =
    try {
      val in = fs.open(p)
      try {
        val out = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Exclusive create — fails if the path already exists (the
    * create-verb guard against clobbering an existing index config). */
  def writeStringExclusive(p: HPath, s: String): Unit = {
    val out = fs.create(p, false)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Atomic overwrite-publish of a small metadata file: temp write +
    * `FileContext` OVERWRITE rename (the [[RenameCommitPoint]] idiom) —
    * readers see the old or the new content, never a torn one, and a
    * crash mid-write leaves the previous file intact plus one leaked
    * temp. NOT a CAS: single-writer sidecars only (the ANN tier's META;
    * the manifest itself goes through [[commitPoint]]). On flat object
    * stores rename is copy+delete — same caveat as RenameCommitPoint,
    * acceptable for a single-writer sidecar. */
  def writeStringAtomic(p: HPath, s: String): Unit = {
    mkdirs(p.getParent)
    val tmp = new HPath(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(p.toUri, fs.getConf)
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Delete a metadata file. IO failures PROPAGATE: a drop() that cannot
    * remove the index config must fail loudly — swallowing the error left
    * the index still exists() while drop reported success, and the next
    * create() died with an unexplained 'already exists'. A missing file is
    * a no-op (`FileSystem.delete` returns false, no throw). */
  def deleteIfExists(p: HPath): Unit = { fs.delete(p, false); () }

  /** Best-effort recursive delete — leaked files are tolerated
    * everywhere in the engine: without a manifest entry they are
    * invisible (same policy as the reference's drop/merge). */
  def deleteDirBestEffort(p: HPath): Unit =
    try { if (fs.exists(p)) fs.delete(p, true); () }
    catch { case _: Exception => () }

  /** The commit-point implementation for this store's scheme:
    *
    *  - `file://` → OS advisory lock + atomic rename (a true CAS);
    *  - any scheme with a registered [[CompareAndPut]] → the store's own
    *    conditional write ([[ConditionalPutCommitPoint]]) — the intended
    *    production path for S3-family roots;
    *  - S3-family schemes without one fail FAST (client-side copy+delete
    *    "rename" would silently lose concurrent commits);
    *  - remote atomic-rename schemes (hdfs, abfs, …) fail fast too unless
    *    the deployment explicitly opts into single-writer mode
    *    (`graft.manifest.single-writer=true` in the Hadoop conf):
    *    [[RenameCommitPoint]]'s generation check has no cross-process
    *    exclusion, so two concurrent writers could both pass it and one
    *    commit would vanish — losing a split, or undoing a compaction
    *    swap and duplicating documents. Opt-in makes that trade explicit
    *    instead of a silent degradation.
    */
  def commitPoint(manifest: HPath): ManifestCommitPoint =
    commitPointForScheme(fs.getScheme, manifest)

  private[graft] def commitPointForScheme(scheme: String,
      manifest: HPath): ManifestCommitPoint = scheme match {
    case "file" => new LocalFsCommitPoint(this, manifest)
    case s =>
      ManifestStore.compareAndPutFor(s) match {
        case Some(cp) => new ConditionalPutCommitPoint(cp, manifest.toString)
        case None if ManifestStore.NonAtomicRenameSchemes(s) =>
          throw new UnsupportedOperationException(
            s"scheme '$s' has no atomic rename; register a CompareAndPut " +
              s"for it (ManifestStore.registerCompareAndPut(\"$s\", ...)) " +
              "mapping putIfGeneration onto the store's conditional write " +
              "— on S3: PUT with If-Match on the previous manifest's ETag " +
              "(If-None-Match: * for generation 1), HTTP 412 -> false")
        case None if conf.getBoolean(ManifestStore.SingleWriterKey, false) =>
          new RenameCommitPoint(this, manifest)
        case None =>
          throw new UnsupportedOperationException(
            s"scheme '$s' renames atomically but cannot exclude concurrent " +
              "manifest writers (a lost commit drops splits or undoes a " +
              "compaction swap); either register a CompareAndPut for the " +
              s"scheme or set ${ManifestStore.SingleWriterKey}=true to " +
              "accept a strictly single-writer deployment")
      }
  }

  /** Stored generation (0 = nothing stored). Two formats share the
    * commit-point machinery: the manifest's JSON (its `gen` field) and
    * key=value metadata sidecars like the ANN tier's META, whose
    * monotone commit version is a `tick=` line (a legacy META without
    * one reads as 0, so its first CAS publish — commit(1) — succeeds). */
  private[graft] def readGen(manifest: HPath): Long =
    readString(manifest).map { s =>
      // dispatch on FILE IDENTITY, never on content: every JSON
      // manifest the engine writes is `*.json` by construction
      // ([[Catalog.manifestPath]]) and every key=value sidecar (the ANN
      // tier's META) is not. An r15 content sniff (`s.contains("{")`)
      // had both failure modes — a sidecar whose any VALUE contained
      // '{' turned the benign fallback into a rethrow, and a corrupt
      // manifest truncated before its first '{' (an empty file from a
      // non-atomic writer) still read silently as generation 0, the
      // exact quiet corruption the guard exists to make loud.
      if (manifest.getName.endsWith(".json")) {
        // any parse failure — malformed, truncated, empty — is loud,
        // never generation 0 (gen 0 tells the next CAS the store is
        // empty and licenses it to overwrite history). Jackson returns
        // a MissingNode for empty input instead of throwing, so the
        // blank case is guarded explicitly.
        val node = graft.exprs.JsonSupport.parse(s)
        if (node == null || node.isMissingNode)
          throw new IllegalStateException(
            s"manifest $manifest exists but holds no JSON (empty or " +
              "whitespace-only — a non-atomic writer's debris?); " +
              "refusing to read it as generation 0")
        Option(node.get("gen")).filter(!_.isNull).map(_.asLong()).getOrElse(0L)
      } else
        s.split("\n").map(_.split("=", 2))
          .collectFirst { case Array("tick", v) =>
            try v.trim.toLong
            catch {
              case _: NumberFormatException => throw new IllegalStateException(
                s"malformed tick line in metadata sidecar $manifest: " +
                  s"'tick=${v.trim}' is not a number — the sidecar is corrupt")
            }
          }
          .getOrElse(0L)
    }.getOrElse(0L)
}

object ManifestStore {
  /** One-RPC change signature of a metadata file. `etag` is "" on stores
    * whose `FileStatus` carries none (local FS, HDFS); when present
    * (S3A) it is content-derived and makes the signature collision-proof
    * against same-length-same-mtime rewrites. */
  final case class FileSig(len: Long, mtime: Long, etag: String) {
    /** Whether a read made under this signature may be cached and served
      * on later hits of the same signature: the etag makes it
      * content-derived, or the mtime tick lies wholly in the past
      * ([[Catalog.MtimeGranularityMs]]; a future mtime never settles).
      * A younger mtime-only signature could still be rewritten at the
      * same (length, mtime) by a cross-process writer. */
    def trusted: Boolean =
      etag.nonEmpty ||
        System.currentTimeMillis() - mtime >= Catalog.MtimeGranularityMs
  }

  /** Flat object stores where "rename" is copy+delete — not a safe
    * manifest publish primitive. */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift")

  /** Hadoop-conf opt-in accepting [[RenameCommitPoint]]'s lack of
    * cross-writer exclusion on remote atomic-rename schemes. */
  val SingleWriterKey = "graft.manifest.single-writer"

  private val compareAndPuts =
    new java.util.concurrent.ConcurrentHashMap[String, CompareAndPut]()

  /** Install the conditional-write primitive for a URI scheme; every
    * catalog whose root uses that scheme routes manifest commits through
    * it. This is the deployment hook for S3-family roots: implement
    * [[CompareAndPut.putIfGeneration]] with the store SDK's conditional
    * PUT and register it once at startup. */
  def registerCompareAndPut(scheme: String, cp: CompareAndPut): Unit =
    compareAndPuts.put(scheme, cp): Unit

  def unregisterCompareAndPut(scheme: String): Unit =
    compareAndPuts.remove(scheme): Unit

  private[engine] def compareAndPutFor(scheme: String): Option[CompareAndPut] =
    Option(compareAndPuts.get(scheme))
}

/** The one strongly consistent operation in the engine: publish the
  * manifest at generation `gen` if and only if the stored manifest is
  * still at `gen - 1`. Everything else the engine writes is immutable
  * split data, invisible until a manifest entry points at it, so this
  * single compare-and-swap is the entire consistency story (the
  * reference gets it from a Postgres INSERT,
  * `/root/reference/src/commands/mod.rs:178-187`). Callers run an
  * optimistic read-modify-write loop: read (gen, splits), apply the
  * change, `commit(gen + 1, bytes)`, and on `false` re-read and retry —
  * the shape that maps 1:1 onto every real metadata store.
  */
trait ManifestCommitPoint {
  /** Atomically: if the stored generation is `gen - 1`, publish `bytes`
    * as generation `gen` and return true; otherwise change nothing and
    * return false. */
  def commit(gen: Long, bytes: Array[Byte]): Boolean
}

/** `file://` implementation: an OS advisory lock (`FileChannel.tryLock`
  * on a dedicated lock file) makes check-and-publish mutually exclusive
  * across instances AND processes — the kernel releases the lock when a
  * holder crashes, so there is no stale-lock state — and the publish is
  * a POSIX atomic rename, so readers see either the old or the new
  * manifest, never a partial one. The lock file is never deleted:
  * deleting would let a new writer lock a fresh inode while an old
  * holder still holds the unlinked one. */
final class LocalFsCommitPoint(store: ManifestStore, manifest: HPath)
    extends ManifestCommitPoint {
  def commit(gen: Long, bytes: Array[Byte]): Boolean = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val local = Paths.get(manifest.toUri.getPath)
    Files.createDirectories(local.getParent)
    val lock = local.resolveSibling("manifest.lock")
    val deadline = System.nanoTime() + Catalog.LockTimeoutMs * 1000000L
    val ch = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      var fl: java.nio.channels.FileLock = null
      while (fl == null) {
        fl = try ch.tryLock()
        catch { case _: java.nio.channels.OverlappingFileLockException => null }
        if (fl == null) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"timed out acquiring manifest lock at $lock")
          Thread.sleep(5)
        }
      }
      try {
        if (store.readGen(manifest) != gen - 1L) false
        else {
          val tmp = local.resolveSibling(s"manifest.json.tmp-${System.nanoTime()}")
          Files.write(tmp, bytes)
          Files.move(tmp, local, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          true
        }
      } finally fl.release()
    } finally ch.close()
  }
}

/** Generic implementation for remote schemes with atomic rename (HDFS,
  * ABFS): temp write + `FileContext` OVERWRITE rename. The generation
  * check runs without a cross-process lock, so concurrent writers can
  * lose updates — deploy single-writer per index, or use a store with a
  * native conditional write: on S3 the correct implementation of this
  * trait is a conditional PUT of the manifest object (`If-Match` on the
  * gen-1 object's ETag, `If-None-Match: *` for the first generation),
  * mapping a 412 Precondition Failed response to `false` — exactly the
  * compare-and-swap this interface models, with no lock file at all. */
final class RenameCommitPoint(store: ManifestStore, manifest: HPath)
    extends ManifestCommitPoint {
  def commit(gen: Long, bytes: Array[Byte]): Boolean = {
    if (store.readGen(manifest) != gen - 1L) return false
    store.mkdirs(manifest.getParent)
    val tmp = new HPath(manifest.getParent,
      s"manifest.json.tmp-${java.util.UUID.randomUUID()}")
    val out = store.fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val fc = FileContext.getFileContext(manifest.toUri, store.fs.getConf)
    fc.rename(tmp, manifest, Options.Rename.OVERWRITE)
    true
  }
}

/** The conditional-write primitive of a store with native compare-and-put
  * semantics: publish `bytes` at `path` as generation `gen` if and only
  * if the stored generation is `gen - 1` (0 = nothing stored yet), all in
  * ONE store-side atomic operation. Mappings onto real stores:
  *
  *  - S3: `PUT` with `If-Match: <etag of the gen-1 object>`
  *    (`If-None-Match: *` when gen == 1); HTTP 412 → false. The
  *    implementation tracks the last-read ETag alongside the generation
  *    (a GET on 412/unknown refreshes both), exactly the reference's
  *    Postgres-insert atomicity re-expressed
  *    (`/root/reference/src/commands/mod.rs:178-187`).
  *  - GCS: `x-goog-if-generation-match`.
  *  - DynamoDB / any SQL store: conditional insert keyed on (path, gen).
  *
  * Implementations must be safe under concurrent callers from multiple
  * processes — that is the entire point. */
trait CompareAndPut {
  def putIfGeneration(path: String, bytes: Array[Byte], gen: Long): Boolean
}

/** [[ManifestCommitPoint]] over a [[CompareAndPut]]: the store's own
  * conditional write IS the CAS, so there is no lock file and no
  * check-then-act window at all — the strongest commit point of the
  * three, available wherever the store offers one. */
final class ConditionalPutCommitPoint(cp: CompareAndPut, path: String)
    extends ManifestCommitPoint {
  def commit(gen: Long, bytes: Array[Byte]): Boolean =
    cp.putIfGeneration(path, bytes, gen)
}

/** The minimal slice of the S3 object API the manifest CAS needs — three
  * conditional-request shapes, all standard S3 HTTP semantics. Kept as
  * its own interface so [[S3CompareAndPut]]'s compare-and-swap LOGIC is
  * SDK-free (contract-tested offline against a stub with the same
  * conditional semantics as [[InMemoryCompareAndPut]]) and only the
  * ~30-line transport ([[ReflectiveS3Ops]]) touches the AWS SDK. */
trait S3ObjectOps {
  /** GET: the object's (ETag, stored manifest generation parsed from its
    * body), or None when the key does not exist. */
  def getEtagAndGen(bucket: String, key: String): Option[(String, Long)]
  /** PUT with `If-None-Match: *` — true on success, false when the key
    * already exists (HTTP 412). */
  def putIfAbsent(bucket: String, key: String, bytes: Array[Byte]): Boolean
  /** PUT with `If-Match: etag` — true on success, false when the stored
    * object's ETag no longer matches (HTTP 412). */
  def putIfMatch(bucket: String, key: String, bytes: Array[Byte],
      etag: String): Boolean
}

/** [[CompareAndPut]] over S3 conditional writes — the deployment path the
  * ManifestStore error message points at, closing the loop from design
  * ([[ConditionalPutCommitPoint]]) to store:
  *
  *  - generation 1 publishes with `If-None-Match: *` (exactly one of any
  *    number of concurrent first writers gets the 200);
  *  - generation N reads the manifest once for (ETag, stored gen): a
  *    stored gen ≠ N-1 loses without a write, otherwise the publish is a
  *    PUT with `If-Match` on that ETag — if ANY other writer committed
  *    between the read and the put, the ETag is stale and S3 answers 412
  *    (atomic on the store side, the same first-writer-wins the
  *    reference gets from its Postgres insert,
  *    `/root/reference/src/commands/mod.rs:178-187`).
  *
  * `path` arrives as a URI (`s3a://bucket/key...`); bucket = authority,
  * key = path without the leading slash. Register at startup:
  * `ManifestStore.registerCompareAndPut("s3a", new S3CompareAndPut(ops))`. */
final class S3CompareAndPut(ops: S3ObjectOps) extends CompareAndPut {
  def putIfGeneration(path: String, bytes: Array[Byte], gen: Long): Boolean = {
    val uri = new java.net.URI(path)
    val bucket = uri.getAuthority
    val key = uri.getPath.stripPrefix("/")
    if (gen == 1L) ops.putIfAbsent(bucket, key, bytes)
    else ops.getEtagAndGen(bucket, key) match {
      case Some((etag, stored)) if stored == gen - 1L =>
        ops.putIfMatch(bucket, key, bytes, etag)
      case _ => false // absent or at the wrong generation: lose, no write
    }
  }
}

/** [[S3ObjectOps]] over an AWS SDK v2 `S3Client`, built entirely through
  * reflection so this repo compiles and tests with ZERO egress and no SDK
  * jar; at deployment, drop the SDK on the classpath, construct the
  * client, and pass it here — no code changes. Every call shape below is
  * the public SDK v2 surface (request builders + `RequestBody`); 412
  * surfaces as an `S3Exception` with statusCode 412, mapped to false. */
final class ReflectiveS3Ops(client: AnyRef) extends S3ObjectOps {
  private def cls(n: String) = Class.forName(n)
  private val model = "software.amazon.awssdk.services.s3.model."

  // every field the CAS sets (bucket, key, ifMatch, ifNoneMatch) is a
  // String-typed builder setter in the SDK
  private def builder(req: String, fields: Map[String, String]): AnyRef = {
    val b = cls(model + req).getMethod("builder").invoke(null)
    fields.foreach { case (m, v) =>
      b.getClass.getMethod(m, classOf[String]).invoke(b, v): Unit
    }
    b.getClass.getMethod("build").invoke(b)
  }

  private def statusCode(e: Throwable): Int =
    try e.getClass.getMethod("statusCode").invoke(e).asInstanceOf[Int]
    catch { case _: Exception => -1 }

  private def put(bucket: String, key: String, bytes: Array[Byte],
      cond: Map[String, String]): Boolean = {
    val req = builder("PutObjectRequest",
      Map("bucket" -> bucket, "key" -> key) ++ cond)
    val bodyCls = cls("software.amazon.awssdk.core.sync.RequestBody")
    val body = bodyCls.getMethod("fromBytes", classOf[Array[Byte]])
      .invoke(null, bytes)
    try {
      // getMethod needs the DECLARED parameter types:
      // putObject(PutObjectRequest, RequestBody)
      client.getClass.getMethod("putObject",
        cls(model + "PutObjectRequest"), bodyCls).invoke(client, req, body)
      true
    } catch {
      case e: java.lang.reflect.InvocationTargetException
          if statusCode(e.getCause) == 412 => false
    }
  }

  def putIfAbsent(bucket: String, key: String, bytes: Array[Byte]): Boolean =
    put(bucket, key, bytes, Map("ifNoneMatch" -> "*"))

  def putIfMatch(bucket: String, key: String, bytes: Array[Byte],
      etag: String): Boolean =
    put(bucket, key, bytes, Map("ifMatch" -> etag))

  def getEtagAndGen(bucket: String, key: String): Option[(String, Long)] =
    try {
      val req = builder("GetObjectRequest", Map("bucket" -> bucket, "key" -> key))
      val resp = client.getClass.getMethod("getObjectAsBytes",
        cls(model + "GetObjectRequest")).invoke(client, req)
      val etag = resp.getClass.getMethod("response").invoke(resp) match {
        case r => r.getClass.getMethod("eTag").invoke(r).asInstanceOf[String]
      }
      val bytes = resp.getClass.getMethod("asByteArray").invoke(resp)
        .asInstanceOf[Array[Byte]]
      val gen = Option(graft.exprs.JsonSupport.parse(
        new String(bytes, StandardCharsets.UTF_8)).get("gen"))
        .filter(!_.isNull).map(_.asLong()).getOrElse(0L)
      Some(etag -> gen)
    } catch {
      case e: java.lang.reflect.InvocationTargetException
          if statusCode(e.getCause) == 404 => None
    }
}

/** In-memory [[CompareAndPut]] with exactly the S3 conditional-PUT
  * semantics (atomic compare of the stored generation, first writer
  * wins): the reference implementation the commit-point race tests run
  * against, and the template an SDK-backed implementation must match. */
final class InMemoryCompareAndPut extends CompareAndPut {
  private val objects =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Byte])]()

  def putIfGeneration(path: String, bytes: Array[Byte], gen: Long): Boolean = {
    var won = false
    objects.compute(path, (_, cur) => {
      val stored = if (cur == null) 0L else cur._1
      if (stored == gen - 1L) { won = true; (gen, bytes) } else cur
    })
    won
  }

  def read(path: String): Option[(Long, Array[Byte])] =
    Option(objects.get(path))
}
