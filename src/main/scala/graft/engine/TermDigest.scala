package graft.engine

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}

import scala.jdk.CollectionConverters._

/** Per-split Bloom filter over the distinct tokens of one indexed text
  * field — the coarse stand-in for the reference's per-split inverted
  * index (tantivy gives every split a real term dictionary,
  * `/root/reference/src/commands/search.rs:186-188`), sized for the
  * manifest layer instead of the data layer.
  *
  * Why it exists: zone maps and small dictionaries prune numeric / ip /
  * time / low-cardinality-raw queries, but a term query on a tokenized
  * text field — the engine's core verb — otherwise opens EVERY split at
  * 100 TB. A few-KB digest per split lets the searcher discard splits
  * that provably lack a required token before a single data file is
  * listed. False positives only widen the scan (never lose a match);
  * a missing digest never prunes.
  *
  * Mechanics: standard Bloom filter with [[TermDigest.K]] bit positions
  * per token derived Kirsch-Mitzenmacher style (`h1 + i*h2`) from the md5
  * of the token (the engine's portable hash family). `m` is always a
  * power of two, so a filter built at [[TermDigest.BuildBits]] can be
  * FOLDED in half (OR the two halves) without rehashing — position
  * arithmetic `& (m-1)` commutes with the fold — which is how one
  * fixed-size build pass adapts per split: small splits fold down to
  * [[TermDigest.MinBits]], vocabulary-heavy splits stay large, and
  * saturated filters (fill > [[TermDigest.MaxFill]], useless for
  * pruning) are dropped entirely.
  *
  * Storage: digests live in a `_digests.json` sidecar INSIDE the split
  * directory (the `_` prefix keeps it invisible to the Parquet reader),
  * written before the manifest commit like all split data; the manifest
  * entry carries only the sidecar's md5 ([[SplitInfo.digest]]), so the
  * hot-path manifest read stays O(bytes) per split and the searcher
  * fetches + memoizes a digest once per split, amortized across every
  * later query. At 100k splits that is one small GET per split per
  * searcher lifetime — not per query, and never the manifest itself
  * ballooning to megabytes.
  */
final class TermDigest(val k: Int, val bits: Array[Long],
    val hasPrefixes: Boolean = true) {
  /** Filter size in bits (always a power of two). */
  def m: Int = bits.length << 6

  /** Membership probe for a token OR a [[TermDigest.prefixKey]] marker.
    * A digest from a sidecar written before prefix markers existed
    * (`pfx` absent) cannot prove a marker absent — answer true
    * (never-prune-on-missing, the family's standing rule). */
  def mightContain(token: String): Boolean = {
    if (!hasPrefixes && token.nonEmpty &&
        token.charAt(0) == TermDigest.PrefixMarker) return true
    val (h1, h2) = TermDigest.hashFor(token)
    val mask = (m - 1).toLong
    var i = 0
    while (i < k) {
      val pos = ((h1 + i.toLong * h2) & mask).toInt
      if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Fraction of set bits — the pruning-power diagnostic. */
  def fill: Double = {
    var c = 0L
    var i = 0
    while (i < bits.length) { c += java.lang.Long.bitCount(bits(i)); i += 1 }
    c.toDouble / m
  }

  /** Halve the filter by OR-ing its halves: membership is preserved
    * because positions are `hash & (m-1)` with m a power of two. */
  def fold: TermDigest = {
    val half = bits.length >> 1
    val out = new Array[Long](half)
    var i = 0
    while (i < half) { out(i) = bits(i) | bits(i + half); i += 1 }
    new TermDigest(k, out, hasPrefixes)
  }
}

object TermDigest {
  /** Bit positions per token. At the target fill (≤ ~0.35) this gives a
    * false-positive rate of 0.35^5 ≈ 0.5%. */
  val K = 5

  /** Build-time filter size: 4 Mbit. Covers ~600k distinct tokens per
    * split at fill ≈ 0.5; beyond that the filter saturates and is dropped.
    * The stats pass holds a field's filter as its set bit positions while
    * it is sparse and as this dense bitmap (512 KB) only past
    * [[TokenBloom.SparseMax]] positions ([[BloomBuffer]]). */
  val BuildBits: Int = 1 << 22

  /** Smallest fold target: 4 Kbit = 512 bytes — the floor for tiny splits. */
  val MinBits: Int = 1 << 12

  /** Stop folding once the next fold would exceed this fill. */
  val FoldTargetFill = 0.35

  /** Discard filters fuller than this: at 0.9 fill an absent token still
    * passes 59% of the time — not worth the sidecar bytes. */
  val MaxFill = 0.9

  /** Sidecar file name inside the split directory; the `_` prefix makes
    * it invisible to Spark's Parquet file listing (same convention as
    * `_SUCCESS`). */
  val SidecarName = "_digests.json"

  /** Namespace byte for token-PREFIX Bloom entries. Every stored token
    * also inserts markers for its prefixes of length
    * [[PrefixMinLen]]..[[PrefixMaxLen]], so a selective `body:recei*`
    * can skip splits instead of opening every one (Bloom alone answers
    * exact membership only; dictionaries cover only tiny raw fields).
    * The marker char cannot appear in default/en_stem tokens (it is not
    * a letter or digit); whitespace-tokenizer and raw tokens CAN carry
    * it (U+0001 is not \s), but such a token's insertions only ADD bits
    * — a Bloom collision keeps a split, never loses one, so markers are
    * prune-conservative, not unforgeable. Query side:
    * [[graft.query.TermPruning]] emits a marker atom
    * for the needle clamped to [[PrefixMaxLen]] (a token starting with
    * the needle also starts with its first 8 chars); needles shorter
    * than [[PrefixMinLen]] stay unprunable. */
  val PrefixMarker = '\u0001'
  val PrefixMinLen = 3
  val PrefixMaxLen = 8

  def prefixKey(prefix: String): String = PrefixMarker.toString + prefix

  /** FNV-1a-style double-hash constants for prefix-MARKER keys. Markers
    * multiply Bloom-insert work ~7× per token; an md5 round-trip per
    * marker measurably slowed every ingest/merge lifecycle, and a Bloom
    * key only needs good dispersion, not cryptographic strength — token
    * entries keep md5 ([[hash128]]) because changing their hash would
    * invalidate every existing sidecar's token bits, while marker bits
    * are already versioned by the sidecar's `pfx` flag. The incremental
    * form lets the build hash all of a token's prefixes in ONE pass over
    * its chars ([[foreachPosition]]); [[hashFor]] computes the same
    * sequence from the full marker key, so probe and insert positions
    * agree by construction (pinned by the marker fold property). */
  private[engine] val Fnv1 = 0xcbf29ce484222325L
  private[engine] val FnvP1 = 0x100000001b3L
  private[engine] val Fnv2 = 0x9e3779b97f4a7c15L
  private[engine] val FnvP2 = 0xc6a4a7935bd1e995L

  /** Hash dispatch for any Bloom key: marker keys (leading
    * [[PrefixMarker]]) use the cheap FNV pair, tokens use md5. */
  def hashFor(key: String): (Long, Long) =
    if (key.nonEmpty && key.charAt(0) == PrefixMarker) {
      var h1 = Fnv1
      var h2 = Fnv2
      var i = 0
      while (i < key.length) {
        val c = key.charAt(i)
        h1 = (h1 ^ c) * FnvP1
        h2 = (h2 ^ c) * FnvP2
        i += 1
      }
      (h1, h2)
    } else hash128(key)

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Two independent 64-bit hashes from one md5 — the double-hashing base
    * for all K positions. */
  def hash128(token: String): (Long, Long) = {
    val md = digest.get()
    md.reset()
    val d = md.digest(token.getBytes(StandardCharsets.UTF_8))
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < 8) { h1 = (h1 << 8) | (d(i) & 0xffL); i += 1 }
    while (i < 16) { h2 = (h2 << 8) | (d(i) & 0xffL); i += 1 }
    (h1, h2)
  }

  /** The build-size bit positions that inserting `tok` sets, in insert
    * order (repeats possible): the [[K]] positions of the token's md5
    * pair, then [[K]] for each prefix marker of 3..8 chars (the
    * [[PrefixMarker]] family that lets `body:recei*` prune splits). The
    * markers are hashed incrementally (the FNV pair extends one char at
    * a time), so all of a token's markers cost one pass over its chars;
    * [[hashFor]] reproduces the same values from the full marker key on
    * the probe side. The one insertion kernel: [[TokenBloom]] and
    * [[denseBits]] both build through it. */
  def foreachPosition(tok: String)(f: Int => Unit): Unit = {
    val (t1, t2) = hash128(tok)
    emitPositions(t1, t2, f)
    if (tok.length >= PrefixMinLen) {
      var h1 = (Fnv1 ^ PrefixMarker) * FnvP1
      var h2 = (Fnv2 ^ PrefixMarker) * FnvP2
      val maxL = math.min(PrefixMaxLen, tok.length)
      var l = 0
      while (l < maxL) {
        val c = tok.charAt(l)
        h1 = (h1 ^ c) * FnvP1
        h2 = (h2 ^ c) * FnvP2
        l += 1
        if (l >= PrefixMinLen) emitPositions(h1, h2, f)
      }
    }
  }

  private def emitPositions(h1: Long, h2: Long, f: Int => Unit): Unit = {
    val mask = (BuildBits - 1).toLong
    var i = 0
    while (i < K) { f(((h1 + i.toLong * h2) & mask).toInt); i += 1 }
  }

  /** Dense reference build: the [[BuildBits]]-bit filter of `tokens`
    * (nulls skipped), the words [[TokenBloom]]'s output bytes encode. */
  def denseBits(tokens: Iterable[String]): Array[Long] = {
    val b = new Array[Long](BuildBits >> 6)
    tokens.foreach { t =>
      if (t != null) foreachPosition(t)(pos => b(pos >>> 6) |= 1L << (pos & 63))
    }
    b
  }

  def md5HexBytes(bytes: Array[Byte]): String = {
    val md = digest.get()
    md.reset()
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** Adapt a build-size filter for storage: fold down while the result
    * stays usefully sparse, drop it entirely when saturated. */
  def shrink(raw: Array[Long]): Option[TermDigest] = {
    var d = new TermDigest(K, raw)
    var next = if (d.m > MinBits) Some(d.fold) else None
    while (next.exists(_.fill <= FoldTargetFill)) {
      d = next.get
      next = if (d.m > MinBits) Some(d.fold) else None
    }
    Some(d).filter(_.fill <= MaxFill)
  }

  /** Inverse of [[TokenBloom]]'s byte output. */
  def shrinkBytes(bytes: Array[Byte]): Option[TermDigest] =
    shrink(bytesToLongs(bytes))

  private def bytesToLongs(bytes: Array[Byte]): Array[Long] = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Long](bytes.length >> 3)
    buf.asLongBuffer().get(out)
    out
  }

  private[engine] def longsToBytes(longs: Array[Long]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(longs.length << 3)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.asLongBuffer().put(longs)
    buf.array()
  }

  /** Sidecar JSON: `{"k":5,"pfx":true,"fields":{"<flat>":{"m":16384,
    * "b64":"..."}}}`. `pfx` marks that the build inserted prefix-marker
    * entries; digests parsed from sidecars WITHOUT it answer true for
    * every marker probe (they cannot prove a prefix absent). */
  def renderAll(digests: Map[String, TermDigest]): Array[Byte] = {
    val m = graft.exprs.JsonSupport.mapper
    val root = m.createObjectNode()
    root.put("k", K)
    root.put("pfx", true)
    val fields = m.createObjectNode()
    digests.toList.sortBy(_._1).foreach { case (f, d) =>
      val o = m.createObjectNode()
      o.put("m", d.m)
      o.put("b64", Base64.getEncoder.encodeToString(longsToBytes(d.bits)))
      fields.set[com.fasterxml.jackson.databind.JsonNode](f, o)
    }
    root.set[com.fasterxml.jackson.databind.JsonNode]("fields", fields)
    m.writeValueAsString(root).getBytes(StandardCharsets.UTF_8)
  }

  def parseAll(text: String): Map[String, TermDigest] = {
    val node = graft.exprs.JsonSupport.parse(text)
    val k = node.get("k").asInt()
    val pfx = Option(node.get("pfx")).exists(_.asBoolean())
    node.get("fields").properties().asScala.map { e =>
      val bytes = Base64.getDecoder.decode(e.getValue.get("b64").asText())
      e.getKey -> new TermDigest(k, bytesToLongs(bytes), pfx)
    }.toMap
  }
}

/** One-pass token-set Bloom build over a terms array column, a native
  * Catalyst aggregate: it runs alongside the other stats aggregates in
  * [[Indexer.writeSplit]]'s observed metrics (and [[Indexer.splitStats]]),
  * so the digest costs no extra scan, and it serializes its own buffer,
  * so analysis resolves no encoders. The buffer ([[BloomBuffer]]) is the
  * set of build-size bit positions while there are at most
  * [[TokenBloom.SparseMax]] of them, so a small batch's partial is a few
  * KB, not a 512 KB bitmap. The output is always the dense
  * [[TermDigest.BuildBits]]-bit filter as little-endian longs; it is
  * shrunk driver-side ([[TermDigest.shrinkBytes]]) where the fill is
  * known. */
case class TokenBloom(child: Expression, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomBuffer] with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "token_bloom"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_bloom wants array<string>, got ${other.sql}")
  }

  override def createAggregationBuffer(): BloomBuffer = new BloomBuffer

  override def update(buffer: BloomBuffer, input: InternalRow): BloomBuffer = {
    val toks = child.eval(input).asInstanceOf[ArrayData]
    if (toks != null) {
      var i = 0
      while (i < toks.numElements()) {
        if (!toks.isNullAt(i))
          TermDigest.foreachPosition(toks.getUTF8String(i).toString)(buffer.add)
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: BloomBuffer, input: BloomBuffer): BloomBuffer =
    buffer.union(input)

  override def eval(buffer: BloomBuffer): Any = buffer.denseBytes

  override def serialize(buffer: BloomBuffer): Array[Byte] = buffer.toBytes

  override def deserialize(bytes: Array[Byte]): BloomBuffer =
    BloomBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(n: Int): TokenBloom =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TokenBloom =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): TokenBloom =
    copy(child = c)
}

object TokenBloom {
  /** Distinct positions a buffer holds before it turns into the dense
    * bitmap: 64 KB of positions against the 512 KB bitmap. */
  val SparseMax = 16384

  def column(toks: Column): Column =
    graft.exprs.exprs.toColumn(TokenBloom(graft.exprs.exprs.toExpr(toks)))
}

/** [[TokenBloom]]'s aggregation buffer: distinct build-size bit positions
  * in an open-addressing int set (`-1` = empty slot, load ≤ 1/2) until
  * there are more than [[TokenBloom.SparseMax]], then the dense
  * [[TermDigest.BuildBits]]-bit filter. Both forms denote the same filter:
  * a position is in the set iff its bit is set. */
final class BloomBuffer private (private var slots: Array[Int],
    private var size: Int, private var dense: Array[Long]) {

  def this() = this(BloomBuffer.emptySlots(64), 0, null)

  def isDense: Boolean = dense != null

  def add(pos: Int): Unit =
    if (dense != null) dense(pos >>> 6) |= 1L << (pos & 63)
    else {
      val mask = slots.length - 1
      var i = BloomBuffer.slotOf(pos, mask)
      while (slots(i) != -1) {
        if (slots(i) == pos) return
        i = (i + 1) & mask
      }
      slots(i) = pos
      size += 1
      if (size > TokenBloom.SparseMax) densify()
      else if (size * 2 > slots.length) rehash(slots.length * 2)
    }

  private def foreachSparse(f: Int => Unit): Unit = {
    var i = 0
    while (i < slots.length) { if (slots(i) != -1) f(slots(i)); i += 1 }
  }

  private def rehash(capacity: Int): Unit = {
    val old = slots
    slots = BloomBuffer.emptySlots(capacity)
    size = 0
    var i = 0
    while (i < old.length) { if (old(i) != -1) add(old(i)); i += 1 }
  }

  private def densify(): Unit = {
    val b = new Array[Long](TermDigest.BuildBits >> 6)
    foreachSparse(pos => b(pos >>> 6) |= 1L << (pos & 63))
    dense = b
    slots = null
    size = 0
  }

  /** Add every position of `other`; returns this buffer. */
  def union(other: BloomBuffer): BloomBuffer = {
    if (other.dense != null) {
      if (dense == null) densify()
      var i = 0
      while (i < dense.length) { dense(i) |= other.dense(i); i += 1 }
    } else other.foreachSparse(add)
    this
  }

  /** The dense filter as little-endian longs, [[TokenBloom]]'s output. */
  def denseBytes: Array[Byte] =
    if (dense != null) TermDigest.longsToBytes(dense)
    else {
      // bit `pos` of little-endian longs is bit `pos & 7` of byte `pos >>> 3`
      val out = new Array[Byte](TermDigest.BuildBits >> 3)
      foreachSparse(pos => out(pos >>> 3) = (out(pos >>> 3) | (1 << (pos & 7))).toByte)
      out
    }

  /** Storage form: tag 0, count, the positions as ints; or tag 1, the
    * dense words as longs. Little-endian throughout. */
  def toBytes: Array[Byte] =
    if (dense != null) {
      val buf = java.nio.ByteBuffer.allocate(1 + (dense.length << 3))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(1.toByte)
      buf.asLongBuffer().put(dense)
      buf.array()
    } else {
      val buf = java.nio.ByteBuffer.allocate(5 + (size << 2))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(0.toByte).putInt(size)
      foreachSparse(buf.putInt(_))
      buf.array()
    }
}

object BloomBuffer {
  private def emptySlots(n: Int): Array[Int] = {
    val a = new Array[Int](n)
    java.util.Arrays.fill(a, -1)
    a
  }

  /** Multiplicative (Fibonacci) hashing: bits 16 and up of `pos * 2^32/φ`. */
  private def slotOf(pos: Int, mask: Int): Int = ((pos * 0x9e3779b9) >>> 16) & mask

  def fromBytes(bytes: Array[Byte]): BloomBuffer = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.get() match {
      case 0 =>
        val n = buf.getInt()
        val b = new BloomBuffer
        var i = 0
        while (i < n) { b.add(buf.getInt()); i += 1 }
        b
      case 1 =>
        val dense = new Array[Long](TermDigest.BuildBits >> 6)
        buf.asLongBuffer().get(dense)
        new BloomBuffer(null, 0, dense)
      case t => throw new IllegalStateException(s"bad token-bloom buffer tag $t")
    }
  }
}
