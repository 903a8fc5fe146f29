package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.exprs._

/** Library entry point for `spark.sql.extensions` — the idiomatic way a
  * Spark library installs itself cluster-wide without any driver-side
  * code:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or, in code (what Graft.session does), on the session builder:
  * .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Injected functions are part of the session builder, so every session
  * and `newSession()` fork sees them. This is the engine's one function
  * registration path. Applying it twice to the same extensions (the class
  * named twice in `spark.sql.extensions`, or also passed to
  * `withExtensions`) injects nothing the second time, so no function is
  * ever registered over itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    if (GraftExtensions.injected.add(ext))
      GraftExtensions.functions.foreach { case (name, usage, builder) =>
        ext.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo("graft", null, name, usage, ""), builder))
      }
}

object GraftExtensions {
  /** The extensions this class already injected into, by identity. */
  private val injected = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]))

  /** Fold a constant argument expression at registration time — the
    * non-data parameters of the signature/hash expressions (plane counts,
    * moduli, stopword lists) are plain constructor values, so their SQL
    * faces require foldable arguments of the right type. Every rejection
    * path produces a clear analysis-time message — never a raw
    * ClassCastException/NPE, and never a silent 2.9 → 2 truncation. */
  private def constArg(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a constant expression")
    val v = e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    require(v != null, s"$what must not be null")
    v
  }
  private def longArg(e: Expression, what: String): Long = constArg(e, what) match {
    case b: java.lang.Byte     => b.toLong
    case s: java.lang.Short    => s.toLong
    case i: java.lang.Integer  => i.toLong
    case l: java.lang.Long     => l
    case other => throw new IllegalArgumentException(
      s"$what must be an integral constant, got '$other' (${e.dataType.sql})")
  }
  private def intArg(e: Expression, what: String): Int = {
    val l = longArg(e, what)
    require(l >= Int.MinValue && l <= Int.MaxValue, s"$what out of int range: $l")
    l.toInt
  }
  private def stringArg(e: Expression, what: String): String =
    constArg(e, what) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a string constant, got '$other' (${e.dataType.sql})")
    }
  private def stringsArg(e: Expression, what: String): Seq[String] = {
    val isStringArray = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    require(isStringArray,
      s"$what must be a constant array<string>, got ${e.dataType.sql}")
    val arr = constArg(e, what)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until arr.numElements()).map { i =>
      // dropping a null would silently SHIFT later elements — merge ranks
      // and piece↔cost alignment are positional, so reject loudly
      require(!arr.isNullAt(i), s"$what must not contain nulls (position $i)")
      arr.getUTF8String(i).toString
    }
  }

  /** (name, usage, builder) for every engine expression with a SQL face. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("ip_canonical", "ip_canonical(str) - canonical 16-byte IP (v4 mapped into v6)",
      exprs => IpCanonicalize(exprs.head)),
    ("ip_display", "ip_display(bin) - display form of a canonical IP",
      exprs => IpDisplay(exprs.head)),
    ("porter_stem", "porter_stem(str) - Porter-stemmed token",
      exprs => PorterStem(exprs.head)),
    ("cosine_similarity", "cosine_similarity(a, b) - cosine of two float arrays",
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("expand_dots_json", "expand_dots_json(str) - expand dotted keys to nested JSON",
      exprs => ExpandDotsJson(exprs.head)),
    ("simhash_sig", "simhash_sig(toks) - 63-bit SimHash of a token array",
      exprs => SimHashSig(exprs.head)),
    ("lsh_sigs", "lsh_sigs(vec, planes, tables, dim) - random-hyperplane LSH bucket signatures",
      exprs => LshSigs(exprs.head, intArg(exprs(1), "planes"),
        intArg(exprs(2), "tables"), intArg(exprs(3), "dim"))),
    ("winnow_fps", "winnow_fps(toks, k, w) - distinct winnowing fingerprints (window mins of k-gram md5-60 hashes)",
      exprs => WinnowFps(exprs.head, intArg(exprs(1), "k"), intArg(exprs(2), "w"))),
    ("rolling_token_hash",
      "rolling_token_hash(toks, base, mod) - Rabin-Karp polynomial over md5 token hashes",
      exprs => RollingTokenHash(exprs.head, longArg(exprs(1), "base"),
        longArg(exprs(2), "mod"))),
    ("count_in_set", "count_in_set(arr, values) - occurrences of arr elements in values",
      exprs => CountInSet(exprs.head, stringsArg(exprs(1), "values"))),
    ("window_energy", "window_energy(payload, size) - per-window sum of squared code points",
      exprs => WindowEnergy(exprs.head, intArg(exprs(1), "size"))),
    ("phash16", "phash16(payload) - 16-bit byte-grid perceptual hash",
      exprs => PHash16(exprs.head)),
    ("count_token_eq", "count_token_eq(arr, token) - occurrences of token in arr",
      exprs => CountTokenEq(exprs.head, stringArg(exprs(1), "token"))),
    ("any_starts_with", "any_starts_with(arr, prefix) - some element starts with prefix",
      exprs => AnyStartsWith(exprs.head, stringArg(exprs(1), "prefix"))),
    ("any_contains", "any_contains(arr, needle) - some element contains needle",
      exprs => AnyContains(exprs.head, stringArg(exprs(1), "needle"))),
    ("any_levenshtein_le",
      "any_levenshtein_le(arr, needle, dist) - some element within edit distance",
      exprs => AnyLevenshteinLe(exprs.head, stringArg(exprs(1), "needle"),
        intArg(exprs(2), "dist"))),
    ("phrase_freq",
      "phrase_freq(toks, words, slop) - occurrences of the phrase (slop-windowed)",
      exprs => PhraseFreq(exprs.head, stringsArg(exprs(1), "words"),
        intArg(exprs(2), "slop"))),
    ("bpe_encode",
      "bpe_encode(word, merges) - greedy BPE pieces under a constant merge table ('a b' pair strings, rank = position)",
      exprs => BpeEncode(exprs.head, stringsArg(exprs(1), "merges"))),
    ("byte_remap",
      "byte_remap(str) - GPT-2 byte-to-unicode remap: codepoints of the result are the input's UTF-8 bytes (space -> 'Ġ'); compose with bpe_encode for byte-level BPE",
      exprs => ByteRemap(exprs.head)),
    ("wordpiece_encode",
      "wordpiece_encode(word, vocab) - greedy longest-match-first WordPiece pieces ('##' continuation, whole word -> '[UNK]' on any miss) under a constant vocabulary",
      exprs => WordPieceEncode(exprs.head, stringsArg(exprs(1), "vocab"))),
    ("unigram_encode",
      "unigram_encode(word, pieces, costs, max_piece_len) - Viterbi-best unigram-LM segmentation under a constant (pieces, quantized costs) vocabulary",
      exprs => {
        val pieces = stringsArg(exprs(1), "pieces")
        val costs = longsArg(exprs(2), "costs")
        require(pieces.size == costs.size,
          s"pieces (${pieces.size}) and costs (${costs.size}) must align")
        UnigramEncode(exprs.head, pieces.zip(costs),
          intArg(exprs(3), "max_piece_len"))
      })
  )

  private def longsArg(e: Expression, what: String): Seq[Long] = {
    val elemOk = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) => et match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      case _ => false
    }
    require(elemOk,
      s"$what must be a constant array of integers, got ${e.dataType.sql}")
    val et = e.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType
    val arr = constArg(e, what)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until arr.numElements()).map { i =>
      require(!arr.isNullAt(i), s"$what must not contain nulls")
      et match {
        case org.apache.spark.sql.types.ByteType => arr.getByte(i).toLong
        case org.apache.spark.sql.types.ShortType => arr.getShort(i).toLong
        case org.apache.spark.sql.types.IntegerType => arr.getInt(i).toLong
        case _ => arr.getLong(i)
      }
    }
  }
}
