package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.exprs.{IpCodec, PorterStemmer}
import graft.functions.TimeParse
import graft.query._

/** ScalaCheck properties for the engine's pure kernels (SURVEY §5): the
  * query printer↔parser fixpoint, IP codec roundtrips, datetime magnitude
  * inference, and stemmer idempotence. Plain ScalaCheck driven from
  * ScalaTest (no scalatestplus bridge in the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name failed: ${res.status}")
  }

  test("Sq8CosKey evaluates exactly (mq + Σc·w) / sqrt(Σ(a+c·b)²) — the " +
      "kernel's fused loop against an independent reference") {
    val gen = for {
      n <- Gen.choose(1, 64)
      code <- Gen.listOfN(n, Gen.choose(0, 255))
      qw <- Gen.listOfN(n, Gen.choose(-2000000L, 2000000L))
      a <- Gen.listOfN(n, Gen.choose(-5000L, 5000L))
      b <- Gen.listOfN(n, Gen.choose(0L, 50L))
      mq <- Gen.choose(-4000000000L, 4000000000L)
    } yield (code, qw, a, b, mq)
    check("sq8 cos key")(Prop.forAll(gen) { case (code, qw, a, b, mq) =>
      val expr = graft.exprs.Sq8CosKey(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          code.toArray, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          qw.toArray, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal(mq),
        a.toArray, b.toArray)
      val got = expr.eval(null).asInstanceOf[Double]
      val dot = code.zip(qw).map { case (c, w) => c.toLong * w }.sum
      val den = code.zip(a.zip(b)).map { case (c, (ai, bi)) =>
        val r = ai + c.toLong * bi; r * r
      }.sum
      val want =
        if (den == 0L) -Double.MaxValue
        else (mq + dot).toDouble / math.sqrt(den.toDouble)
      // bit-exact: the kernel and the reference perform the identical
      // integer sums and ONE IEEE division + sqrt
      java.lang.Double.compare(got, want) == 0
    })
  }

  test("stride schedule closed form: every prefix holds every source's " +
      "weighted share within O(#sources), keys non-negative and " +
      "per-source strictly increasing — random weights up to 10^18") {
    // pure-arithmetic mirror of Mixture.mixSchedule / EpochShuffle
    // .scheduledAssign: key for source s's k-th draw is
    // ⌊(2k−1)·W/(2w_s)⌋ in unbounded integers (the DECIMAL(38,0)
    // plan arithmetic), sequence read key-ascending. The fixture
    // specs measure drift ≤ 3–4 on two hand-built mixtures; this
    // property pins the bound's SHAPE over random weight/count
    // vectors including token-mass-scale weights (the wide face):
    // a wrap, a negative key, or a front-loaded source (the
    // weight-contract corruption modes) all blow the O(m) bound,
    // which measured corruption-free drift never does.
    val gen = for {
      m <- Gen.choose(2, 6)
      ws <- Gen.listOfN(m, Gen.oneOf(
        Gen.choose(1L, 50L), Gen.choose(1L, 1000000000000000000L)))
      ns <- Gen.listOfN(m, Gen.choose(1, 40))
    } yield (ws.map(BigInt(_)), ns)
    check("stride prefix fidelity")(Prop.forAll(gen) { case (ws, ns) =>
      val m = ws.length
      val W = ws.sum
      val rows = (for {
        s <- 0 until m
        k <- 1 to ns(s)
      } yield (((2 * k - 1) * W) / (2 * ws(s)), s, k)).sortBy(r => (r._1, r._2, r._3))
      val keysOk = rows.forall(_._1 >= 0) && (0 until m).forall { s =>
        val ks = rows.filter(_._2 == s).map(_._1)
        ks.zip(ks.drop(1)).forall { case (a, b) => a < b }
      }
      // horizon: the last prefix where every source still has a draw
      // left at its ideal rate (the spec convention — after a source
      // exhausts, its share honestly decays)
      val horizon = (0 until m).map(s => BigInt(ns(s)) * W / ws(s)).min
        .min(BigInt(rows.length)).toInt
      val bound = BigInt(m + 3)
      val seen = Array.fill(m)(BigInt(0))
      val driftOk = rows.take(horizon).zipWithIndex.forall {
        case ((_, s, _), i) =>
          seen(s) += 1
          val t = BigInt(i + 1)
          // |seen_s − t·w_s/W| ≤ bound, compared exactly at scale W
          (0 until m).forall(src =>
            (seen(src) * W - t * ws(src)).abs <= bound * W)
      }
      keysOk && driftOk
    })
  }

  test("EpochShuffle.shardCount is exactly max(1, ceil(total/target))") {
    check("shardCount ceil law")(Prop.forAll(
      Gen.chooseNum(0L, 1000000000000L), Gen.chooseNum(1L, 1000000000L)) {
      (total, target) =>
        val n = graft.ops.EpochShuffle.shardCount(total, target)
        val want = ((BigInt(total.max(0L)) + target - 1) / target).max(1).toLong
        n == want && n >= 1 && (total <= 0 || (n - 1) * target < total)
    })
  }

  // ---- generators ---------------------------------------------------------

  private val keywords = Set("AND", "OR", "NOT", "TO", "IN")
  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
      .suchThat(w => w.nonEmpty && !keywords(w.toUpperCase))
  private val fieldOpt: Gen[Option[String]] = Gen.option(word)

  private val genBound: Gen[Bound] = Gen.frequency(
    (2, word.map(Bound.Inclusive(_))),
    (2, word.map(Bound.Exclusive(_))),
    (1, Gen.const(Bound.Unbounded)))

  private def genAst(depth: Int): Gen[Ast] = {
    val leaf: Gen[Ast] = Gen.oneOf(
      Gen.const(Ast.MatchAll),
      for (f <- fieldOpt; v <- word) yield Ast.Term(f, v),
      for (f <- fieldOpt; v <- word) yield Ast.Prefix(f, v),
      for (f <- fieldOpt; v <- word; d <- Gen.chooseNum(1, 2)) yield Ast.Fuzzy(f, v, d),
      for {
        f <- fieldOpt
        ws <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, word))
        slop <- Gen.chooseNum(0, 2)
      } yield Ast.Phrase(f, ws, slop),
      for (f <- fieldOpt; lo <- genBound; hi <- genBound) yield Ast.Range(f, lo, hi),
      for {
        f <- fieldOpt
        vs <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, word))
      } yield Ast.InSet(f, vs)
    )
    if (depth == 0) leaf
    else Gen.frequency(
      (4, leaf),
      (1, for (inner <- genAst(depth - 1); b <- Gen.oneOf(0.5, 2.0, 3.5))
        yield Ast.Boost(inner, b)),
      (2, for {
        n <- Gen.chooseNum(2, 3)
        cs <- Gen.listOfN(n, for {
          o <- Gen.oneOf[Occur](Occur.Must, Occur.Should, Occur.MustNot)
          a <- genAst(depth - 1)
        } yield (o, a))
      } yield Ast.Bool(cs))
    )
  }

  // ---- printer (test-local; values are alphanumeric by construction) -----

  private def render(a: Ast): String = a match {
    case Ast.MatchAll        => "*"
    case Ast.Term(f, v)      => f.map(_ + ":").getOrElse("") + v
    case Ast.Prefix(f, v)    => f.map(_ + ":").getOrElse("") + v + "*"
    case Ast.Fuzzy(f, v, d)  => f.map(_ + ":").getOrElse("") + v + "~" + d
    case Ast.Phrase(f, ws, s) =>
      f.map(_ + ":").getOrElse("") + "\"" + ws.mkString(" ") + "\"" +
        (if (s > 0) "~" + s else "")
    case Ast.Range(f, lo, hi) =>
      def b(x: Bound): String = x match {
        case Bound.Unbounded    => "*"
        case Bound.Inclusive(v) => v
        case Bound.Exclusive(v) => v
      }
      val lb = if (lo.isInstanceOf[Bound.Exclusive]) "{" else "["
      val rb = if (hi.isInstanceOf[Bound.Exclusive]) "}" else "]"
      f.map(_ + ":").getOrElse("") + lb + b(lo) + " TO " + b(hi) + rb
    case Ast.InSet(f, vs) =>
      f.map(_ + ":").getOrElse("") + "IN [" + vs.mkString(" ") + "]"
    case Ast.Boost(inner, bv) => renderAtom(inner) + "^" + bv
    case Ast.Bool(cs) =>
      cs.map { case (o, c) =>
        val p = o match {
          case Occur.Must    => "+"
          case Occur.MustNot => "-"
          case Occur.Should  => ""
        }
        p + renderAtom(c)
      }.mkString(" ")
  }

  private def renderAtom(a: Ast): String = a match {
    case _: Ast.Bool  => "(" + render(a) + ")"
    case _: Ast.Boost => "(" + render(a) + ")"
    case other        => render(other)
  }

  // ---- properties ---------------------------------------------------------

  test("printer→parser fixpoint: parse(render(parse(render(ast)))) is stable") {
    check("parser fixpoint")(Prop.forAll(genAst(2)) { ast =>
      val a1 = QueryParser.parse(render(ast))
      val a2 = QueryParser.parse(render(a1))
      if (a1 != a2) {
        println(s"UNSTABLE: $ast\n  q1=${render(ast)}\n  a1=$a1\n  q2=${render(a1)}\n  a2=$a2")
      }
      a1 == a2
    })
  }

  test("parser never throws anything but ParseError on arbitrary ascii input") {
    val ascii = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.stringOfN(n, Gen.choose(32.toChar, 126.toChar)))
    check("parser totality")(Prop.forAll(ascii) { s =>
      try { QueryParser.parse(s); true }
      catch {
        case _: QueryParser.ParseError => true
        case _: NumberFormatException  => false // boost/fuzzy digits must be guarded
        case _: Throwable              => false
      }
    })
  }

  test("ip codec: format∘parse is identity on canonical 16-byte addresses") {
    val bytes16 = Gen.listOfN(16, Gen.chooseNum(0, 255)).map(_.map(_.toByte).toArray)
    check("ip v6 roundtrip")(Prop.forAll(bytes16) { b =>
      IpCodec.parse(IpCodec.format(b)).exists(_.sameElements(b))
    })
  }

  test("ip codec: dotted-quad roundtrips through the v6-mapped domain") {
    val octet = Gen.chooseNum(0, 255)
    check("ip v4 roundtrip")(Prop.forAll(octet, octet, octet, octet) { (a, b, c, d) =>
      val s = s"$a.$b.$c.$d"
      IpCodec.parse(s).exists(bs => IpCodec.format(bs) == s)
    })
  }

  test("datetime magnitude inference maps all four units to the same micros") {
    val sec = Gen.chooseNum(72057595L, 8589934591L)
    check("magnitude consistency")(Prop.forAll(sec) { s =>
      val us = s * 1000000L
      TimeParse.fromMagnitude(s).contains(us) &&
        TimeParse.fromMagnitude(s * 1000L).contains(us) &&
        TimeParse.fromMagnitude(us).contains(us) &&
        TimeParse.fromMagnitude(us * 1000L).contains(us)
    })
  }

  test("magnitude inference rejects values outside every unit window") {
    check("magnitude bounds")(Prop.forAll(Gen.chooseNum(0L, 72057594L)) { v =>
      TimeParse.fromMagnitude(v).isEmpty
    })
  }

  test("compiler and bound extractors are total over generated ASTs") {
    // Fields from the generator rarely match the schema, exercising the
    // default-field expansion and `_dynamic` paths; compilation builds
    // Column trees only (no session needed), so a MatchError on any AST
    // shape — the class of bug a new node like Fuzzy could introduce —
    // fails here without touching Spark.
    val cfg = graft.config.IndexConfig.fromYaml(
      """version: 1
        |name: prop
        |path: /tmp/unused
        |schema:
        |  time_field: ts
        |  fields:
        |    - name: ts
        |      type: !datetime
        |    - name: n
        |      type: !number
        |        type: i64
        |    - name: sev
        |      type: !text
        |        indexed:
        |          tokenizer: raw
        |    - name: body
        |      type: !text
        |""".stripMargin)
    val d = new graft.config.SchemaDerivation(cfg)
    val compiler = new QueryCompiler(d)
    check("compiler totality")(Prop.forAll(genAst(2)) { ast =>
      compiler.compileAst(ast)
      TimeBounds.extract(ast, "ts", Seq("rfc3339", "timestamp"))
      FieldBounds.extractNumeric(ast, "n")
      FieldBounds.extractOrdered(ast, "sev", Some(_))
      FieldBounds.requiredTerms(ast, "sev")
      true
    })
  }

  test("a Should clause next to a Must never constrains any extractor") {
    // tantivy semantics: once a Must exists, Should is scoring-only. For
    // ANY generated sub-query placed as the Should arm, every extractor
    // must report "unconstrained" for every field the Must doesn't touch
    // (the exact shape of the dict-pruning bug the third review found).
    check("should-next-to-must")(Prop.forAll(genAst(2)) { inner =>
      val wrapped = Ast.Bool(List(
        (Occur.Must, Ast.Term(Some("zzz"), "anchor")),
        (Occur.Should, inner)))
      FieldBounds.extractNumeric(wrapped, "n").isUnbounded &&
        FieldBounds.extractOrdered(wrapped, "sev", Some(_)).isUnbounded &&
        FieldBounds.requiredTerms(wrapped, "sev").isEmpty &&
        FieldBounds.requiredPrefixes(wrapped, "sev").isEmpty &&
        TimeBounds.extract(wrapped, "ts", Seq("rfc3339", "timestamp")) ==
          TimeBounds.Unbounded
    })
  }

  test("porter stemmer never lengthens, never empties, stays lowercase") {
    // NOTE: classic Porter is NOT idempotent in general (found by the
    // earlier idempotence property on nonsense words like "oieihxbjngse" →
    // "oieihxbjngs" → "oieihxbjng"); tokens are stemmed exactly once at
    // ingest and once at query compile, so only single-application
    // invariants matter.
    val word = Gen.chooseNum(1, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    check("stem invariants")(Prop.forAll(word) { w =>
      val s1 = PorterStemmer.stem(w)
      s1.nonEmpty && s1.length <= w.length &&
        s1.forall(c => c.isLower || c.isDigit) &&
        PorterStemmer.stem(w) == s1 // deterministic
    })
  }

  test("escape neutralization yields decoded-value tokens under any writer") {
    // The digest/no-false-negative contract for `_dynamic` paths rests on
    // this: tokenizing the escape-NEUTRALIZED rendering of a JSON string
    // must yield exactly the decoded value's tokens, whether the writer
    // escapes minimally (Jackson canonical — what ingest digests are
    // built over) or ASCII-escapes every non-ASCII char as \uXXXX
    // (anything Spark's variant renderer might do at query time),
    // including supplementary-plane letters written as surrogate pairs.
    import com.fasterxml.jackson.databind.ObjectMapper
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String

    def neutralize(s: String): String =
      graft.exprs.JsonEscapeNeutralize(Literal(UTF8String.fromString(s), StringType))
        .eval(InternalRow.empty).asInstanceOf[UTF8String].toString
    // reference tokenization of DECODED text (the default tokenizer's
    // token class; generated runs stay far below the 40-char cap)
    def toks(s: String): List[String] =
      "[\\p{L}\\p{N}]+".r.findAllIn(s.toLowerCase).toList
    val canonical = new ObjectMapper
    val asciiOnly = new ObjectMapper
    asciiOnly.getFactory.enable(
      com.fasterxml.jackson.core.JsonGenerator.Feature.ESCAPE_NON_ASCII)

    val nastyChar: Gen[Char] = Gen.frequency(
      (6, Gen.alphaNumChar), (1, Gen.oneOf('é', '語', 'ß', '5')),
      (1, Gen.oneOf('\n', '\t', '\u0007', '\u0000')),
      (1, Gen.oneOf('\\', '"', '/', ' ', '.')))
    val value: Gen[String] = for {
      n <- Gen.chooseNum(0, 12)
      cs <- Gen.listOfN(n, nastyChar)
      supp <- Gen.oneOf("", new String(Character.toChars(0x1D54F)), "😀")
    } yield cs.mkString + supp
    check("neutralized render tokens == decoded tokens")(Prop.forAll(value) { s =>
      val expected = toks(s)
      toks(neutralize(canonical.writeValueAsString(s))) == expected &&
        toks(neutralize(asciiOnly.writeValueAsString(s))) == expected
    })
  }

  test("phrase_freq equals the declarative spec; predicate and cap laws hold") {
    // Independent re-statement of the dedupe semantics: the frequency is
    // the number of DISTINCT word-0 positions that anchor some
    // window-satisfying start, where start i is satisfied when every
    // word j appears in [i + max(0, j-slop), min(n-1, i + max(0, j-slop)
    // + 2*slop)] and i's anchor is the FIRST word-0 position in its
    // window. The implementation is an incremental one-pass loop with a
    // lastP0 register — this closed-form spec checks it, along with:
    // freq > 0 ⟺ some start satisfies (the pre-dedupe HOF predicate),
    // and cap=1 (the phrase_any path) agreeing with min(1, freq).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}

    def freq(toks: List[String], words: List[String], slop: Int, cap: Int): Int =
      graft.exprs.PhraseFreq(
        Literal.create(toks, ArrayType(StringType)), words, slop, cap)
        .eval(InternalRow.empty).asInstanceOf[Int]

    def windowOf(i: Int, j: Int, slop: Int, n: Int): Range = {
      val start = i + math.max(0, j - slop)
      start to math.min(n - 1, start + 2 * slop)
    }
    def satisfied(toks: Vector[String], words: List[String], slop: Int,
        i: Int): Boolean =
      words.zipWithIndex.forall { case (w, j) =>
        windowOf(i, j, slop, toks.length).exists(p => toks(p) == w)
      }
    def specFreq(toks: Vector[String], words: List[String], slop: Int): Int = {
      val n = toks.length
      val anchors = (0 to n - words.length).flatMap { i =>
        if (!satisfied(toks, words, slop, i)) None
        else windowOf(i, 0, slop, n).find(p => toks(p) == words.head)
      }
      anchors.distinct.size
    }

    val tok = Gen.oneOf("a", "b", "c")
    val cases = for {
      n <- Gen.chooseNum(0, 10)
      toks <- Gen.listOfN(n, tok)
      m <- Gen.chooseNum(1, 3)
      words <- Gen.listOfN(m, tok)
      slop <- Gen.chooseNum(0, 2)
    } yield (toks, words, slop)
    check("phrase_freq == spec")(Prop.forAll(cases) { case (toks, words, slop) =>
      val got = freq(toks, words, slop, Int.MaxValue)
      val spec = specFreq(toks.toVector, words, slop)
      val anyStart = (0 to toks.length - words.length)
        .exists(i => satisfied(toks.toVector, words, slop, i))
      got == spec &&
        (got > 0) == anyStart &&
        freq(toks, words, slop, 1) == math.min(1, got)
    })
  }

  test("term digests never produce a false negative, through any fold") {
    // The entire pruning layer rests on this: a token inserted into the
    // build-size filter must report mightContain == true after EVERY
    // fold level down to the minimum size (shrink picks one of these
    // levels), otherwise a split holding a match could be skipped.
    import graft.engine.TermDigest
    val toks: Gen[List[String]] =
      Gen.chooseNum(1, 200).flatMap(n => Gen.listOfN(n,
        Gen.chooseNum(1, 12).flatMap(l =>
          Gen.stringOfN(l, Gen.frequency((9, Gen.alphaNumChar), (1, Gen.oneOf('é', '語', ' ')))))))
    check("digest membership survives folding")(Prop.forAll(toks) { ts =>
      val bits = TermDigest.denseBits(ts)
      // tokens AND their ingest-inserted prefix markers must all survive
      // every fold level — a marker lost to folding would wrong-prune a
      // prefix query
      val keys = ts ++ ts.flatMap(t =>
        (TermDigest.PrefixMinLen to math.min(TermDigest.PrefixMaxLen, t.length))
          .map(l => TermDigest.prefixKey(t.substring(0, l))))
      var d = new TermDigest(TermDigest.K, bits)
      var ok = keys.forall(d.mightContain)
      while (ok && d.m > TermDigest.MinBits) {
        d = d.fold
        ok = keys.forall(d.mightContain)
      }
      ok && TermDigest.shrink(bits).forall(s => keys.forall(s.mightContain)) &&
        // a digest parsed from a pre-marker sidecar cannot prove any
        // marker absent — it must answer true (never-prune-on-missing)
        new TermDigest(TermDigest.K, d.bits, hasPrefixes = false)
          .mightContain(TermDigest.prefixKey("zzzneverinserted"))
    })
  }

  test("token_bloom partials, in any split and merge order, equal the dense reference build") {
    // The stats aggregate's sparse position buffer must be invisible:
    // whatever rows the tasks see and whatever order the driver merges
    // their partials in, `eval` is the dense filter's exact bytes, and a
    // buffer survives its storage form in both the sparse and dense form.
    import graft.engine.{BloomBuffer, TermDigest, TokenBloom}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val agg = TokenBloom(BoundReference(0, ArrayType(StringType), nullable = true))
    def row(toks: Seq[String]): InternalRow =
      if (toks == null) InternalRow(null)
      else InternalRow(new GenericArrayData(toks.map(t =>
        if (t == null) null else UTF8String.fromString(t)).toArray[Any]))
    def bytesOf(longs: Array[Long]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(longs.length << 3)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.asLongBuffer().put(longs)
      buf.array()
    }
    def roundTrips(b: BloomBuffer): Boolean = {
      val back = agg.deserialize(agg.serialize(b))
      back.isDense == b.isDense &&
        java.util.Arrays.equals(back.denseBytes, b.denseBytes)
    }
    def build(rows: Seq[Seq[String]]): BloomBuffer =
      rows.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, row(r)))

    val word: Gen[String] = Gen.chooseNum(1, 12).flatMap(l =>
      Gen.stringOfN(l, Gen.frequency((9, Gen.alphaNumChar), (1, Gen.oneOf('é', '語', ' ')))))
    val tok: Gen[String] = Gen.frequency((30, word), (1, Gen.const(null)))
    // a tenth of the cases hold enough long tokens (35 positions each)
    // for one partial, or the union of several, to pass SparseMax
    val toks: Gen[List[String]] = Gen.frequency(
      (9, Gen.chooseNum(0, 80).flatMap(Gen.listOfN(_, tok))),
      (1, Gen.chooseNum(500, 1200).flatMap(Gen.listOfN(_,
        Gen.chooseNum(8, 12).flatMap(Gen.stringOfN(_, Gen.alphaNumChar))))))
    val cases = for {
      ts <- toks
      // rows of 1..6 tokens; each case also feeds one null array
      rowCuts <- Gen.listOfN(ts.length, Gen.chooseNum(0, 5))
      parts <- Gen.chooseNum(1, 5)
      owner <- Gen.listOfN(ts.length + 1, Gen.chooseNum(0, parts - 1))
      order <- Gen.listOfN(parts * 2, Gen.chooseNum(0, 1000))
      nullRow <- Gen.chooseNum(0, 3)
    } yield (ts, rowCuts, parts, owner, order, nullRow)

    // both buffer forms are reached and round-trip
    val small = build(Seq(Seq("alpha", "beta")))
    val big = build(Seq((1 to 1000).map(i => Integer.toHexString(i * 0x9e3779b1))))
    assert(!small.isDense && big.isDense)
    assert(roundTrips(small) && roundTrips(big))
    assert(java.util.Arrays.equals(agg.eval(agg.createAggregationBuffer())
      .asInstanceOf[Array[Byte]], new Array[Byte](TermDigest.BuildBits >> 3)))

    // no shrinking: a failing thousand-token case would shrink for minutes
    check("token_bloom == dense reference")(Prop.forAllNoShrink(cases) {
      case (ts, rowCuts, parts, owner, order, nullRow) =>
        // cut the token list into rows, deal the rows out to partials
        val rows = scala.collection.mutable.ListBuffer.empty[Seq[String]]
        var rest = ts
        rowCuts.foreach { c =>
          if (rest.nonEmpty) { rows += rest.take(c + 1); rest = rest.drop(c + 1) }
        }
        val dealt = Array.fill(parts)(List.empty[Seq[String]])
        rows.zipWithIndex.foreach { case (r, i) => dealt(owner(i)) ::= r }
        dealt(nullRow % parts) ::= null
        val partials = dealt.map(rs => build(rs.reverse)).toBuffer
        val partialsOk = partials.forall(roundTrips)
        // merge in a random pairing order, each partial through its
        // storage form as it would arrive from a task
        var pool = partials.map(b => agg.deserialize(agg.serialize(b)))
        var k = 0
        while (pool.length > 1) {
          val i = order(k % order.length) % pool.length
          val j = (i + 1 + order((k + 1) % order.length) % (pool.length - 1)) % pool.length
          val merged = agg.merge(pool(i), pool(j))
          pool = pool.zipWithIndex.collect { case (b, x) if x != i && x != j => b } :+ merged
          k += 1
        }
        val got = agg.eval(pool.head).asInstanceOf[Array[Byte]]
        partialsOk && roundTrips(pool.head) &&
          java.util.Arrays.equals(got, bytesOf(TermDigest.denseBits(ts)))
    })
  }

  test("UnigramEncode always reconstructs the word at the enumeration optimum") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // tiny alphabet + small integer costs concentrate exact cost TIES, so
    // the lexicographic tie-break is exercised constantly, not rarely
    val abc = Gen.oneOf('a', 'b', 'c')
    val pieceGen = Gen.chooseNum(2, 4).flatMap(n => Gen.stringOfN(n, abc))
    val vocabGen: Gen[Seq[(String, Long)]] = for {
      multis <- Gen.listOfN(12, pieceGen).map(_.distinct)
      costs <- Gen.listOfN(multis.size + 3, Gen.chooseNum(1L, 20L))
    } yield multis.zip(costs) ++ Seq("a", "b", "c").zip(costs.drop(multis.size))
    val wordGen = Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, abc))

    check("unigram DP vs exhaustive enumeration")(
      Prop.forAll(vocabGen, wordGen) { (vocab, w) =>
        val vmap = vocab.groupBy(_._1).map { case (p, o) => p -> o.map(_._2).min }
        def enum(s: String): Seq[List[String]] =
          if (s.isEmpty) Seq(Nil)
          else (1 to math.min(4, s.length)).flatMap { l =>
            val p = s.substring(0, l)
            if (vmap.contains(p)) enum(s.substring(l)).map(p :: _) else Nil
          }
        val want = enum(w).map(ps => (ps.map(vmap).sum, ps.mkString("|"))).min
        val got = graft.exprs.UnigramEncode(Literal(w), vocab, 4)
          .nullSafeEval(UTF8String.fromString(w))
          .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
          .array.map(_.toString)
        got.mkString == w &&                           // pieces reconstruct
          got.forall(vmap.contains) &&                 // all pieces in vocab
          (got.map(vmap).sum, got.mkString("|")) == want // DP = optimum
      })
  }

  test("UnigramEncode handles supplementary codepoints and byte-order ties") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // U+10000 is a surrogate pair in UTF-16 but one codepoint to the DP
    // (codepoint-indexed symbols) and 4 bytes to the UTF-8 tie-break
    val sup = new String(Character.toChars(0x10000))
    val vocab = Seq(sup -> 5L, "z" -> 5L, s"${sup}z" -> 5L, s"z$sup" -> 5L)
    def enc(w: String): Seq[String] =
      graft.exprs.UnigramEncode(Literal(w), vocab, 2)
        .nullSafeEval(UTF8String.fromString(w))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.map(_.toString).toSeq
    // word = sup z sup: ties at cost 10 between [sup z][sup] and
    // [sup][z sup]; 'z' (0x7A) < '|' (0x7C) in BOTH UTF-8 and UTF-16, so
    // the joined path "supz|sup" wins — pinned so any future comparator
    // change that breaks byte-order ties surfaces here
    assert(enc(s"$sup" + "z" + s"$sup") == Seq(s"${sup}z", sup))
    // single supplementary char round-trips through the codepoint DP
    assert(enc(sup) == Seq(sup))
  }

  test("digest sidecar serialization round-trips exactly") {
    import graft.engine.TermDigest
    val toks: Gen[List[String]] = Gen.chooseNum(1, 50)
      .flatMap(n => Gen.listOfN(n, Gen.alphaNumStr.suchThat(_.nonEmpty)))
    check("render/parse fixpoint")(Prop.forAll(toks) { ts =>
      val bits = TermDigest.denseBits(ts)
      TermDigest.shrink(bits).forall { d =>
        val parsed = TermDigest.parseAll(new String(
          TermDigest.renderAll(Map("f" -> d)), "UTF-8"))("f")
        parsed.k == d.k && parsed.bits.sameElements(d.bits) &&
          ts.forall(parsed.mightContain)
      }
    })
  }
  test("WordPieceEncode matches an independent greedy longest-match reference") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val abc = Gen.oneOf('a', 'b', 'c')
    val pieceGen = Gen.chooseNum(1, 4).flatMap(n => Gen.stringOfN(n, abc))
    // random mix of first-position and ##-continuation pieces; the base
    // alphabet is NOT always complete, so the [UNK] path fires often
    val vocabGen: Gen[Seq[String]] = for {
      firsts <- Gen.listOfN(6, pieceGen)
      conts <- Gen.listOfN(6, pieceGen.map("##" + _))
      base <- Gen.someOf(Seq("a", "b", "c", "##a", "##b", "##c"))
    } yield (firsts ++ conts ++ base).distinct
    val wordGen = Gen.chooseNum(1, 10).flatMap(n => Gen.stringOfN(n, abc))

    check("wordpiece greedy vs reference")(
      Prop.forAll(vocabGen, wordGen) { (vocab, w) =>
        val vs = vocab.toSet
        // independent greedy reference: longest match at each step, the
        // whole word fails to [UNK] on any dead-end (no backtracking --
        // that is the WordPiece contract, unlike unigram Viterbi)
        def greedy: List[String] = {
          var pos = 0
          val out = scala.collection.mutable.ListBuffer.empty[String]
          while (pos < w.length) {
            val hit = (w.length - pos to 1 by -1).iterator.map { l =>
              (if (pos == 0) "" else "##") + w.substring(pos, pos + l)
            }.find(vs)
            hit match {
              case None => return List("[UNK]")
              case Some(h) =>
                out += h
                pos += (if (h.startsWith("##")) h.length - 2 else h.length)
            }
          }
          out.toList
        }
        val got = graft.exprs.WordPieceEncode(Literal(w), vocab)
          .nullSafeEval(UTF8String.fromString(w))
          .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
          .array.map(_.toString).toList
        got == greedy
      })
  }
}
