package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Everything the engine reads is derived here
  * from the command-line seed, so one seed gives byte-identical inputs and
  * the checks can compare against the generator's own ground truth. */
object Gen {

  /** The generator of one input stream of a seed: each consumer (a log
    * batch, vectors, corpus, request draws) has its own stream, so resizing
    * one input never shifts another. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  // ---------------------------------------------------------------- logs

  val Levels: Array[String] = Array("INFO", "WARN", "ERROR", "DEBUG")
  private val LevelCdf = Array(0.70, 0.90, 0.98, 1.0)
  val Services: Array[String] = Array.tabulate(12)(i => f"svc-$i%02d")
  val HostsPerBatch = 4
  /** Head vocabulary of the `msg` field, drawn Zipf(1.1): the first words
    * occur in most splits (broad, unprunable BM25 terms). */
  val Vocab: Array[String] = Array(
    "request", "served", "error", "timeout", "connection", "reset", "cache",
    "miss", "hit", "retry", "upstream", "latency", "slow", "queue", "full",
    "disk", "write", "read", "commit", "rollback", "lock", "wait", "user",
    "login", "logout", "session", "expired", "token", "refresh", "payload",
    "parse", "failed", "schema", "index", "merge", "split", "shard", "node",
    "leader", "follower", "heartbeat", "gc", "pause", "heap", "thread",
    "pool", "exhausted", "socket", "closed", "dns", "lookup", "tls",
    "handshake", "certificate", "rotated", "config", "reload", "metrics",
    "flush", "compaction") ++ Array.tabulate(140)(i => f"w$i%03d")
  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab.length)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  /** Epoch seconds of the first generated event (2026-01-01T00:00:00Z). */
  val T0: Long = 1767225600L
  /** Seconds of event time one batch covers; batches are disjoint. */
  val BatchSpanS = 60L
  val RareTokensPerBatch = 4

  final case class LogDoc(ts: Long, level: String, service: String,
      host: String, reqId: Long, latencyMs: Int, msg: String) {
    lazy val tokens: Set[String] = msg.split(' ').toSet
    def json: String =
      s"""{"ts":"${iso(ts)}","level":"$level","service":"$service",""" +
        s""""host":"$host","req_id":$reqId,"latency_ms":$latencyMs,""" +
        s""""msg":"$msg"}"""
  }

  def iso(epochS: Long): String =
    java.time.Instant.ofEpochSecond(epochS).toString

  /** The token only batch `b` holds; it occurs in 1 to 3 of its docs. */
  def rareToken(b: Int, i: Int): String = s"rb${b}x$i"

  def host(b: Int, r: Int): String = s"h$b-$r"

  /** Batch `b` of a time-ordered log stream: `n` docs with event times in
    * [T0 + b·60 s, T0 + (b+1)·60 s), request ids `b·n until (b+1)·n`, and
    * `RareTokensPerBatch` tokens found in no other batch. A batch depends
    * only on (seed, b, n), so any prefix of the stream is reproducible. */
  def logBatch(seed: Long, b: Int, n: Int): IndexedSeq[LogDoc] = {
    val r = rng(seed, 1000003L + b)
    val offsets = Array.fill(n)(r.nextLong(BatchSpanS)).sorted
    val docs = Array.tabulate(n) { i =>
      val u = r.nextDouble()
      val level = Levels(LevelCdf.indexWhere(u < _))
      val words = Array.fill(4 + r.nextInt(8))(zipfWord(r))
      LogDoc(T0 + b * BatchSpanS + offsets(i), level,
        Services(r.nextInt(Services.length)), host(b, r.nextInt(HostsPerBatch)),
        b.toLong * n + i, 1 + r.nextInt(1000), words.mkString(" "))
    }
    for (t <- 0 until RareTokensPerBatch; _ <- 0 to r.nextInt(3)) {
      val i = r.nextInt(n)
      docs(i) = docs(i).copy(msg = docs(i).msg + " " + rareToken(b, t))
    }
    docs.toIndexedSeq
  }

  private def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(ZipfCdf, u)
    Vocab(math.min(Vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  // ------------------------------------------------------------- vectors

  /** `n` vectors of `dim` floats around `clusters` random centres (unit
    * Gaussian centres, noise σ = 0.35): the clustered shape an IVF index
    * is built for. Row i belongs to cluster i % clusters. */
  def clusteredVectors(seed: Long, n: Int, dim: Int,
      clusters: Int): Array[Array[Float]] = {
    val r = rng(seed, 2L)
    val centres = Array.fill(clusters, dim)(gauss(r))
    Array.tabulate(n) { i =>
      val c = centres(i % clusters)
      Array.tabulate(dim)(j => (c(j) + 0.35 * gauss(r)).toFloat)
    }
  }

  /** Query vectors near random corpus rows (noise σ = 0.2). */
  def queryVectors(seed: Long, corpus: Array[Array[Float]],
      n: Int): Array[Array[Float]] = {
    val r = rng(seed, 3L)
    Array.fill(n) {
      val base = corpus(r.nextInt(corpus.length))
      base.map(x => (x + 0.2 * gauss(r)).toFloat)
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Cosine in double precision over the decimal forms the engine parses
    * (a vector travels as `Float.toString` JSON text and is stored f64). */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def asStored(v: Array[Float]): Array[Double] =
    v.map(x => java.lang.Double.parseDouble(java.lang.Float.toString(x)))

  def vectorJson(id: Int, v: Array[Float]): String =
    s"""{"id":$id,"emb":[${v.map(java.lang.Float.toString).mkString(",")}]}"""

  // -------------------------------------------------------------- corpus

  /** The documents vocabulary and shape of the engine's reference test
    * tables (30 words, 5 languages, 20 sources), so the registry
    * operators' filters keep a realistic share of the corpus. */
  val DocWords: Array[String] = Array("the", "a", "spark", "data", "table",
    "query", "window", "merge", "column", "vector", "stream", "value", "small",
    "join", "filter", "big", "group", "hash", "customer", "sort", "order",
    "slow", "line", "part", "fast", "row", "agg", "key", "scan", "batch")
  private val DocWordCdf: Array[Double] = {
    val w = Array.tabulate(DocWords.length)(i => 1.0 / (i + 2))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  final case class Doc(docId: Long, text: String, lang: String,
      source: String) {
    def nChars: Long = text.length.toLong
  }

  /** `base` seeded documents of 20 to 100 Zipf-drawn words with planted
    * near-duplicates (every 16th doc repeats an earlier one with a
    * one-word edit and the token `dup`). */
  def baseDocs(seed: Long, base: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 4L)
    val out = new Array[Doc](base)
    for (i <- 0 until base) {
      val text =
        if (i >= 16 && i % 16 == 0) {
          val ws = out(r.nextInt(i)).text.split(' ')
          ws(r.nextInt(ws.length)) = DocWords(r.nextInt(DocWords.length))
          (ws :+ "dup").mkString(" ")
        } else
          Array.fill(20 + r.nextInt(81))(docWord(r)).mkString(" ")
      out(i) = Doc(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}")
    }
    out.toIndexedSeq
  }

  private def docWord(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(DocWordCdf, r.nextDouble())
    DocWords(math.min(DocWords.length - 1, if (i >= 0) i else -i - 1))
  }

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** The seeded alphabet permutation of replica `k` (replica 0 is the
    * identity, so the base corpus — and every query the registry
    * operators hard-code — rides unchanged). */
  def permutation(seed: Long, k: Int): String =
    if (k == 0) Alpha
    else {
      val r = rng(seed, 5000L + k)
      val a = Alpha.toCharArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      new String(a)
    }

  /** `replicas` copies of the base corpus with offset ids and
    * per-replica substitution-ciphered text: within-replica duplicate
    * structure is kept, cross-replica vocabularies are disjoint, so
    * corpus-wide gram tables grow linearly with the replica count. */
  def permutedReplicas(seed: Long, base: IndexedSeq[Doc],
      replicas: Int): IndexedSeq[Doc] =
    (0 until replicas).flatMap { k =>
      val p = permutation(seed, k)
      base.map(d => d.copy(docId = d.docId + k * 1000000L,
        text = d.text.map(c => if (c >= 'a' && c <= 'z') p(c - 'a') else c)))
    }

  /** Embedding rows (vec_id, 64 floats, label ∈ 0..9) with planted
    * near-duplicates: every 8th row is a small perturbation of an earlier
    * row of the same label. */
  def embeddings(seed: Long, n: Int, dim: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = rng(seed, 6L)
    val out = new Array[(Long, Array[Float], Int)](n)
    for (i <- 0 until n) {
      out(i) =
        if (i >= 8 && i % 8 == 0) {
          val (_, v, label) = out(r.nextInt(i))
          (i.toLong, v.map(x => (x + 0.02 * gauss(r)).toFloat), label)
        } else (i.toLong, Array.fill(dim)((0.13 * gauss(r)).toFloat), r.nextInt(10))
    }
    out.toIndexedSeq
  }
}
