package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The ranking arithmetic of text retrieval, written once: tantivy-default
  * BM25 (SURVEY §2.4) and integer reciprocal-rank fusion. The search verb
  * ([[graft.engine.Searcher]]), `knn --hybrid-text`
  * ([[graft.engine.AnnIndex.knnHybrid]]) and the gated registry rows
  * `q_search_bm25` and `pipe_hybrid_rrf` all rank through this object,
  * so the DuckDB oracle checks the arithmetic the product serves.
  *
  * BM25 is computed in the oracle SQL's operation order
  * (`b·dl/avgdl` as `(b·dl)/avgdl`), with the engine's guards on top: at
  * least one document, a positive mean length, and a NULL score read
  * as 0. */
object Retrieval {
  val K1 = 1.2
  val B = 0.75

  // ---- corpus statistics: aggregate columns over the scored corpus -----

  def docCount: Column = count(lit(1))

  /** Mean token count of a terms array; a NULL array counts as 0. */
  def meanLength(terms: Column): Column =
    avg(coalesce(size(terms).cast("double"), lit(0.0)))

  /** Number of documents whose terms array holds `token`. */
  def docFreq(terms: Column, token: String): Column =
    sum(when(array_contains(terms, token), 1L).otherwise(0L))

  // ---- scoring -----------------------------------------------------------

  /** Lucene/tantivy idf `ln(1 + (n − df + 0.5)/(df + 0.5))`. */
  def idf(n: Double, df: Double): Double = {
    val docs = math.max(n, 1.0)
    math.log(1.0 + (docs - df + 0.5) / (df + 0.5))
  }

  /** One term's (or phrase's) contribution
    * `boost·idf·tf·(k1+1) / (tf + k1·((1 − b) + b·dl/avgdl))`. `dl` is the
    * document's token count; `None` turns length normalisation off
    * (a field indexed without fieldnorms scores every length as avgdl). */
  def termScore(tf: Column, idf: Double, dl: Option[Column], avgdl: Double,
      boost: Double = 1.0): Column = {
    val t = tf.cast("double")
    val norm = dl.fold(lit(B))(n =>
      lit(B) * n.cast("double") / lit(math.max(avgdl, 1e-9)))
    coalesce(lit(boost * idf) * t * lit(K1 + 1.0) /
      (t + lit(K1) * (lit(1.0 - B) + norm)), lit(0.0))
  }

  // ---- fusion ------------------------------------------------------------

  /** Reciprocal-rank fusion of ranked hits `(key, rank)`, ranks from 1:
    * each hit adds `⌊10⁹/(k + rank)⌋` to its key, an integer sum that no
    * summation order can perturb. Returns the top `limit` keys with their
    * fused scores, by (score desc, key asc). */
  def fuse[K: Ordering](hits: Iterable[(K, Int)], k: Int,
      limit: Int): Seq[(K, Long)] =
    hits.groupMapReduce(_._1)(h => 1000000000L / (k + h._2))(_ + _)
      .toSeq.sortBy { case (key, score) => (-score, key) }.take(limit)
}
