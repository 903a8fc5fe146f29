package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Catalog, Indexer, Searcher}
import graft.exprs.ArrayMatch
import graft.functions.TextFunctions.tokenizeDefault
import graft.ops.Retrieval
import graft.queries.SearchQueries

/** The search verb and the registry's gated BM25 row rank the same
  * documents the same way, and both hybrid faces fuse with one rule. */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("search ranks text:spark text:join as q_search_bm25 does on the " +
      "sf0.01 documents") {
    val sf = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("graft-bm25face").toString
    val cat = new Catalog(root)
    cat.create(SearchQueries.docsIndexConfig.format("bm25face"))
    val documents = Graft.table(spark, sf, "documents")
    new Indexer(spark, cat).indexDataFrame("bm25face",
      documents.select(to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("value")))
    val hits = new Searcher(spark, cat)
      .search("bm25face", "text:spark text:join", 1000000)
      .map(s => """"doc_id":(\d+)""".r.findFirstMatchIn(s).get.group(1).toLong)

    // (tf spark, tf join, doc length) per document: equal profiles score
    // equal, and the search verb orders such ties arbitrarily
    val profile: Map[Long, (Int, Int, Int)] = documents
      .select(col("doc_id"), tokenizeDefault(col("text")).as("toks"))
      .select(col("doc_id"), ArrayMatch.count_token_eq(col("toks"), "spark"),
        ArrayMatch.count_token_eq(col("toks"), "join"), size(col("toks")))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
      .toMap
    // every run of equal profiles in doc_id order: the registry's tie order
    val canonical = hits.foldLeft(List.empty[List[Long]]) {
      case (run :: done, id) if profile(run.head) == profile(id) =>
        (id :: run) :: done
      case (done, id) => List(id) :: done
    }.reverse.flatMap(_.sorted)

    val ranked = SearchQueries.q_search_bm25(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(ranked.map(_._1).toSeq == (1 to 10), ranked.mkString(", "))
    assert(canonical.take(10) == ranked.map(_._2).toSeq,
      s"search: ${hits.take(12).map(i => i -> profile(i)).mkString(", ")}\n" +
        s"registry: ${ranked.map(r => r._2 -> profile(r._2)).mkString(", ")}")
    cat.drop("bm25face")
  }

  test("fuse sums integer RRF contributions and cuts score ties by key") {
    // b and c tie at one rank-1 hit each; a has two lower-ranked hits
    val hits = Seq("c" -> 1, "a" -> 2, "b" -> 1, "a" -> 3)
    assert(Retrieval.fuse(hits, k = 60, limit = 3) ==
      Seq("a" -> (1000000000L / 62 + 1000000000L / 63),
        "b" -> 1000000000L / 61, "c" -> 1000000000L / 61))
    // the cut keeps the smaller key of a tie, in any input order
    assert(Retrieval.fuse(hits.reverse, k = 60, limit = 2).map(_._1) == Seq("a", "b"))
    assert(Retrieval.fuse(Seq(7L -> 1, 3L -> 1), k = 60, limit = 1) ==
      Seq(3L -> 1000000000L / 61))
  }
}
