package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.engine.{Catalog, Indexer}

/** Commits and the on-disk figures of an index. */
object Ingest {

  /** Commit one batch of JSON lines as one `indexDataFrame` call — one
    * split, as the CLI `index` verb makes — as a `commit` request, checking
    * that the split holds the batch. Returns the split id. */
  def commit(c: Ctx, cat: Catalog, index: String, lines: IndexedSeq[String]): Option[String] = {
    val h = c.h
    val spark = h.spark
    import spark.implicits._
    h.callOp("commit", "commit", "indexer.commit")(
      new Indexer(spark, cat).indexDataFrame(index, lines.toDF("value"))).flatMap {
      case (split, rec) =>
        h.check(rec, split.exists(_.numDocs == lines.length),
          s"commit holds ${split.map(_.numDocs)}, want ${lines.length}")
        if (h.tracer.on) split.foreach(s => h.addProbe("commit", Map("split_bytes_per_doc" ->
          dirBytes(Path.of(cat.splitDir(index, s.id))).toDouble / s.numDocs)))
        split.map(_.id)
    }
  }

  /** `got` is the exact top-k of `truth` (sorted by score, descending):
    * every id scoring strictly above the k-th score is present, and every
    * id returned scores at least the k-th (ties at the boundary may cut
    * either way). */
  def sameTopK(got: Seq[Int], truth: Array[(Int, Double)], k: Int): Boolean = {
    val eps = 1e-9
    val kth = truth(k - 1)._2
    val must = truth.take(k).filter(_._2 > kth + eps).map(_._1).toSet
    val allowed = truth.filter(_._2 >= kth - eps).map(_._1).toSet
    got.length == k && got.distinct.length == k && must.subsetOf(got.toSet) &&
      got.forall(allowed)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes of an index's manifest: the root file plus sealed pages. */
  def manifestBytes(catalogRoot: Path, index: String): Double = {
    val d = catalogRoot.resolve("indexes").resolve(index)
    (Files.size(d.resolve("manifest.json")) + dirBytes(d.resolve("pages"))).toDouble
  }

  /** Hit ratio between two (hits, misses, resident) cache readings. */
  def hitRatio(a: (Long, Long, Int), b: (Long, Long, Int)): Double = {
    val hits = b._1 - a._1
    val misses = b._2 - a._2
    hits.toDouble / math.max(1L, hits + misses)
  }
}
