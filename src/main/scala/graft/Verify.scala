package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter — local
    // iteration only; the driver always passes two args = run everything]
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [names]")
    val (sfDir, outDir) = (args(0), args(1))
    val selected = SparkEntry.select(args.drop(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the product session: the oracle gate certifies the configuration
    // the CLI and the bench run, extensions included
    val spark = Graft.session(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => Graft.jsonString(k) + ": " + Graft.jsonString(v) }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
