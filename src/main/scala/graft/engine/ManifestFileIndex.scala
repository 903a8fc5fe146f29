package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A fixed, unpartitioned file list as a Spark [[FileIndex]] — the split
  * files the manifest recorded, so a scan plans without listing a single
  * directory (Spark's own index lists every root path, and past
  * `parallelPartitionDiscovery.threshold` paths it runs a listing job).
  * Lengths come from the manifest too; a recorded file that is gone
  * fails the scan when its task opens it. */
private[engine] final class ManifestFileIndex(files: Seq[FileStatus])
    extends FileIndex {
  def rootPaths: Seq[HPath] = files.map(_.getPath.getParent).distinct
  def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  def refresh(): Unit = ()
  def sizeInBytes: Long = files.iterator.map(_.getLen).sum
  def partitionSchema: StructType = new StructType()
}
