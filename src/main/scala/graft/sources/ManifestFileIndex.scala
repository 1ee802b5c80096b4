package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A manifest's file selection as a Spark `FileIndex`, so that a
  * graftlog read is a plain parquet `HadoopFsRelation` scan: vectorized,
  * with pushed data filters skipping row groups and the scan reporting
  * the files it read. This is the log-backed index of Delta and
  * Qbeast-spark. Every status comes from the manifest entries: nothing
  * is listed, and only an entry written before byte sizes were recorded
  * costs one stat. The selection is already pruned by
  * [[TableLog.planFiles]], so `listFiles` returns it whole.
  */
final class ManifestFileIndex(val root: String, val entries: Seq[TableLog.FileEntry])
    extends FileIndex {

  private lazy val statuses: Seq[FileStatus] = entries.map { e =>
    new FileStatus(TableLog.fileBytes(root, e), false, 1, 0L, 0L,
      new Path(TableLog.resolvePath(root, e.path)))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses.map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  // data files are immutable, so two scans of the same paths are the
  // same relation, and Spark may reuse one's exchange for the other
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => m.root == root && m.entries.map(_.path) == entries.map(_.path)
    case _ => false
  }

  override def hashCode: Int = (root, entries.map(_.path)).hashCode
}
