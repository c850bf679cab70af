package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation,
  LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.DatasetShim
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The file index of every scan of an [[EventLog]]: exactly the recorded
  * files it is given, grouped by partition dir, so planning lists nothing.
  * Batch reads pass the log's live set ([[LogManifest.live]]); a tailing
  * micro-batch ([[graft.streaming.LogTailSource]]) passes the files of its
  * records. A file's dir is `name=value` of the one field of a non-empty
  * `partitionSchema` (`topic`, a string, or `topic_bucket`, an int), whose
  * value it holds as a Parquet listing parses it. It prunes dirs by
  * partition filters, as a listing index does, because a scan does not
  * re-apply them.
  */
final case class LogFileIndex(root: Path, files: Seq[LogFile], partitionSchema: StructType)
    extends FileIndex {

  // a recorded file's block size is not kept; the local file system's default
  private val BlockSize = 32L * 1024 * 1024

  private val partitions: Seq[(InternalRow, Seq[FileStatus])] =
    files.groupBy(f => f.path.take(f.path.lastIndexOf('/') + 1)).toSeq.sortBy(_._1).map {
      case (dir, fs) =>
        val value = ExternalCatalogUtils.unescapePathName(dir.drop(dir.indexOf('=') + 1).stripSuffix("/"))
        InternalRow.fromSeq(partitionSchema.map(f =>
          if (f.dataType == IntegerType) value.toInt else UTF8String.fromString(value))) ->
          fs.map(f => new FileStatus(f.size, false, 0, BlockSize, 0L, new Path(root, f.path)))
    }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep: InternalRow => Boolean =
      if (partitionFilters.isEmpty) _ => true
      else Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }).eval
    partitions.collect { case (values, statuses) if keep(values) =>
      PartitionDirectory(values, statuses.map(FileStatusWithMetadata(_)))
    }
  }

  override def inputFiles: Array[String] = partitions.flatMap(_._2).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.size).sum
}

object LogFileIndex {

  /** A DataFrame over exactly `files` of the log at `root`: a Parquet
    * relation of `dataSchema` columns plus `partitionSchema` columns, as
    * `spark.read.schema(...).parquet(root)` would plan it over those files.
    */
  def scan(spark: SparkSession, root: Path, files: Seq[LogFile], partitionSchema: StructType,
      dataSchema: StructType, isStreaming: Boolean = false): DataFrame = {
    val relation = HadoopFsRelation(LogFileIndex(root, files, partitionSchema), partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark)
    DatasetShim.ofRows(spark, LogicalRelation(relation, isStreaming))
  }
}
