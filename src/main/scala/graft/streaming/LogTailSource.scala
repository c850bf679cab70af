package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, ReadMaxBytes,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.streaming.DataStreamReader
import org.apache.spark.sql.types.StructType

import graft.model.Event
import graft.sources.{LogFile, LogFileIndex, LogManifest, LogRecord}

/** A streaming source that tails an [[graft.sources.EventLog]] through its
  * commit manifest ([[LogManifest]]), not through directory listings: the
  * source [[StreamingSubscription]] reads.
  *
  *   - The offset is a record id: a micro-batch `(start, end]` holds the
  *     records with ids in `[start, end)`. [[latestOffset]] reads records
  *     upward from `start` and never lists, so a trigger costs O(new
  *     records), whatever the log's size.
  *   - [[getBatch]] scans exactly the files the batch's add records added,
  *     through the log's recorded-file index ([[LogFileIndex]]): no
  *     listing, and no listing job however many files a batch holds.
  *   - A replace record (a maintenance rewrite) delivers nothing when every
  *     file it removed was read before `start`. A batch file that a replace
  *     removed — in the batch, or, when the file is gone by the time the
  *     batch is planned, in a later record — resolves to that replace's
  *     added files, which hold its surviving rows; a replaced file that is
  *     gone too resolves on through the next replace, until every file
  *     left exists. Rows of other files in the same dir come along, so a
  *     rewrite that lands after a batch is sized and before it is planned
  *     delivers duplicates; no row is lost.
  *   - `maxBytesPerTrigger` admits whole records up to that many added
  *     bytes, at least one per batch (`SupportsAdmissionControl`). A batch
  *     the cap cut whose files are gone ends after the records that
  *     resolve them instead, whatever their size: a rewrite's added files
  *     are then delivered once, in the batch that crosses it, not once per
  *     capped batch before it. An AvailableNow trigger stops at the
  *     manifest head it started at.
  *   - `startAtHead=true` starts at the manifest head when the source is
  *     created: its first micro-batch is an empty one that ends there, so
  *     the offset log keeps the boundary across restarts.
  *
  * A micro-batch whose scan races a rewrite's delete of the files it
  * replaced fails with a missing file, and its query stops; restarted from
  * its checkpoint, it re-plans the batch from the replace record. A log
  * that Spark jobs alone wrote is read through the record 0 its manifest
  * seeds on first use.
  */
final class LogTailSource(spark: SparkSession, logPath: String, maxBytes: Option[Long],
    startAtHead: Boolean) extends Source with SupportsTriggerAvailableNow {

  private val conf = spark.sparkContext.hadoopConfiguration
  private val root = new Path(logPath)
  private val manifest = new LogManifest(root, conf)
  private val boundary: Long = if (startAtHead) manifest.head() else 0L
  private var availableNowEnd = Long.MaxValue
  /** Complete records read and not yet behind a committed batch. */
  private val records = mutable.Map.empty[Long, LogRecord]

  override def schema: StructType = LogTailSource.schema

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException("a log tail source is read through latestOffset")

  override def getDefaultReadLimit: ReadLimit =
    maxBytes.fold(ReadLimit.allAvailable())(ReadLimit.maxBytes)

  override def prepareForTriggerAvailableNow(): Unit = availableNowEnd = manifest.head()

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset).map(idOf)
    if (start.isEmpty && startAtHead) return LongOffset(boundary)
    val from = start.getOrElse(0L)
    val cap = limit match {
      case m: ReadMaxBytes => m.maxBytes
      case _ => Long.MaxValue
    }
    var end = from
    var bytes = 0L
    var capped = false
    var more = true
    while (more && end < availableNowEnd) {
      more = read(end).exists { r =>
        val size = r.added.map(_.size).sum
        val admit = end == from || bytes + size <= cap
        if (admit) { bytes += size; end += 1 } else capped = true
        admit
      }
    }
    if (capped) {
      val (_, resolvedAt, resolved) = plan(from, end)
      if (resolved) end = resolvedAt
    }
    if (end > from) LongOffset(end) else startOffset
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = idOf(end)
    // the boundary batch of a startAtHead source delivers nothing
    val from = start.map(idOf).getOrElse(if (startAtHead) to else 0L)
    LogTailSource.batch(spark, root, plan(from, to)._1)
  }

  /** The files records `[from, to)` leave to scan, each replace that
    * removes one of them swapping in its added files; then, while some of
    * them are gone, the records from `to` on that resolve them. Returns
    * the files, the id after the last record read, and whether every file
    * exists.
    */
  private def plan(from: Long, to: Long): (Seq[LogFile], Long, Boolean) = {
    val pending = mutable.LinkedHashMap.empty[String, LogFile]
    def resolve(r: LogRecord): Boolean = {
      val hit = r.isReplace && r.removed.exists(pending.contains)
      if (hit) {
        r.removed.foreach(pending.remove)
        r.added.foreach(f => pending(f.path) = f)
      }
      hit
    }
    (from until to).foreach { id =>
      val r = record(id)
      if (r.isReplace) resolve(r) else r.added.foreach(f => pending(f.path) = f)
    }
    // a file already gone was removed by a rewrite, and a file that
    // rewrite added may be gone through a later one: find their records
    val fs = root.getFileSystem(conf)
    def gone(paths: Iterable[String]): Set[String] =
      paths.filterNot(p => fs.exists(manifest.resolve(p))).toSet
    var missing = gone(pending.keys)
    var next = to
    while (missing.nonEmpty && read(next).isDefined) {
      val r = record(next)
      if (resolve(r)) missing = missing -- r.removed ++ gone(r.added.map(_.path))
      next += 1
    }
    (pending.values.toSeq, next, missing.isEmpty)
  }

  override def commit(end: Offset): Unit = {
    val done = idOf(end)
    records.filterInPlace((id, _) => id >= done)
  }

  override def stop(): Unit = ()

  override def toString: String = s"LogTailSource[$logPath]"

  /** Record `id` if it is completely written; cached once read. */
  private def read(id: Long): Option[LogRecord] =
    records.get(id).orElse {
      val r = manifest.read(id)
      r.foreach(records(id) = _)
      r
    }

  private def record(id: Long): LogRecord = read(id).getOrElse(
    throw new IllegalStateException(s"manifest record $id of $logPath is missing or torn"))

  private def idOf(o: OffsetV2): Long = o match {
    case LongOffset(id) => id
    case other => other.json.toLongOption.getOrElse(throw new IllegalStateException(
      s"offset ${other.json} of $logPath was not written by a log tail source; a checkpoint " +
        "of Spark's file-stream source does not resume, start from a new checkpoint"))
  }
}

object LogTailSource {

  /** A stream reader over the event log at `logPath` through this source:
    * `load()` gives the envelope stream (options as on [[LogTailProvider]]).
    */
  def reader(spark: SparkSession, logPath: String): DataStreamReader =
    spark.readStream.format(classOf[LogTailProvider].getName).option("path", logPath)

  /** The envelope, every field nullable as a file scan reads it. */
  val schema: StructType = StructType(Event.schema.map(_.copy(nullable = true)))

  /** A streaming DataFrame over exactly `files`. Files in `topic=` dirs
    * take the topic from their dir, as a Parquet listing of the per-topic
    * layout does; elsewhere (the bucketed layout, a log written without
    * partitioning) the topic is a data column.
    */
  private def batch(spark: SparkSession, root: Path, files: Seq[LogFile]): DataFrame = {
    val partitionSchema =
      if (files.exists(_.path.startsWith("topic="))) StructType(Seq(schema("topic")))
      else new StructType()
    LogFileIndex.scan(spark, root, files, partitionSchema, schema, isStreaming = true)
  }
}

/** The provider [[LogTailSource.reader]] names. Options: `path` (the log root), `maxBytesPerTrigger` and
  * `startAtHead` (see [[LogTailSource]]). It keeps nothing under the
  * query's checkpoint: the offset log holds the record ids.
  */
final class LogTailProvider extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = ("graft-log-tail", LogTailSource.schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source =
    new LogTailSource(sqlContext.sparkSession, parameters("path"),
      parameters.get("maxBytesPerTrigger").map(_.toLong), parameters.get("startAtHead").contains("true"))
}
