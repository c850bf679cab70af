package graft.sources

import java.io.IOException
import java.net.URI
import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.model.{Event, EventRow}

/** Options of a log scan — the reference's `getEvents` filter surface
  * (reference: src/persistence.ts:28-69; src/types.ts for EventFilter).
  * Bounds are inclusive; `None` means absent. The reference treats a `0`
  * bound as absent too (JS falsy check, reference: src/persistence.ts:46) —
  * callers encode that by passing None.
  */
final case class ScanOptions(
    fromTimestamp: Option[Long] = None, // epoch millis, inclusive
    toTimestamp: Option[Long] = None,   // epoch millis, inclusive
    eventTypes: Seq[String] = Nil,
    limit: Option[Int] = None
)

/** The append-only event log: one parquet dataset, partitioned for pruning.
  *
  * This single table subsumes the reference's three stores (InMemory / File /
  * Postgres, reference: src/persistence.ts) — they differ only in durability,
  * not semantics (SURVEY.md §7.0). At 100 TB the layout is what matters, and
  * it is chosen by `topicBuckets`:
  *
  *   - `topicBuckets = None` (default): `partitionBy("topic")`. Topic scans
  *     touch one directory — the moral equivalent of the reference's
  *     per-topic Map key / per-topic directory / `WHERE topic` index
  *     (reference: src/persistence.ts:281-288). Right for FEW, FAT topics.
  *   - `topicBuckets = Some(n)`: `partitionBy("topic_bucket")` where the
  *     bucket is a stable hash of the topic mod n; `topic` stays a data
  *     column with parquet min/max stats. Right for MANY topics — the
  *     event-sourcing pattern mints one topic per aggregate
  *     (`aggregate.<type>.<id>`, reference: src/sourcing.ts:272-274), and a
  *     per-topic directory layout would melt down at millions of
  *     aggregates (small files, listing cost, metastore pressure). A topic
  *     scan prunes to 1/n of the data by partition, then row-group stats on
  *     the sorted-ish topic column prune within the bucket.
  *
  * Appends are new files. Bulk [[append]]s run a Spark write job; the
  * pub/sub path ([[appendRows]]) commits driver-side, one Parquet file per
  * partition dir per group. Maintenance — retention ([[deleteEvents]],
  * [[enforceMaxEvents]]) and compaction ([[compact]], [[compactClustered]])
  * — rewrites one partition dir at a time through one primitive,
  * [[rewrite]]. Every write to the log holds the instance's monitor, so
  * none overlaps another.
  *
  * The log's commit manifest ([[LogManifest]], `_graft_log/`) is the one
  * source of its file set, as a Delta table's log is. Every write commits
  * through [[commit]]: its files are renamed into place from hidden names,
  * then one manifest record names them (an *add* record for an append, a
  * *replace* record for a rewrite, which then deletes the files it
  * removed). The record is the commit point. Batch reads ([[all]],
  * [[getEvents]], [[hasEvents]]) and rewrites scan the manifest's live set
  * through [[LogFileIndex]], and tailing subscriptions read its records
  * ([[graft.streaming.LogTailSource]]), so every reader sees a commit —
  * a group flush over several dirs, a rewrite — whole or not at all, and
  * no read lists the log. A data file that no record names is not in the
  * log; [[vacuum]] deletes it. A log first written by Spark jobs alone is
  * read through the record 0 its manifest seeds on first use.
  *
  * A scan that started before a rewrite's record and opens a file the
  * rewrite removed after its delete fails with a missing file, as a
  * tailing micro-batch does; the next read sees the rewrite.
  */
final class EventLog(
    spark: SparkSession,
    val path: String,
    val topicBuckets: Option[Int] = None) {
  import spark.implicits._

  def this(spark: SparkSession, path: String) = this(spark, path, None)

  private val BucketCol = "topic_bucket"

  // The bucketed layout carries its own pruning rule: any NON-EventLog way
  // of querying the table (`all` + DataFrame filters, SQL views) relies on
  // [[graft.plans.TopicBucketPruning]] to map `topic = 'x'` literals onto
  // the partition column. Installed once per session, no-op if the session
  // was already built with GraftExtensions.
  if (topicBuckets.isDefined) graft.plans.TopicBucketPruning.install(spark)

  private def fs: FileSystem =
    FileSystem.get(URI.create(path), spark.sparkContext.hadoopConfiguration)

  private val root = new Path(path)

  /** The log's commit manifest: every [[commit]] appends one record under
    * the log's monitor, after its files are in place.
    */
  private val manifest = new LogManifest(root, spark.sparkContext.hadoopConfiguration)

  /** Stable topic→bucket hash: first 8 hex chars of md5, mod n. Computed
    * identically driver-side (for scan pruning) and as a Column (for
    * writes) — no dependence on JVM/Spark hash implementations.
    */
  def bucketOf(topic: String): Int =
    topicBuckets.fold(0)(EventLog.bucketOf(topic, _))

  private def bucketColumn(topic: Column): Column = {
    val n = topicBuckets.get
    pmod(conv(substring(md5(topic.cast("binary")), 1, 8), 16, 10).cast("long"), lit(n))
      .cast("int")
  }

  /** Append events. Store-then-forward ordering (reference: src/topic.ts:112-115)
    * is structural here: the log IS the delivery source, so anything a
    * subscription sees has already been persisted.
    *
    * This is the bulk path (FileStoreImporter, JdbcEventStore): one Spark
    * write job, committed as one add record through [[commitStaged]].
    * Synchronized per log instance, as the reference's single JS event
    * loop serializes appends; the same monitor covers every [[appendRows]]
    * group flush, so a bulk append never overlaps one.
    */
  def append(events: Dataset[EventRow]): Unit = this.synchronized {
    commitStaged("", Nil) { staging =>
      topicBuckets match {
        case None =>
          events.write.partitionBy("topic").parquet(staging)
        case Some(_) =>
          events.toDF()
            .withColumn(BucketCol, bucketColumn(col("topic")))
            .write.partitionBy(BucketCol).parquet(staging)
      }
    }
  }

  /** Sidecar metadata so the bucket count travels WITH the table: readers
    * that never constructed an EventLog (SQL views, other sessions) still
    * get partition pruning via [[graft.plans.TopicBucketPruning]], which
    * reads this file. Underscore prefix keeps it invisible to parquet
    * directory listings (the `_SUCCESS` convention).
    */
  private def writeMetaIfAbsent(): Unit = topicBuckets.foreach { n =>
    val meta = new Path(path, graft.plans.TopicBucketPruning.MetaFile)
    if (!fs.exists(meta)) {
      val out = fs.create(meta, true)
      try out.write(s"""{"version":1,"topicBuckets":$n}""".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Callers waiting in [[appendRows]], in arrival order. Guarded by its own
    * monitor (never the log's), so callers can enqueue while a flush runs.
    */
  private val pending = new java.util.ArrayDeque[EventLog.PendingAppend]()
  private var flushRunning = false // guarded by `pending`
  private var lastFlushStart = System.nanoTime() - EventLog.FlushGapNanos // leader only
  private val flushes = new AtomicLong(0L)
  private val flushedRows = new AtomicLong(0L)
  private val flushNanos = new AtomicLong(0L)
  private val filesWritten = new AtomicLong(0L)

  /** Driver-side batch append — the pub/sub hot path, as a group commit.
    *
    * Each call enqueues its rows and waits. A waiting caller that finds no
    * flush running becomes the leader: it takes the log's monitor, drains
    * every pending batch (its own included) and commits them, in queue
    * order, as ONE [[commitDirect direct commit]], then completes every
    * drained caller with that commit's outcome. Concurrent publishers thus
    * share one commit per group (Drizzle's group scheduling applied to
    * commits); there is no background thread and no Spark job: a group is
    * a few rows of driver-local data, and a job's scheduling would cost
    * more than the write.
    *
    * Under load, flushes start at least [[EventLog.FlushGapNanos]] apart: a
    * leader that finds other callers already queued waits out the rest of
    * the gap since the last flush started, so the callers arriving
    * meanwhile join its group. Each flush writes one file per partition
    * dir, so files scale with flushes, not events; every file costs a
    * tailing stream a manifest entry and a file open. A lone caller never
    * waits.
    *
    * Contract:
    *   - returns only after the caller's own rows are visible;
    *   - all-or-nothing per group: if a write fails, every caller in the
    *     group gets its exception and none of the group's rows become
    *     visible, to batch readers and tailers alike ([[commit]]);
    *   - flushes hold the log's monitor, so they never overlap an
    *     `append(Dataset)` call, a maintenance [[rewrite]], a [[vacuum]] or
    *     another flush. A flush that arrives during a rewrite waits for it;
    *   - each group's files get one manifest add record, written after
    *     they are in place: the group's commit point.
    */
  def appendRows(events: Seq[EventRow]): Unit = {
    val mine = new EventLog.PendingAppend(events)
    var interrupted = false
    val lead = pending.synchronized {
      pending.addLast(mine)
      while (!mine.done && flushRunning) {
        // a caller whose rows are queued must learn their outcome: the
        // interrupt is kept for the caller, not acted on mid-wait
        try pending.wait() catch { case _: InterruptedException => interrupted = true }
      }
      if (!mine.done) flushRunning = true
      !mine.done
    }
    if (interrupted) Thread.currentThread().interrupt()
    if (lead) {
      awaitFlushGap()
      flushPending()
    }
    mine.failure.foreach(throw _)
  }

  /** The leader's wait before a flush: see [[appendRows]]. */
  private def awaitFlushGap(): Unit = {
    val wait = lastFlushStart + EventLog.FlushGapNanos - System.nanoTime()
    if (wait > 0 && queuedAppends > 1)
      try java.util.concurrent.TimeUnit.NANOSECONDS.sleep(wait)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
  }

  /** The leader's half of [[appendRows]]: drain under the log's monitor,
    * commit once, then release every drained caller with the outcome.
    */
  private def flushPending(): Unit = {
    var group = Vector.empty[EventLog.PendingAppend]
    var failure: Option[Throwable] = None
    try this.synchronized {
      group = pending.synchronized {
        Vector.fill(pending.size)(pending.pollFirst())
      }
      val rows = group.flatMap(_.rows)
      lastFlushStart = System.nanoTime()
      val files = commitDirect(rows)
      flushNanos.addAndGet(System.nanoTime() - lastFlushStart)
      flushes.incrementAndGet()
      flushedRows.addAndGet(rows.size.toLong)
      filesWritten.addAndGet(files.toLong)
    } catch { case t: Throwable => failure = Some(t) }
    finally pending.synchronized {
      group.foreach { p => p.failure = failure; p.done = true }
      flushRunning = false
      pending.notifyAll()
    }
  }

  /** Schema of a data file: the envelope minus the partition column
    * (`topic` in the per-topic layout; the bucketed layout keeps `topic` as
    * data), every field nullable — exactly what Spark's write job passes to
    * the Parquet writer, so both paths produce the same footer.
    */
  private val fileSchema: StructType = StructType(EventLog.encoder.schema.fields
    .filter(f => topicBuckets.isDefined || f.name != "topic")
    .map(_.copy(nullable = true)))

  /** Envelope → data-file row. Reuses one output row, so it is only called
    * under the log's monitor.
    */
  private lazy val fileRow: EventRow => InternalRow = {
    val toRow = EventLog.encoder.createSerializer()
    if (topicBuckets.isDefined) toRow
    else {
      val fields = EventLog.encoder.schema.fields
      val project = UnsafeProjection.create(fields.indices.collect {
        case i if fields(i).name != "topic" => BoundReference(i, fields(i).dataType, nullable = true)
      })
      (e: EventRow) => project(toRow(e))
    }
  }

  /** A topic's partition dir name, as Spark's committer names it: partition
    * values are Hive-escaped (':', '=', '%', … become `%XX`), and
    * event-sourcing topics are user-controlled (`aggregate.<type>.<id>`,
    * reference: src/sourcing.ts:272-274) — a raw `"topic=$topic"` would let
    * [[appendRows]] and [[append]] write different dirs, and point
    * [[rewrite]] at a dir neither wrote.
    */
  private def partitionDir(topic: String): String = topicBuckets match {
    case None => ExternalCatalogUtils.getPartitionPathString("topic", topic)
    case Some(_) => s"$BucketCol=${bucketOf(topic)}"
  }

  /** Commit a flushed group without a Spark job: its rows, grouped by
    * partition dir in queue order, each dir's rows as ONE Parquet file
    * written by Spark's own Parquet writer (`ParquetFileFormat.prepareWrite`
    * applies the session's Parquet confs — codec, `outputTimestampType`,
    * rebase modes, the row-metadata footer — as a write job would). Files
    * are written under a hidden name (`.part-…`) in their dirs, and only
    * after every file of the group has closed are they committed as one
    * add record ([[commit]]). Returns the files committed.
    *
    * A write that fails deletes the group's hidden files and rethrows; a
    * failed commit is as in [[commit]]. Either way, and after a crash, no
    * reader sees any of the group's rows, and no caller was told they
    * committed. A group spans several dirs whenever it holds several
    * topics (per-topic layout) or buckets (bucketed layout).
    */
  private def commitDirect(rows: Seq[EventRow]): Int = {
    if (rows.isEmpty) return 0
    val format = new ParquetFileFormat()
    val job = Job.getInstance(format.getHadoopConf(spark))
    val writers = format.prepareWrite(spark, job, Map.empty, fileSchema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}.c000${writers.getFileExtension(context)}"
    // (rows, hidden path, visible path) per partition dir, dirs in name order
    val files = rows.groupBy(e => partitionDir(e.topic)).toSeq.sortBy(_._1).map {
      case (dir, dirRows) =>
        val d = new Path(root, dir)
        (dirRows, new Path(d, "." + name), new Path(d, name))
    }
    var opened = 0
    val written = try files.map { case (dirRows, hidden, visible) =>
      opened += 1
      val out = writers.newInstance(hidden.toString, fileSchema, context)
      try dirRows.foreach(e => out.write(fileRow(e)))
      finally out.close()
      hidden -> LogFile(manifest.relative(visible), fs.getFileStatus(hidden).getLen, dirRows.size.toLong)
    } catch { case t: Throwable =>
      deleteQuietly(files.take(opened).map(_._2))
      throw t
    }
    commit(written, Nil)
    files.size
  }

  /** The one commit point of every write: rename each `(source, file)` to
    * `file`'s place in the log, append one manifest record that adds those
    * files and removes `removed`, then delete the removed files (and, in
    * the bucketed layout, write the sidecar the first time). If a
    * rename or the record fails, the files renamed so far and the sources
    * left are deleted and the error rethrown. A crash before the record
    * leaves renamed files that no record names, and one after it leaves
    * the removed files: neither is in the log, and [[vacuum]] deletes both.
    */
  private def commit(files: Seq[(Path, LogFile)], removed: Seq[String]): Unit = {
    var renamed = 0
    try {
      files.foreach { case (source, f) =>
        val target = manifest.resolve(f.path)
        if (!fs.rename(source, target)) throw new IOException(s"could not rename $source to $target")
        renamed += 1
      }
      if (files.nonEmpty || removed.nonEmpty) manifest.append(files.map(_._2), removed)
    } catch { case t: Throwable =>
      deleteQuietly(files.take(renamed).map(f => manifest.resolve(f._2.path)) ++ files.drop(renamed).map(_._1))
      throw t
    }
    deleteQuietly(removed.map(manifest.resolve))
    writeMetaIfAbsent()
  }

  /** Commit what one Spark write job writes: `write` fills a hidden staging
    * dir of the log (`.staging_…`, skipped by listings), and each staged
    * file with rows is [[commit]]ted under `into` plus its path below the
    * staging dir, the record removing `removed`. Only the staged files are
    * listed, and their footers read for row counts, so a commit costs
    * O(its files), not O(log). The staging dir is deleted either way; a
    * crash leaves it for [[vacuum]]. Returns the files added.
    */
  private def commitStaged(into: String, removed: Seq[String])(write: String => Unit): Seq[LogFile] = {
    val staging = new Path(root, s"${EventLog.StagingPrefix}${UUID.randomUUID()}")
    try {
      write(staging.toString)
      val below = manifest.relative(staging) + "/"
      val files = manifest.dataFiles(staging).map(s => s.getPath -> manifest.fileOf(s))
        .collect { case (p, f) if f.rows > 0 => p -> f.copy(path = into + f.path.stripPrefix(below)) }
      files.map(f => manifest.resolve(f._2.path).getParent).distinct.foreach(fs.mkdirs)
      commit(files, removed)
      files.map(_._2)
    } finally try fs.delete(staging, true) catch { case NonFatal(_) => () }
  }

  private def deleteQuietly(ps: Seq[Path]): Unit =
    ps.foreach(p => try fs.delete(p, false) catch { case NonFatal(_) => () })

  /** Lifetime committed [[appendRows]] flushes, the rows they wrote, the
    * wall time they took (the commit itself, not the wait for the monitor)
    * and the data files they left.
    */
  def totalFlushes: Long = flushes.get()
  def totalFlushedRows: Long = flushedRows.get()
  def totalFlushMillis: Long = flushNanos.get() / 1000000L
  def totalFilesWritten: Long = filesWritten.get()

  /** Lifetime manifest records this instance wrote, and how many of them
    * were [[rewrite]] replaces.
    */
  def totalManifestRecords: Long = manifest.recordsWritten
  def totalReplaceRecords: Long = manifest.replacesWritten

  /** Batches waiting for a flush right now. */
  private[graft] def queuedAppends: Int = pending.synchronized(pending.size)

  private def readSchema = topicBuckets match {
    case None => Event.schema
    case Some(_) => Event.schema.add(BucketCol, IntegerType, nullable = true)
  }

  /** The partition column of the layout. */
  private val partitionCol = topicBuckets.fold("topic")(_ => BucketCol)

  /** A scan of `files`, recorded files of this log, as a Parquet listing
    * of just them reads: the layout's partition column from their dirs,
    * unless none is in one (an empty log, or one that Spark jobs wrote
    * without partitioning).
    */
  private def scan(files: Seq[LogFile]): DataFrame = {
    val partitioned = files.exists(_.path.startsWith(partitionCol + "="))
    val (partitions, data) = readSchema.map(_.copy(nullable = true))
      .partition(f => partitioned && f.name == partitionCol)
    LogFileIndex.scan(spark, root, files, StructType(partitions), StructType(data))
  }

  private def allRaw: DataFrame = scan(manifest.live())

  /** Whole-log view (bucket column, if any, hidden — the public shape is
    * always the §1.2 envelope). Explicit schema: pinning it keeps partition
    * columns typed predictably.
    */
  def all: DataFrame = topicBuckets match {
    case None => allRaw
    case Some(_) => allRaw.drop(BucketCol)
  }

  /** One topic's rows with the layout-appropriate pruning predicate. */
  private def topicDF(topic: String): DataFrame = topicBuckets match {
    case None => allRaw.where($"topic" === topic)
    case Some(_) =>
      allRaw.where(col(BucketCol) === bucketOf(topic) && $"topic" === topic)
        .drop(BucketCol)
  }

  /** The reference's scan: filter(F1 ts-range, F2 type-set) → sort by
    * timestamp ASC (O1) → limit (O3) (reference: src/persistence.ts:37-68).
    * Equal-timestamp order is unspecified in the reference; we pin
    * (timestamp, id) so results are deterministic under shuffle.
    * Catalyst turns sort+limit into TakeOrderedAndProject (true top-k, no
    * global sort) and pushes every predicate to the parquet scan.
    */
  def getEvents(topic: String, opts: ScanOptions = ScanOptions()): DataFrame = {
    var df = topicDF(topic)
    opts.fromTimestamp.foreach(ms => df = df.where($"timestamp" >= timestampMillis(ms)))
    opts.toTimestamp.foreach(ms => df = df.where($"timestamp" <= timestampMillis(ms)))
    if (opts.eventTypes.nonEmpty) df = df.where($"type".isin(opts.eventTypes: _*))
    df = df.orderBy($"timestamp".asc, $"id".asc)
    opts.limit.fold(df)(df.limit)
  }

  def getEventsTyped(topic: String, opts: ScanOptions = ScanOptions()): Dataset[EventRow] =
    getEvents(topic, opts).as[EventRow]

  /** Any-match (reference: src/sourcing.ts:227-231 — `limit 1` then length
    * check). Spark short-circuits via CollectLimit.
    */
  def hasEvents(topic: String): Boolean =
    !topicDF(topic).limit(1).isEmpty

  /** Retention delete (reference: src/persistence.ts:74-93): drop events with
    * `timestamp < cutoff` in one topic, return the deleted count
    * (initialCount − remaining, reference: src/persistence.ts:83-91). A
    * [[rewrite]] of the topic's partition dir (its own dir, or its hash
    * bucket), skipped when nothing is old — at scale a per-partition
    * maintenance job, not a full-table rewrite.
    */
  def deleteEvents(topic: String, olderThanMillis: Long): Long = {
    // Cutoffs beyond the max representable timestamp (callers pass
    // Long.MaxValue for "delete everything") would overflow the epoch→
    // timestamp cast to null; make delete-all explicit instead of relying
    // on three-valued-logic null propagation.
    val isOld: Column =
      if (olderThanMillis > MaxSafeEpochMillis) lit(true)
      else $"timestamp" < timestampMillis(olderThanMillis)
    rewrite(topic) { part =>
      val isTopic = topicIn(topic)
      val before = part.where(isTopic).count()
      val kept = part.where(!(isTopic && isOld))
      val deleted = before - kept.where(isTopic).count()
      (Option.when(deleted > 0)(kept), deleted)
    }.fold(0L)(_._1)
  }

  /** Count-based retention: keep only the newest `maxEvents` events of a
    * topic (by the pinned (timestamp, id) order), return the deleted count.
    * The reference DECLARES this option but never enforces it
    * (`maxEvents` default 10000, reference: src/topic.ts:33; SURVEY.md §2.9
    * T9 "dead option") — this is the honest implementation, flagged as an
    * extension. Same [[rewrite]] as time-based retention.
    */
  def enforceMaxEvents(topic: String, maxEvents: Int): Long =
    rewrite(topic) { part =>
      val isTopic = topicIn(topic)
      val before = part.where(isTopic).count()
      if (before <= maxEvents) (None, 0L)
      else {
        // rank newest-first WITHIN each topic of the partition; non-target
        // topics (bucketed layout only) are never dropped (rn filter guarded).
        // Per-topic data carries no topic column, so its rank group is global.
        val grp: Column = topicBuckets.fold(lit("t"): Column)(_ => $"topic")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(grp).orderBy($"timestamp".desc, $"id".desc)
        val kept = part.withColumn("rn", row_number().over(w))
          .where(!isTopic || $"rn" <= maxEvents).drop("rn")
        // row_number numbers the topic's rows 1..before, so the filter
        // keeps exactly maxEvents of them
        (Some(kept), before - maxEvents)
      }
    }.fold(0L)(_._1)

  /** Small-file maintenance: rewrite one topic's partition (its own dir, or
    * its hash bucket) into `targetFiles` files. The pub/sub hot path
    * appends a file per publish batch (reference analog: one JSON file per
    * EVENT, reference: src/persistence.ts:143-144) — compaction is the
    * periodic job that keeps scan cost flat. Returns the file-count delta
    * of its replace record (files removed − files added).
    */
  def compact(topic: String, targetFiles: Int = 1): Long =
    relayout(topic)(_.coalesce(math.max(targetFiles, 1)))

  /** Z-ORDERED small-file maintenance: like [[compact]], but clusters the
    * rewritten files on the Morton interleave of up to three columns, so
    * file-level min-max stats prune point/range lookups on ANY clustered
    * dimension — not just the one a linear sort would favor. This is the
    * layout move that keeps a 100 TB log scannable: a (timestamp, type)
    * z-sort gives every file a bounded rectangle of both dimensions, so a
    * "type X in the last hour" scan skips most files on stats alone.
    *
    * Columns are normalized to a 10-bit bin first: numerics/timestamps by
    * min-max range (locality-preserving), strings by md5 hash (equal
    * values cluster; no order semantics to preserve). Bits interleave
    * round-robin; `repartitionByRange` + `sortWithinPartitions` on the
    * z-value makes each output file one contiguous z-range.
    */
  def compactClustered(topic: String, targetFiles: Int, clusterBy: Seq[String]): Long = {
    require(clusterBy.nonEmpty && clusterBy.size <= 3, "cluster by 1-3 columns")
    relayout(topic) { part =>
      val numeric = clusterBy.map { c =>
        part.schema(c).dataType match {
          case org.apache.spark.sql.types.StringType =>
            conv(substring(md5(col(c).cast("binary")), 1, 8), 16, 10).cast("double")
          case _ => col(c).cast("double")
        }
      }
      // one pass for the per-column ranges (a maintenance job can afford it)
      val aggs = numeric.zipWithIndex.flatMap { case (e, i) =>
        Seq(min(e).as(s"mn$i"), max(e).as(s"mx$i"))
      }
      val stats = part.agg(aggs.head, aggs.tail: _*).head()
      val bins = numeric.zipWithIndex.map { case (e, i) =>
        // an all-null cluster column (or an empty partition) has no range:
        // bin it constant-0 (the rewrite degrades to plain compaction on
        // that dimension)
        if (stats.isNullAt(2 * i)) lit(0L)
        else {
          val (mn, mx) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
          val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
          least(lit(1023L), floor((coalesce(e, lit(mn)) - mn) / span * 1024).cast("long"))
        }
      }
      val stride = bins.size
      val z = (0 until 10).flatMap { bit =>
        bins.zipWithIndex.map { case (b, i) =>
          shiftleft(shiftright(b, bit).bitwiseAND(lit(1L)), bit * stride + i)
        }
      }.reduce(_ bitwiseOR _)
      part.withColumn("__z", z)
        .repartitionByRange(math.max(targetFiles, 1), col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z") // post-sort projection is narrow: intra-partition order survives
    }
  }

  /** Settle what a crash left, by one rule: a data file that the live set
    * does not name is not in the log.
    *   - [[LogManifest.reconcile]] rewrites a torn record empty, records
    *     recorded files that are gone as removed, and deletes hidden
    *     debris in `_graft_log/`;
    *   - data files in the log's dirs that no record names are deleted: a
    *     flush's hidden `.part-*` files, the renamed files of a commit
    *     that died before its record (no caller was told they committed),
    *     and the files a rewrite that died after its record had removed;
    *   - orphaned `.staging_*` dirs of a Spark write job are deleted.
    * Returns the records repaired and the files and dirs deleted. Holds
    * the log's monitor, so it never meets an in-flight commit; safe
    * concurrently with reads, which read only the live set.
    */
  def vacuum(): Int = this.synchronized {
    if (!fs.exists(root)) return 0
    val repaired = manifest.reconcile()
    val live = manifest.live().map(_.path).toSet
    val (staging, other) = fs.listStatus(root).toSeq.partition(_.getPath.getName.startsWith(EventLog.StagingPrefix))
    val strays = other.filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filter(_.isFile) else Seq(s))
      .filterNot(s => live(manifest.relative(s.getPath)))
    repaired + staging.count(d => fs.delete(d.getPath, true)) + strays.count(f => fs.delete(f.getPath, false))
  }

  /** Storage layout report: one row per partition directory with file
    * count and byte sizes — the table a compaction scheduler (or a human)
    * reads to decide where [[compact]]/[[compactClustered]] is due. Read
    * from the manifest's live set: no listing, no data read.
    */
  def layoutReport(): DataFrame = {
    val rows = manifest.live().groupBy(f => f.path.take(math.max(f.path.lastIndexOf('/'), 0))).toSeq
      .collect { case (dir, files) if dir.contains("=") =>
        val sizes = files.map(_.size)
        (dir, sizes.size.toLong, sizes.sum, sizes.min, sizes.max)
      }
    spark.createDataFrame(rows)
      .toDF("partition", "n_files", "total_bytes", "min_file_bytes", "max_file_bytes")
      .orderBy(col("partition"))
  }

  /** The rows of `topic` within a partition's rows: all of them in the
    * per-topic layout, the `topic` column's match in a bucket.
    */
  private def topicIn(topic: String): Column =
    topicBuckets.fold(lit(true))(_ => $"topic" === topic)

  /** The one maintenance rewrite: replace the files of the partition dir
    * that holds `topic` (its own dir, or its hash bucket) with the rows `f`
    * keeps. Returns `f`'s result and the file-count delta of the rewrite
    * (files removed − files added, 0 when `f` keeps None); None, without
    * calling `f`, when the dir holds no file.
    *
    * `f` gets the dir's live files' rows (minus the partition column),
    * cached once for the whole call, and returns the rows to keep — or
    * None to leave the dir as it is — with its result. The kept rows are
    * one Spark write job, committed through [[commitStaged]] as one
    * replace record of the dir's files; the replaced files are then
    * deleted, and a dir left with no rows is removed. A tailing
    * subscription re-delivers nothing it already read (see
    * [[graft.streaming.LogTailSource]]).
    *
    * Holds the log's monitor from the snapshot to the record, as
    * [[append]], every [[appendRows]] flush and [[vacuum]] do: a commit
    * that landed in between would be lost with the replaced files.
    * Publishes to this log wait while a rewrite runs, as they wait for a
    * bulk append.
    */
  private def rewrite[T](topic: String)(f: DataFrame => (Option[DataFrame], T)): Option[(T, Int)] =
    this.synchronized {
      val dir = partitionDir(topic) + "/"
      val old = manifest.live().filter(_.path.startsWith(dir))
      if (old.isEmpty) None
      else {
        val part = scan(old).drop(partitionCol).cache()
        try {
          val (kept, result) = f(part)
          val delta = kept.fold(0) { df =>
            val added = commitStaged(dir, old.map(_.path))(df.write.parquet(_))
            if (added.isEmpty) fs.delete(new Path(root, dir), true)
            old.size - added.size
          }
          Some((result, delta))
        } finally part.unpersist()
      }
    }

  /** A [[rewrite]] that keeps every row, laid out by `layout`; returns its
    * file-count delta.
    */
  private def relayout(topic: String)(layout: DataFrame => DataFrame): Long =
    rewrite(topic)(part => (Some(layout(part)), ())).fold(0L)(_._2.toLong)

  private def timestampMillis(ms: Long) =
    (lit(ms) / 1000.0).cast("timestamp")

  /** 9999-12-31T23:59:59.999Z — anything later is treated as "no bound". */
  private val MaxSafeEpochMillis = 253402300799999L
}

object EventLog {
  def apply(spark: SparkSession, path: String): EventLog = new EventLog(spark, path)
  def bucketed(spark: SparkSession, path: String, buckets: Int): EventLog =
    new EventLog(spark, path, Some(buckets))

  private val encoder = ExpressionEncoder[EventRow]()

  /** Minimum spacing of [[EventLog.appendRows]] flushes under load: at most
    * 40 flushes a second per log, so at most 40 new files a second per
    * partition dir. A direct commit takes ~5–10 ms; this is a few of them.
    * Measured with the perfbench `pubsub` workload (4 publishers over 4
    * topics, one tailing stream, local[4] on a 4-core host):
    *   - with the listing file-stream source, no gap gave ~0.8 files per
    *     event at ~245 events/s and a stream that fell behind
    *     (publish→deliver p50 ~380 ms); with the gap, ~116 events/s at
    *     ~217 ms;
    *   - with the manifest source (5 alternating pairs, seeds 3211–3215),
    *     no gap gave 426 events/s and publish p50 7.9 ms, against 126
    *     events/s and 34.5 ms with the gap, but deliver p50 243 ms and p90
    *     367 ms, against 165 ms and 226 ms: worse in 5 of 5 pairs. The
    *     gap stays; it trades publish latency for delivery latency.
    */
  private val FlushGapNanos: Long = 25L * 1000000L

  /** Name prefix of a Spark write job's staging dir under the log root. */
  private val StagingPrefix = ".staging_"

  /** One [[EventLog.appendRows]] call waiting for its group's flush. */
  private final class PendingAppend(val rows: Seq[EventRow]) {
    var done = false                     // guarded by the log's queue
    var failure: Option[Throwable] = None // guarded by the log's queue
  }

  /** Stable topic→bucket hash: first 8 hex chars of md5, mod n. The single
    * definition shared by the writer (via the instance method / the
    * equivalent Column expression) and [[graft.plans.TopicBucketPruning]] —
    * pruning is only sound because both sides compute the identical value.
    */
  def bucketOf(topic: String, n: Int): Int = {
    val hex = MessageDigest.getInstance("MD5").digest(topic.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % n).toInt
  }
}
