package graft.sources

import java.io.IOException
import java.net.URI
import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
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
  * [[rewrite]]; there are no transactions across dirs (a real deployment
  * would layer Delta/Iceberg for that — out of scope, semantics equal).
  * Every write to the log holds the instance's monitor, so none overlaps
  * another.
  *
  * Every commit also appends one record to the log's [[LogManifest]]
  * (`_graft_log/`): an *add* record for an append's files, a *replace*
  * record for a rewrite's. Batch reads list the partition dirs as before;
  * tailing subscriptions read only the manifest
  * ([[graft.streaming.LogTailSource]]), so a micro-batch costs O(new
  * commits), not O(log), and a rewrite re-delivers nothing. A log first
  * written by Spark jobs alone gets its manifest seeded from one listing.
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

  /** The log's commit manifest: every commit below appends one record
    * under the log's monitor, after its files are in place.
    */
  private val manifest = new LogManifest(new Path(path), spark.sparkContext.hadoopConfiguration)
  private var seeded = false // guarded by this

  /** Seed the manifest of a log that Spark jobs alone wrote, once per
    * instance, before this instance's first commit.
    */
  private def seedManifest(): Unit = if (!seeded) {
    manifest.seedIfAbsent()
    seeded = true
  }

  def exists: Boolean = fs.exists(new Path(path))

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
    * write job into a hidden staging dir of the log (`.staging_append-…`,
    * skipped by listings), then each staged file renamed into its
    * partition dir, then one manifest add record of those files. Only the
    * staged files are listed, and their footers read for row counts, so an
    * append costs O(its files), not O(log). Failure is as in
    * [[commitDirect]]: a failed rename or record deletes the files already
    * renamed, and a crash leaves renamed files for [[vacuum]] to record
    * and the staging dir for it to delete. Synchronized per log instance,
    * as the reference's single JS event loop serializes appends; the same
    * monitor covers every [[appendRows]] group flush, so a bulk append
    * never overlaps one.
    */
  def append(events: Dataset[EventRow]): Unit = this.synchronized {
    seedManifest()
    val root = new Path(path)
    val staging = DirSwap.staging(new Path(root, s"append-${UUID.randomUUID()}"))
    try {
      topicBuckets match {
        case None =>
          events.write.partitionBy("topic").parquet(staging.toString)
        case Some(_) =>
          events.toDF()
            .withColumn(BucketCol, bucketColumn(col("topic")))
            .write.partitionBy(BucketCol).parquet(staging.toString)
      }
      // (staged, visible, manifest entry) per file the job wrote
      val files = manifest.dataFiles(staging).map { s =>
        val name = manifest.relative(s.getPath).stripPrefix(staging.getName + "/")
        (s.getPath, manifest.resolve(name), manifest.fileOf(s).copy(path = name))
      }
      var renamed = 0
      try {
        files.foreach { case (staged, visible, _) =>
          fs.mkdirs(visible.getParent)
          if (!fs.rename(staged, visible)) throw new IOException(s"could not rename $staged to $visible")
          renamed += 1
        }
        if (files.nonEmpty) manifest.append(files.map(_._3), Nil)
      } catch { case t: Throwable =>
        files.take(renamed).foreach(f => try fs.delete(f._2, false) catch { case NonFatal(_) => () })
        throw t
      }
    } finally try fs.delete(staging, true) catch { case NonFatal(_) => () }
    fs.mkdirs(root)
    writeMetaIfAbsent()
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

  def appendDF(events: DataFrame): Unit =
    append(events.as[EventRow])

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
    *     visible (see [[commitDirect]] for a failure between two renames);
    *   - flushes hold the log's monitor, so they never overlap an
    *     `append(Dataset)` call, a maintenance [[rewrite]], a [[vacuum]] or
    *     another flush. A flush that arrives during a rewrite waits for it;
    *   - each group's files get one manifest add record, written after
    *     they are in place, so tailers see the group whole or not at all.
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
    * are written under a hidden name (`.part-…`, skipped by batch listings)
    * and renamed into place only after every file of the group has closed;
    * then one manifest add record names them, and tailing subscriptions
    * see them. Returns the files committed.
    *
    * Failure:
    *   - while writing: the group's hidden files are deleted and the error
    *     rethrown; no dir gains a visible file;
    *   - a rename or the manifest record fails: the files already renamed
    *     are deleted again with the rest, and the error rethrown. A batch
    *     reader that listed the log between two renames may have seen the
    *     earlier dirs' rows; a tailing subscription sees none;
    *   - the process dies between two renames, or before the record: the
    *     dirs renamed so far hold their rows and the rest keep hidden
    *     `.part-*` orphans; [[vacuum]] removes the orphans and records the
    *     renamed files. No caller returned, so none was told its rows
    *     committed. A group spans several dirs whenever it holds several
    *     topics (per-topic layout) or buckets (bucketed layout).
    */
  private def commitDirect(rows: Seq[EventRow]): Int = {
    val root = new Path(path)
    if (rows.isEmpty) { fs.mkdirs(root); return 0 }
    seedManifest()
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
    def deleteQuietly(ps: Seq[Path]): Unit =
      ps.foreach(p => try fs.delete(p, false) catch { case NonFatal(_) => () })
    var opened = 0
    try files.foreach { case (dirRows, hidden, _) =>
      opened += 1
      val out = writers.newInstance(hidden.toString, fileSchema, context)
      try dirRows.foreach(e => out.write(fileRow(e)))
      finally out.close()
    } catch { case t: Throwable =>
      deleteQuietly(files.take(opened).map(_._2))
      throw t
    }
    var renamed = 0
    try {
      val added = files.map { case (dirRows, hidden, visible) =>
        if (!fs.rename(hidden, visible)) throw new IOException(s"could not rename $hidden to $visible")
        renamed += 1
        LogFile(manifest.relative(visible), fs.getFileStatus(visible).getLen, dirRows.size.toLong)
      }
      manifest.append(added, Nil)
    } catch { case t: Throwable =>
      deleteQuietly(files.take(renamed).map(_._3) ++ files.drop(renamed).map(_._2))
      throw t
    }
    writeMetaIfAbsent()
    files.size
  }

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

  private def allRaw: DataFrame = spark.read.schema(readSchema).parquet(path)

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
    }.getOrElse(0L)
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
    }.getOrElse(0L)

  /** Small-file maintenance: rewrite one topic's partition (its own dir, or
    * its hash bucket) into `targetFiles` files. The pub/sub hot path
    * appends a file per publish batch (reference analog: one JSON file per
    * EVENT, reference: src/persistence.ts:143-144) — compaction is the
    * periodic job that keeps scan/listing cost flat. Returns the file-count
    * delta (before − after).
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

  /** Remove what a crash leaves between a write and its commit rename,
    * settle a crashed [[rewrite]] swap, and reconcile the manifest:
    *   - a partition dir's `.aside_*` copy is renamed back when the live
    *     dir is missing, and deleted when both exist ([[DirSwap.recover]]);
    *   - orphaned `.staging_*` directories of a [[rewrite]] are deleted;
    *   - hidden `.part-*` data files of an [[appendRows]] flush inside
    *     partition dirs are deleted;
    *   - committed data files the manifest lacks (a crash between a
    *     commit's renames and its record) are recorded, and recorded files
    *     that are gone are recorded as removed, one replace record per dir
    *     that lost files; a torn record is rewritten empty and hidden
    *     debris in `_graft_log/` is deleted ([[LogManifest.reconcile]]);
    *   - a bulk [[append]]'s `.staging_append-*` dir is deleted with the
    *     rewrites' staging dirs.
    * The rename is the commit point, so anything still under a hidden
    * staging name is uncommitted garbage that would otherwise accrete
    * forever. Returns the directories and files removed or renamed back,
    * the records repaired and the data files recorded.
    * Holds the log's monitor, so it never meets an in-flight flush or
    * rewrite; safe concurrently with reads (hidden names are invisible to
    * parquet listings). After a crash, run it before the log takes new
    * appends: an append into a partition whose live dir a crashed swap
    * left missing recreates the dir, and the aside copy would then be
    * taken for a finished swap's leftover.
    */
  def vacuum(): Int = this.synchronized {
    val root = new Path(path)
    if (!fs.exists(root)) return 0
    val settled = fs.listStatus(root).flatMap(d => DirSwap.liveOf(d.getPath))
      .count(DirSwap.recover(fs, _))
    val (staging, partitions) = fs.listStatus(root).filter(_.isDirectory)
      .partition(d => DirSwap.isStaging(d.getPath))
    val orphans = partitions.filter(_.getPath.getName.contains("="))
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(f => f.isFile && f.getPath.getName.startsWith(".part-"))
    settled + staging.count(d => fs.delete(d.getPath, true)) +
      orphans.count(f => fs.delete(f.getPath, false)) + manifest.reconcile()
  }

  /** Storage layout report: one row per partition directory with file
    * count and byte sizes — the table a compaction scheduler (or a human)
    * reads to decide where [[compact]]/[[compactClustered]] is due. A
    * pure filesystem-metadata listing (no data read); at object-store
    * scale the same listing comes from the store's inventory.
    */
  def layoutReport(): DataFrame = {
    val root = new Path(path)
    val rows: Seq[(String, Long, Long, Long, Long)] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).filter(_.isDirectory)
        .filter(d => d.getPath.getName.contains("="))
        .map { d =>
          val sizes = dataFiles(d.getPath).map(_.getLen)
          (d.getPath.getName, sizes.length.toLong,
            sizes.sum, if (sizes.isEmpty) 0L else sizes.min,
            if (sizes.isEmpty) 0L else sizes.max)
        }.toSeq
    spark.createDataFrame(rows)
      .toDF("partition", "n_files", "total_bytes", "min_file_bytes", "max_file_bytes")
      .orderBy(col("partition"))
  }

  /** The committed data files directly in `dir`; none if it is missing. */
  private def dataFiles(dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.getPath.getName.startsWith("part-"))

  /** The rows of `topic` within a partition's rows: all of them in the
    * per-topic layout, the `topic` column's match in a bucket.
    */
  private def topicIn(topic: String): Column =
    topicBuckets.fold(lit(true))(_ => $"topic" === topic)

  /** The one maintenance rewrite: replace the partition dir that holds
    * `topic` (its own dir, or its hash bucket) with the rows `f` keeps, and
    * return `f`'s result; None, without calling `f`, when the dir does not
    * exist.
    *
    * `f` gets the partition's rows as written on disk (minus the partition
    * column), cached once for the whole call, and returns the rows to keep
    * — or None to leave the dir as it is — with its result. The kept rows
    * are written to a staging dir and swapped in by [[DirSwap.swap]], so
    * the old rows stay under a name [[vacuum]] restores until the new ones
    * are in place. A dir left with no rows is removed. After the swap, one
    * manifest replace record names the files the dir lost and the files
    * that replaced them, so a tailing subscription re-delivers nothing it
    * already read (see [[graft.streaming.LogTailSource]]).
    *
    * Holds the log's monitor from the snapshot to the swap, as [[append]],
    * every [[appendRows]] flush and [[vacuum]] do: a commit that landed in
    * between would be lost with the old dir. Publishes to this log wait
    * while a rewrite runs, as they wait for a bulk append.
    */
  private def rewrite[T](topic: String)(f: DataFrame => (Option[DataFrame], T)): Option[T] =
    this.synchronized {
      seedManifest()
      val dir = new Path(path, partitionDir(topic))
      DirSwap.recover(fs, dir)
      if (!fs.exists(dir)) None
      else {
        val part = (topicBuckets match {
          case None => topicDF(topic).drop("topic")
          case Some(_) => allRaw.where(col(BucketCol) === bucketOf(topic)).drop(BucketCol)
        }).cache()
        try {
          val (kept, result) = f(part)
          kept.foreach { df =>
            val staging = DirSwap.staging(dir)
            df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
            // the staged files under their live names, rows from the
            // footers on the driver: no Spark job
            val added = dataFiles(staging).map(f => manifest.fileOf(f)
              .copy(path = manifest.relative(new Path(dir, f.getPath.getName))))
            val removed = dataFiles(dir).map(f => manifest.relative(f.getPath))
            val keep = added.exists(_.rows > 0)
            DirSwap.swap(fs, dir, keep)
            manifest.append(if (keep) added else Nil, removed)
          }
          Some(result)
        } finally part.unpersist()
      }
    }

  /** A [[rewrite]] that keeps every row, laid out by `layout`; returns the
    * data files the partition dir lost.
    */
  private def relayout(topic: String)(layout: DataFrame => DataFrame): Long =
    this.synchronized {
      val dir = new Path(path, partitionDir(topic))
      rewrite(topic)(part => (Some(layout(part)), dataFiles(dir).size))
        .fold(0L)(before => before - dataFiles(dir).size)
    }

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
