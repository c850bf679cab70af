package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.broker.{BoundedRetry, SubscriptionOptions}
import graft.dlq.DeadLetterQueue
import graft.model.{Event, EventRow}

/** Structured-Streaming delivery: each subscription is a StreamingQuery
  * tailing the event log (SURVEY.md §2.9 T1/T6/T10) — the scale path the
  * reference's in-process fan-out maps onto:
  *
  *   - store-then-forward is STRUCTURAL: the log is the only source, so a
  *     subscriber can only see persisted events (reference guarantees this
  *     by ordering two awaits, src/topic.ts:112-115)
  *   - `receiveHistoricalEvents=true` = start from the log's beginning —
  *     history and live unify in one ordered source, strictly better than
  *     the reference's racy async replay (src/topic.ts:70-86); with the
  *     reference default `false` (src/subscription.ts:27), a fresh
  *     subscription seeds its boundary at the log's current max timestamp
  *     and delivers only what is published after subscribe
  *   - pause/resume = stop + restart from the checkpoint: the gap replays,
  *     upgrading the reference's lossy pause (src/subscription.ts:62-73)
  *   - bounded retry inside foreachBatch honors `retryDelay` between
  *     attempts like the sync path (reference: src/subscription.ts:91-105),
  *     capped at [[StreamingSubscription.MaxRetrySleepMillis]] so a
  *     misconfigured delay cannot wedge a micro-batch; DLQ re-dispatch
  *     remains the long-delay path (SURVEY.md §7.2)
  *
  * Delivery is at-least-once across restarts (checkpointed foreachBatch) —
  * handlers must be idempotent on `event.id`, which the envelope provides.
  *
  * Backpressure: the ordered (default) delivery mode collects each
  * micro-batch to the driver to honor the reference's sequential-handler
  * law, so its micro-batches MUST be bounded — through r14 a caller who
  * set no cap got an unbounded AvailableNow drain that materialized the
  * whole backlog on the driver (fine on a test fixture, fatal on a deep
  * 100 TB log). Ordered mode therefore caps every micro-batch at
  * [[StreamingSubscription.DefaultOrderedMaxBytesPerTrigger]] per
  * micro-batch (overridable via
  * [[StreamingSubscription.OrderedMaxBytesKey]]), a bytes cap rather than
  * a file cap because driver memory is what the collect consumes and log
  * file sizes vary 1000× between a test append and a compacted segment.
  * The file source still admits at least one file per batch, so a single
  * over-cap file forms its own batch — the cap bounds batches at
  * max(cap, largest file), which is the file-granularity floor.
  * `ordered=false` switches to distributed delivery: handlers run inside
  * `mapPartitions` on executors (unordered across partitions, so the
  * reference's global ordering law is traded for throughput) and only
  * failures travel back to the driver for DLQ bookkeeping; it needs no
  * default cap (nothing but failures is collected).
  *
  * Checkpoint cost: every micro-batch, however small, writes 3 checkpoint
  * files (offsets, the file source's `sources` log, commits); see
  * [[graft.EngineSession]] for why those writes are fork-free.
  */
final class StreamingSubscription(
    spark: SparkSession,
    logPath: String,
    checkpointDir: String,
    handler: EventRow => Unit,
    dlq: DeadLetterQueue,
    topicName: Option[String] = None,
    options: SubscriptionOptions = SubscriptionOptions(),
    ordered: Boolean = true) {

  private val subscriptionId = options.name.getOrElse(Event.generateId())
  def id: String = subscriptionId
  @volatile private var query: Option[StreamingQuery] = None

  /** The filtered source stream: type/topic predicates are pushed into the
    * parquet file-stream scan by Catalyst, so a subscription reading one
    * topic never deserializes the rest of the log.
    */
  private def source: DataFrame = {
    val reader = spark.readStream.schema(Event.schema)
    // bound the driver-collected path (see class doc): bytes, not files,
    // because bytes are what the per-batch collect costs; distributed mode
    // collects only failures
    if (ordered)
      reader.option("maxBytesPerTrigger",
        spark.conf.get(StreamingSubscription.OrderedMaxBytesKey,
          StreamingSubscription.DefaultOrderedMaxBytesPerTrigger.toString))
    var df = reader.parquet(logPath)
    topicName.foreach(t => df = df.where(col("topic") === t))
    if (options.eventTypes.nonEmpty)
      df = df.where(col("type").isin(options.eventTypes: _*))
    startingBoundaryMicros().foreach(us =>
      df = df.where(col("timestamp") > timestamp_micros(lit(us))))
    df
  }

  /** Where delivery starts. `receiveHistoricalEvents=true` → None (beginning
    * of log). Otherwise the boundary is the SUBSCRIBED TOPIC's max event
    * timestamp at FIRST start (the global log max would let one topic's
    * clock-skewed future event silently swallow another topic's
    * post-subscribe publishes), persisted as a marker next to the
    * checkpoint so restarts keep the same boundary (the checkpoint itself
    * tracks progress past it). Kept in MICROSECONDS — timestamps carry µs
    * precision, and a millisecond boundary would re-deliver every
    * historical event inside the max event's millisecond. Same-instant
    * publishes racing the subscribe land on either side of the boundary —
    * the reference has the identical race on its wall-clock subscribe
    * instant.
    *
    * The boundary is EVENT-time, not arrival-time (the file source has no
    * streaming modifiedAfter): "historical" means "event-timestamped at or
    * before the topic's max at subscribe". Consequence to know about: a
    * post-subscribe append carrying a LAGGING event timestamp — a
    * clock-skewed second producer, or a backfill import — is classified
    * historical and not delivered. That is the right call for backfills
    * (imported history is exactly what `receiveHistoricalEvents=false`
    * opts out of); skewed producers that must be delivered need
    * `receiveHistoricalEvents=true` or broker-stamped timestamps (the
    * default publish path stamps at the broker, which cannot lag its own
    * subscribe).
    */
  private def startingBoundaryMicros(): Option[Long] = {
    if (options.receiveHistoricalEvents) return None
    val marker = new Path(checkpointDir, "GRAFT_START_BOUNDARY")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val persisted: Option[Long] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val txt =
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            StandardCharsets.UTF_8).trim
          finally in.close()
        // an empty/garbled marker (crash between create and write before the
        // writes went through .tmp+rename) recomputes rather than bricking
        // every future start()
        txt.toLongOption
      }
    if (persisted.isDefined) persisted
    else {
      val logFs = new Path(logPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val maxUs: Long =
        if (!logFs.exists(new Path(logPath))) 0L
        else {
          var scoped = spark.read.schema(Event.schema).parquet(logPath)
          topicName.foreach(t => scoped = scoped.where(col("topic") === t))
          val row = scoped.agg(max(col("timestamp"))).head()
          if (row.isNullAt(0)) 0L
          else {
            val ts = row.getTimestamp(0)
            ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
          }
        }
      // write-then-rename: a crash mid-write must not leave a truncated
      // marker behind (fs.create truncates eagerly)
      val tmp = new Path(checkpointDir, "GRAFT_START_BOUNDARY.tmp")
      val out = fs.create(tmp, true)
      try out.write(maxUs.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      fs.rename(tmp, marker)
      Some(maxUs)
    }
  }

  /** Start (or restart — the checkpoint resumes where delivery stopped).
    * `availableNow` processes the backlog then stops, which is both the
    * test mode and the scheduled-drain deployment mode.
    */
  def start(availableNow: Boolean = false): StreamingQuery = {
    val h = handler
    val maxRetries = options.maxRetries
    val sleepMs = math.min(math.max(options.retryDelayMillis, 0L),
      StreamingSubscription.MaxRetrySleepMillis)
    val d = dlq
    val subId = subscriptionId
    val orderedMode = ordered

    // One event through handler-with-retries; Some(error) when exhausted.
    // Shared by both delivery modes (serialized to executors in unordered).
    val deliverOne: EventRow => Option[String] = BoundedRetry.deliver(h, maxRetries, sleepMs)

    val writer = source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import batch.sparkSession.implicits._
        if (orderedMode) {
          // Per-batch ordered delivery on the driver mirrors the reference's
          // sequential handler loop; bounded by the ordered byte cap.
          // Sorted in the log's event order (Event.order).
          batch.as[EventRow].collect()
            .sorted(graft.model.Event.order)
            .foreach(event => deliverOne(event).foreach(err => d.addEvent(event, err, subId)))
        } else {
          // Distributed delivery: handlers run on executors; only failures
          // (rare by design) return to the driver, where DLQ bookkeeping
          // stays single-writer.
          val failed = batch.as[EventRow]
            .mapPartitions(_.flatMap(event => deliverOne(event).map(err => (event, err))))
            .collect()
          failed.foreach { case (event, err) => d.addEvent(event, err, subId) }
        }
        ()
      }
    val q = writer.start()
    query = Some(q)
    q
  }

  /** Drain everything currently in the log and stop — deterministic for
    * tests and batch-drain deployments.
    */
  def runAvailable(): Unit = {
    val q = start(availableNow = true)
    q.awaitTermination()
  }

  /** Checkpointed pause: state survives, the gap is replayed on resume
    * (semantics upgrade over the reference's lossy pause, SURVEY.md T10).
    */
  def stop(): Unit = { query.foreach(_.stop()); query = None }

  def isActive: Boolean = query.exists(_.isActive)
}

object StreamingSubscription {
  /** Upper bound on the per-attempt retry sleep inside a micro-batch; a
    * delay longer than this belongs in DLQ re-dispatch, not a blocked batch.
    */
  val MaxRetrySleepMillis: Long = 30000L

  /** Session conf key overriding the ordered-mode default micro-batch
    * byte cap (value parsed by the file source's `maxBytesPerTrigger`).
    */
  val OrderedMaxBytesKey: String = "spark.graft.delivery.ordered.maxBytesPerTrigger"

  /** Default per-micro-batch byte budget for ordered delivery (64 MB):
    * small enough that the driver-side collect of one batch is trivially
    * safe next to a normal driver heap, large enough that draining a
    * backlog is not micro-batch-commit-bound. Row footprint on the driver
    * exceeds on-disk parquet bytes (decompression + JVM object headers),
    * so the cap is deliberately a small fraction of a typical driver heap.
    */
  val DefaultOrderedMaxBytesPerTrigger: Long = 64L * 1024 * 1024
}
