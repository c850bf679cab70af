package graft.streaming

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
  *   - the query reads the log's commit manifest through a
  *     [[LogTailSource]]: each micro-batch holds the commits made since the
  *     last one, found without listing the log. The manifest is the log's
  *     one file list, so a subscription delivers exactly the commits a
  *     batch read (`EventLog.getEvents`) sees: a group flush whole or not
  *     at all, and never the files of a write that died before its record
  *   - `receiveHistoricalEvents=true` = start from the log's beginning —
  *     history and live unify in one ordered source, strictly better than
  *     the reference's racy async replay (src/topic.ts:70-86); with the
  *     reference default `false` (src/subscription.ts:27), delivery starts
  *     at the manifest head at first start: everything committed after
  *     subscribe is delivered, in ARRIVAL order, whatever its event
  *     timestamp — what the reference's live fan-out delivers. A
  *     same-instant publish racing the subscribe lands on either side of
  *     the boundary, as in the reference. The first micro-batch is an
  *     empty one that ends at the boundary, so restarts keep it
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
  * Maintenance (retention, compaction) delivers nothing again: a rewrite's
  * manifest replace record stands for rows already read. Only a file that
  * a rewrite replaced before this subscription read it delivers the
  * rewritten dir's surviving rows, once, in the micro-batch that crosses
  * the rewrite; rows of that dir read before come again with them.
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
  * The source admits whole commits and at least one per batch, so a
  * single over-cap commit forms its own batch — the cap bounds batches at
  * max(cap, largest commit). The one exception is a backlog a rewrite
  * replaced before it was read: its batch runs through the rewrite's
  * record, so the rewritten dir is delivered once, whatever its size.
  * `ordered=false` switches to distributed
  * delivery: handlers run inside
  * `mapPartitions` on executors (unordered across partitions, so the
  * reference's global ordering law is traded for throughput) and only
  * failures travel back to the driver for DLQ bookkeeping; it needs no
  * default cap (nothing but failures is collected).
  *
  * Checkpoint cost: every micro-batch, however small, writes 2 checkpoint
  * files (offsets, commits); the source keeps nothing under `sources/`.
  * See [[graft.EngineSession]] for why those writes are fork-free. A
  * checkpoint written by Spark's file-stream source (before the manifest)
  * does not resume: start such a subscription from a new checkpoint.
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

  /** The filtered source stream: type/topic predicates are pushed into
    * each micro-batch's Parquet scan by Catalyst (the topic prunes
    * per-topic dirs), so a subscription reading one topic never
    * deserializes the rest of the log.
    */
  private def source: DataFrame = {
    val reader = LogTailSource.reader(spark, logPath)
      .option("startAtHead", !options.receiveHistoricalEvents)
    // bound the driver-collected path (see class doc): bytes, not files,
    // because bytes are what the per-batch collect costs; distributed mode
    // collects only failures
    if (ordered)
      reader.option("maxBytesPerTrigger",
        spark.conf.get(StreamingSubscription.OrderedMaxBytesKey,
          StreamingSubscription.DefaultOrderedMaxBytesPerTrigger.toString))
    var df = reader.load()
    topicName.foreach(t => df = df.where(col("topic") === t))
    if (options.eventTypes.nonEmpty)
      df = df.where(col("type").isin(options.eventTypes: _*))
    df
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
    * byte cap (a positive number of bytes).
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
