package graft.broker

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

import graft.dlq.{DeadLetterQueue, InMemoryDeadLetterQueue}
import graft.model.{Event, EventRow}
import graft.schema.SchemaRegistry
import graft.sources.{EventLog, ScanOptions}

/** Per-topic options (reference: src/types.ts:81-101; defaults
  * src/topic.ts:30-34). `maxEvents` is declared-but-unenforced in the
  * reference (SURVEY.md §2.9 T9); we keep the field and enforce nothing,
  * matching observable behavior.
  */
final case class TopicOptions(
    persistent: Boolean = true,
    retentionPeriodMillis: Long = 0L, // 0 = keep forever
    maxEvents: Int = 10000,
    schemaRegistry: Option[SchemaRegistry] = None)

/** Subscription options (reference: src/types.ts:51-76; defaults
  * src/subscription.ts:26-30).
  */
final case class SubscriptionOptions(
    name: Option[String] = None,
    eventTypes: Seq[String] = Nil,
    receiveHistoricalEvents: Boolean = false,
    maxRetries: Int = 3,
    retryDelayMillis: Long = 1000L)

/** Publish outcome (reference: src/types.ts:126-146). */
final case class PublishResult(
    success: Boolean,
    eventId: String,
    receiverCount: Int,
    error: Option[String] = None)

/** A handler is the reference's EventHandler callback
  * (reference: src/types.ts:44-46).
  */
trait Subscription {
  def id: String
  def topicName: String
  def options: SubscriptionOptions
  def isActive: Boolean
  def pause(): Unit
  def resume(): Unit
  def deliver(event: EventRow): Unit
}

/** In-process subscription with bounded retry → DLQ
  * (reference: src/subscription.ts:7-108).
  *
  * Retry counting mirrors the reference exactly: attempt 1 is the first
  * delivery; retries happen while attempt < maxRetries, so a handler is
  * invoked maxRetries times in total before dead-lettering
  * (reference: src/subscription.ts:91-105).
  */
final class CallbackSubscription(
    val id: String,
    val topicName: String,
    handler: EventRow => Unit,
    dlq: DeadLetterQueue,
    val options: SubscriptionOptions) extends Subscription {

  @volatile private var active = true
  override def isActive: Boolean = active
  /** Lossy pause, as in the reference: events published while paused are
    * DROPPED for this subscriber, not queued (reference:
    * src/subscription.ts:62-81; SURVEY.md §2.9 T10). The streaming path
    * upgrades this to checkpointed stop/restart.
    */
  override def pause(): Unit = active = false
  override def resume(): Unit = active = true

  override def deliver(event: EventRow): Unit = {
    if (!active) return
    if (options.eventTypes.nonEmpty && !options.eventTypes.contains(event.`type`)) return
    BoundedRetry.deliver(handler, options.maxRetries, options.retryDelayMillis)(event)
      .foreach(err => dlq.addEvent(event, err, id))
  }
}

/** The bounded-retry law both delivery paths share (reference:
  * src/subscription.ts:91-105): invoke `handler` up to `maxRetries` times
  * in total (at least once), sleeping `sleepMs` between attempts. `None`
  * on success; when every attempt threw, `Some` of the last error message,
  * which the caller dead-letters. Partially applied, it is the serializable
  * per-event function streaming delivery ships to executors.
  */
object BoundedRetry {
  def deliver(handler: EventRow => Unit, maxRetries: Int, sleepMs: Long)(
      event: EventRow): Option[String] = {
    @annotation.tailrec def attempt(n: Int): Option[String] = {
      val error =
        try { handler(event); None }
        catch { case e: Exception => Some(Option(e.getMessage).getOrElse(e.toString)) }
      if (error.isEmpty || n >= maxRetries) error
      else { if (sleepMs > 0) Thread.sleep(sleepMs); attempt(n + 1) }
    }
    attempt(1)
  }
}

/** Lifetime publish/delivery counters shared by one broker's topics, in
  * events (a rejected or failed batch counts all of its events).
  */
final class BrokerCounters {
  val published = new AtomicLong(0L)
  val schemaRejected = new AtomicLong(0L)
  val persistFailed = new AtomicLong(0L)
  val deliveryErrors = new AtomicLong(0L)
}

/** A named channel over the shared event log (reference: src/topic.ts).
  * Where the reference owns an events array per topic, here a topic is a
  * VIEW: the `topic` partition of the log. Publish = validate → append to
  * the log (store-then-forward, reference: src/topic.ts:112-115) → fan out
  * to matching in-process subscriptions with per-subscription error
  * isolation (reference: src/topic.ts:117-143).
  */
final class Topic(
    val name: String,
    log: EventLog,
    dlq: DeadLetterQueue,
    val options: TopicOptions,
    counters: BrokerCounters = new BrokerCounters) {

  private val subs = new java.util.concurrent.ConcurrentHashMap[String, Subscription]()
  // Retry-only handlers: streaming subscriptions live OUTSIDE the sync
  // fan-out (their delivery is the StreamingQuery), but DLQ re-dispatch
  // still needs a handler keyed by subscription id (broker.ts:166-183).
  private val retryOnly = new java.util.concurrent.ConcurrentHashMap[String, EventRow => Unit]()

  def registerRetryHandler(id: String, handler: EventRow => Unit): Unit =
    retryOnly.put(id, handler)

  def retryHandler(id: String): Option[EventRow => Unit] = Option(retryOnly.get(id))

  def subscribe(handler: EventRow => Unit,
      opts: SubscriptionOptions = SubscriptionOptions()): Subscription = {
    val id = opts.name.getOrElse(Event.generateId())
    val sub = new CallbackSubscription(id, name, handler, dlq, opts)
    subs.put(id, sub)
    // Historical replay on subscribe (reference: src/topic.ts:70-86). The
    // reference races replay with live publishes; reading the log BEFORE
    // registering would miss concurrent publishes, after may double-deliver
    // — we read after registration, matching the reference's at-least-once
    // leaning for replay subscribers.
    if (opts.receiveHistoricalEvents) {
      log.getEventsTyped(name, ScanOptions(eventTypes = opts.eventTypes))
        .collect().foreach(sub.deliver)
    }
    sub
  }

  def unsubscribe(subscriptionId: String): Boolean = subs.remove(subscriptionId) != null

  def subscriptions: Seq[Subscription] = {
    import scala.jdk.CollectionConverters._
    subs.values().asScala.toSeq
  }

  /** Publish a batch: validate, persist, then fan out in the caller's
    * thread. The batch is one entry of the log's group commit
    * ([[EventLog.appendRows]]): concurrent publishers on the same log share
    * one commit, and this call returns only after the batch's own rows
    * have committed, so a single event is just a batch of one. Returns
    * receiverCount of the LAST event for parity with the reference's
    * per-event result (reference: src/topic.ts:101-144).
    */
  def publishBatch(events: Seq[EventRow]): Int = {
    // Validate first — reference throws before persisting (topic.ts:103-110).
    options.schemaRegistry.foreach { reg =>
      events.foreach { e =>
        if (!reg.validate(e)) {
          counters.schemaRejected.addAndGet(events.size.toLong)
          throw new IllegalArgumentException(s"Event validation failed for type ${e.`type`}")
        }
      }
    }
    if (options.persistent && events.nonEmpty) {
      try log.appendRows(events)
      catch { case t: Throwable =>
        counters.persistFailed.addAndGet(events.size.toLong)
        throw t
      }
    }
    counters.published.addAndGet(events.size.toLong)
    var receivers = 0
    events.foreach { e =>
      receivers = 0
      subscriptions.foreach { sub =>
        if (sub.options.eventTypes.isEmpty || sub.options.eventTypes.contains(e.`type`)) {
          receivers += 1
          // Per-subscription error isolation: a throwing subscriber never
          // fails the publish (reference: src/topic.ts:133-140). The
          // CallbackSubscription already swallows into the DLQ; this guard
          // covers non-callback implementations.
          try sub.deliver(e) catch { case ex: Exception =>
            counters.deliveryErrors.incrementAndGet()
            System.err.println(s"Error delivering event ${e.id} to subscription ${sub.id}: $ex")
          }
        }
      }
    }
    receivers
  }

  /** Retention sweep (reference: src/topic.ts:156-163) — explicit call here
    * rather than a timer: at scale this is a scheduled maintenance job.
    */
  def applyRetentionPolicy(): Long =
    if (options.persistent && options.retentionPeriodMillis > 0)
      log.deleteEvents(name, System.currentTimeMillis() - options.retentionPeriodMillis)
    else 0L
}

/** The broker: topic catalog + publish/subscribe/replay/DLQ-retry entry
  * points (reference: src/broker.ts:19-186). One EventLog (parquet,
  * partitioned by topic) replaces the reference's pluggable stores —
  * durability is the log's concern, semantics are identical (SURVEY.md
  * §7.0).
  */
final class EventBroker(
    val spark: SparkSession,
    logPath: String,
    val dlq: DeadLetterQueue = new InMemoryDeadLetterQueue) {

  val log = new EventLog(spark, logPath)
  private val topics = TrieMap.empty[String, Topic]
  private val counters = new BrokerCounters

  def createTopic(name: String, options: TopicOptions = TopicOptions()): Topic =
    topics.getOrElseUpdate(name, new Topic(name, log, dlq, options, counters))

  /** Publish this broker's delivery counters and its log's group-commit
    * and manifest counters (records written, of which maintenance
    * replaces) as gauges on a [[graft.operators.BatchMetrics]] ledger (the
    * [[RetentionScheduler.registerGauges]] pattern). Delivery errors are
    * failures a subscription's `deliver` let escape; handler failures it
    * retried or dead-lettered are the DLQ's to report.
    */
  def registerGauges(metrics: graft.operators.BatchMetrics): this.type = {
    metrics.gauge("broker.published")(() => counters.published.get())
    metrics.gauge("broker.schema_rejected")(() => counters.schemaRejected.get())
    metrics.gauge("broker.persist_failed")(() => counters.persistFailed.get())
    metrics.gauge("broker.delivery_errors")(() => counters.deliveryErrors.get())
    metrics.gauge("log.flushes")(() => log.totalFlushes)
    metrics.gauge("log.flushed_rows")(() => log.totalFlushedRows)
    metrics.gauge("log.flush_ms")(() => log.totalFlushMillis)
    metrics.gauge("log.files_written")(() => log.totalFilesWritten)
    metrics.gauge("log.manifest_records")(() => log.totalManifestRecords)
    metrics.gauge("log.replace_records")(() => log.totalReplaceRecords)
    this
  }

  def getTopic(name: String): Option[Topic] = topics.get(name)
  def deleteTopic(name: String): Boolean = topics.remove(name).isDefined
  def topicNames: Seq[String] = topics.keys.toSeq

  def subscribe(topicName: String, handler: EventRow => Unit,
      options: SubscriptionOptions = SubscriptionOptions()): Subscription =
    createTopic(topicName).subscribe(handler, options)

  /** Publish one event: envelope stamping exactly as the reference
    * (id, now, schemaVersion "1.0" — reference: src/broker.ts:100-108);
    * validation/persist errors are caught into the result
    * (reference: src/broker.ts:117-124).
    */
  def publish(topicName: String, eventType: String, payloadJson: String,
      metadata: Map[String, String] = Map.empty): PublishResult = {
    val event = EventRow(
      id = Event.generateId(),
      `type` = eventType,
      topic = topicName,
      timestamp = new Timestamp(System.currentTimeMillis()),
      schemaVersion = Event.DefaultSchemaVersion,
      payload = payloadJson,
      metadata = metadata)
    try {
      val receivers = createTopic(topicName).publishBatch(Seq(event))
      PublishResult(success = true, event.id, receivers)
    } catch {
      case e: Exception =>
        PublishResult(success = false, event.id, 0, Some(e.getMessage))
    }
  }

  /** Ordered, counted replay to an ad-hoc handler
    * (reference: src/broker.ts:144-161). The ordered `collect` mirrors the
    * reference's sequential awaited loop; pass `distributedHandler=true`
    * work through `log.getEvents(...).foreach` instead when order is free.
    */
  def replayEvents(topicName: String, handler: EventRow => Unit,
      options: ScanOptions = ScanOptions()): Long = {
    val events = log.getEventsTyped(topicName, options).collect()
    events.foreach(handler)
    events.length.toLong
  }

  /** Streaming subscription on this broker's log — the scale path of
    * [[subscribe]]: a checkpointed StreamingQuery tails the topic with
    * pushed-down filters, bounded retry and this broker's DLQ
    * (graft.streaming.StreamingSubscription).
    */
  def subscribeStreaming(topicName: String, checkpointDir: String,
      handler: EventRow => Unit,
      options: SubscriptionOptions = SubscriptionOptions()): graft.streaming.StreamingSubscription = {
    val sub = new graft.streaming.StreamingSubscription(
      spark, logPath, checkpointDir, handler, dlq, Some(topicName), options)
    // Route DLQ re-dispatch for this subscription id through the same
    // handler (retry-only — live delivery stays with the StreamingQuery).
    createTopic(topicName).registerRetryHandler(sub.id, handler)
    sub
  }

  /** DLQ re-dispatch (reference: src/broker.ts:166-183): look up the failed
    * event's subscription and re-deliver through it.
    */
  def retryDeadLetterEvent(eventId: String): Boolean =
    dlq.retryEvent(eventId, (event, subscriptionId) => {
      val topic = topics.getOrElse(event.topic,
        throw new IllegalStateException(
          s"Topic ${event.topic} not found for retry of event $eventId"))
      topic.subscriptions.find(_.id == subscriptionId) match {
        case Some(sub) => sub.deliver(event)
        case None =>
          val handler = topic.retryHandler(subscriptionId).getOrElse(
            throw new IllegalStateException(
              s"Subscription $subscriptionId not found for retry of event $eventId"))
          handler(event) // a throw here → retryEvent bumps attempts (deadletter.ts:93-103)
      }
      true
    })
}

/** Companion carrying the reference's module-level convenience singleton
  * `defaultBroker` (src/broker.ts:187: `export const defaultBroker =
  * new EventBroker()`). A Spark broker cannot be constructed eagerly at
  * module load — it needs a session and a log location — so the mirror
  * is a lazily-minted PER-SESSION default: first call creates a broker
  * over `spark.graft.defaultLogPath` (a scratch directory when unset,
  * deleted at JVM exit), later calls return the same instance, exactly
  * the sharing the reference's singleton exists to provide. Sessions
  * don't share a default (two sessions sharing one log path would be two
  * catalogs over one store — set the conf explicitly for that
  * deployment).
  */
object EventBroker {

  private val defaults = TrieMap.empty[SparkSession, EventBroker]

  /** The session's shared default broker (reference: src/broker.ts:187). */
  def defaultBroker(spark: SparkSession): EventBroker =
    defaults.getOrElseUpdate(spark, {
      val path = spark.conf.getOption("spark.graft.defaultLogPath").getOrElse(scratchLog())
      new EventBroker(spark, path)
    })

  private val scratchLogs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** Deletes the default brokers' scratch logs. Hadoop runs shutdown
    * hooks by priority, highest first: Spark's (which stop the session and
    * its streaming queries) run at FileSystem's + 30, so at FileSystem's
    * + 10 nothing writes into the logs any more, and the FileSystem cache
    * is still open.
    */
  private[graft] val deleteScratchLogs: Runnable =
    () => scratchLogs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))

  private lazy val deleteOnExit: Unit = org.apache.hadoop.util.ShutdownHookManager.get()
    .addShutdownHook(deleteScratchLogs, org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 10)

  private def scratchLog(): String = {
    deleteOnExit
    val d = java.nio.file.Files.createTempDirectory("graft-default-broker").toFile
    scratchLogs.add(d)
    d.toString
  }
}
