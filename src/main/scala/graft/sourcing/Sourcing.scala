package graft.sourcing

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{Event, EventRow}
import graft.sources.EventLog

/** Event-sourced entity: state rebuilt by folding events in sequence
  * (reference: src/sourcing.ts:8-68). `version` counts applied events;
  * `rehydrate` resets then re-applies (reference: src/sourcing.ts:53-62).
  *
  * The fold hook `applyEvent` is user logic over typed state — the
  * reference's one true "UDAF" (SURVEY.md §2.11).
  */
abstract class EventSourcedEntity[S](initialState: S) extends Serializable {
  private val initial: S = initialState
  protected var state: S = initialState
  private var _version: Int = 0
  private val history = mutable.Buffer.empty[EventRow]

  def getState: S = state
  def getVersion: Int = _version
  def getEvents: Seq[EventRow] = history.toSeq

  protected def applyEvent(event: EventRow): Unit

  final def apply(event: EventRow): Unit = {
    applyEvent(event)
    history += event
    _version += 1
  }

  /** Reset, then re-apply in sequence. NOTE a deliberate divergence: the
    * reference resets history/version but NOT state (reference:
    * src/sourcing.ts:53-62) — unobservable through its repository (which
    * always folds on a factory-fresh instance, src/sourcing.ts:208-211) but
    * a double-fold footgun on a dirty entity. We reset state to the initial
    * value, which is the semantics `getById` observes either way (pinned by
    * the rehydrate-idempotence ScalaCheck law).
    */
  final def rehydrate(events: Seq[EventRow]): Unit = {
    history.clear()
    _version = 0
    state = initial
    events.foreach(apply)
  }
}

/** Aggregate root: entity + uncommitted-event journal
  * (reference: src/sourcing.ts:75-133). `recordEvent` stamps
  * {aggregateId, aggregateVersion} into metadata with the PRE-apply version
  * (reference: src/sourcing.ts:94-118), applies immediately, and buffers
  * for the repository to persist.
  */
abstract class AggregateRoot[S](val id: String, initialState: S)
    extends EventSourcedEntity[S](initialState) {

  private val uncommitted = mutable.Buffer.empty[EventRow]

  protected def recordEvent(eventType: String, payloadJson: String,
      metadata: Map[String, String] = Map.empty): Unit = {
    val event = EventRow(
      id = Event.generateId(),
      `type` = eventType,
      topic = s"aggregate.$id",
      timestamp = new Timestamp(System.currentTimeMillis()),
      schemaVersion = Event.DefaultSchemaVersion,
      payload = payloadJson,
      metadata = Map(
        "aggregateId" -> id,
        "aggregateVersion" -> getVersion.toString) ++ metadata)
    apply(event)
    uncommitted += event
  }

  def getUncommittedEvents: Seq[EventRow] = uncommitted.toSeq
  def markEventsAsCommitted(): Unit = uncommitted.clear()
}

/** Repository over the event log (reference: src/sourcing.ts:139-275).
  * Topic naming `aggregate.<type>.<id>` (reference: src/sourcing.ts:272-274).
  *
  * `getById` is the reference's path: partition-pruned scan of ONE topic,
  * ordered fold on the driver. `foldAll` is the Spark upgrade the reference
  * cannot express (SURVEY.md §3.3): every aggregate of the type rebuilt in
  * ONE distributed pass — groupByKey on aggregate id, per-group sort by
  * (timestamp, id) [the pinned tie-break law, SURVEY.md §7.2], then the
  * same user fold. No optimistic concurrency on save, matching the
  * reference (lost-update documented, SURVEY.md §3.3 step 3).
  */
final class EventSourcedRepository[A <: AggregateRoot[_] : scala.reflect.ClassTag](
    log: EventLog,
    aggregateType: String,
    factory: String => A) extends Serializable {

  private def topicName(id: String) = s"aggregate.$aggregateType.$id"

  def save(aggregate: A): Unit = {
    val events = aggregate.getUncommittedEvents
    if (events.nonEmpty) {
      // Route to the repository's topic (the aggregate stamps its own
      // `aggregate.<id>`; the repo owns type-qualified naming, as the
      // reference's repository does on save).
      log.appendRows(events.map(_.copy(topic = topicName(aggregate.id))))
      aggregate.markEventsAsCommitted()
    }
  }

  def getById(id: String): Option[A] = {
    val events = log.getEventsTyped(topicName(id)).collect()
    if (events.isEmpty) None
    else {
      val agg = factory(id)
      agg.rehydrate(events.toIndexedSeq)
      Some(agg)
    }
  }

  def exists(id: String): Boolean = log.hasEvents(topicName(id))

  def getEvents(id: String): Seq[EventRow] = log.getEventsTyped(topicName(id)).collect().toSeq

  def deleteEvents(id: String): Long = log.deleteEvents(topicName(id), Long.MaxValue)

  /** Streaming form of [[foldAll]]: a continuously-maintained aggregate
    * projection. Each micro-batch folds its new events INTO the aggregate
    * held in Spark's state store (serialized whole — aggregates are small
    * by design; a huge-state aggregate would snapshot instead), emitting
    * `f(aggregate)` for every aggregate that changed. Within a batch,
    * events fold in (timestamp, id) order; across batches, in arrival
    * order — the same law the reference's sequential appends give it.
    * Checkpointed: restarts resume the fold where it stopped. The stream
    * tails the log's commit manifest ([[graft.streaming.LogTailSource]]),
    * so a compaction or retention rewrite of events it already folded
    * does not fold them again.
    */
  def foldAllStreaming[R](spark: SparkSession)(f: A => R)(
      implicit enc: org.apache.spark.sql.Encoder[R]): Dataset[R] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    implicit val aggEnc: org.apache.spark.sql.Encoder[A] =
      org.apache.spark.sql.Encoders.javaSerialization[A]
    val prefix = s"aggregate.$aggregateType."
    val fac = factory
    graft.streaming.LogTailSource.reader(spark, log.path).load()
      .where($"topic".startsWith(prefix))
      .as[EventRow]
      .groupByKey(_.topic.stripPrefix(prefix))
      .mapGroupsWithState[A, R](GroupStateTimeout.NoTimeout()) {
        (id, events, state: org.apache.spark.sql.streaming.GroupState[A]) =>
          val agg = state.getOption.getOrElse(fac(id))
          events.toSeq.sorted(graft.model.Event.order).foreach(agg.apply)
          state.update(agg)
          f(agg)
      }
  }

  /** All aggregates of this type rebuilt in one distributed pass; `f`
    * projects each rehydrated aggregate to an encodable result. The
    * `(timestamp, id)` in-group sort makes the fold deterministic under
    * shuffle.
    */
  def foldAll[R](spark: SparkSession)(f: A => R)(
      implicit enc: org.apache.spark.sql.Encoder[R]): Dataset[R] = {
    import spark.implicits._
    val prefix = s"aggregate.$aggregateType."
    val fac = factory
    log.all
      .where($"topic".startsWith(prefix))
      .as[EventRow]
      .groupByKey(_.topic.stripPrefix(prefix))
      .mapGroups { (id, events) =>
        val agg = fac(id)
        agg.rehydrate(events.toSeq.sorted(graft.model.Event.order))
        f(agg)
      }
  }
}

/** Factory for repositories sharing one event log — the reference's
  * `RepositoryFactory` (src/sourcing.ts:281-302), which exists purely to
  * keep repository configuration (there the EventStore, here the
  * EventLog) consistent across aggregate types. Same shape: construct
  * with the shared store, mint per-type repositories from it.
  */
final class RepositoryFactory(log: EventLog) extends Serializable {

  /** Create a repository for `aggregateType` over the shared log
    * (reference: src/sourcing.ts:289-301; argument order follows the
    * reference's `(aggregateFactory, aggregateType)`).
    */
  def createRepository[A <: AggregateRoot[_] : scala.reflect.ClassTag](
      aggregateFactory: String => A,
      aggregateType: String): EventSourcedRepository[A] =
    new EventSourcedRepository[A](log, aggregateType, aggregateFactory)
}
