package graft.dlq

import java.sql.Timestamp
import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

import graft.model.{DeadLetterRow, Event, EventRow}
import graft.sources.DirSwap

/** Dead-letter queue contract (reference: src/types.ts:224-251): failed
  * events with error/subscription/attempts bookkeeping, filtered reads
  * sorted newest-first, retry via callback, removal by event id.
  */
trait DeadLetterQueue {
  /** Record a failed delivery (first failure ⇒ attempts = 1;
    * reference: src/deadletter.ts:19-34).
    */
  def addEvent(event: EventRow, error: String, subscriptionId: String): Unit

  /** Filtered, newest-first, optionally limited entries
    * (reference: src/deadletter.ts:39-72).
    */
  def getEvents(topic: Option[String] = None, eventType: Option[String] = None,
      limit: Option[Int] = None): Seq[DeadLetterRow]

  /** Re-run a failed event through `retryCallback(event, subscriptionId)`.
    * success → entry removed, true; callback false/throw → attempts+1,
    * timestamp refreshed, (on throw) error replaced, false
    * (reference: src/deadletter.ts:78-103).
    */
  def retryEvent(eventId: String, retryCallback: (EventRow, String) => Boolean): Boolean

  /** Remove by event id; false when absent (reference: src/deadletter.ts:108-112). */
  def removeEvent(eventId: String): Boolean
}

/** Driver-side in-memory DLQ — the reference's SimpleDeadLetterQueue
  * (reference: src/deadletter.ts:13-113). Used by unit tests and as the
  * live buffer of an in-process broker.
  */
final class InMemoryDeadLetterQueue extends DeadLetterQueue {
  private val entries = TrieMap.empty[String, DeadLetterRow]

  private def now() = new Timestamp(System.currentTimeMillis())

  override def addEvent(event: EventRow, error: String, subscriptionId: String): Unit =
    entries.put(event.id, DeadLetterRow(event, error, subscriptionId, now(), 1))

  override def getEvents(topic: Option[String], eventType: Option[String],
      limit: Option[Int]): Seq[DeadLetterRow] = {
    var es = entries.values.toSeq
    topic.foreach(t => es = es.filter(_.event.topic == t))
    eventType.foreach(t => es = es.filter(_.event.`type` == t))
    // newest first, ties by id descending — the Parquet and JDBC order
    es = es.sortBy(e => (e.timestamp.getTime, e.timestamp.getNanos, e.event.id)).reverse
    limit.filter(_ > 0).fold(es)(es.take)
  }

  override def retryEvent(eventId: String,
      retryCallback: (EventRow, String) => Boolean): Boolean =
    entries.get(eventId) match {
      case None => false
      case Some(entry) =>
        try {
          if (retryCallback(entry.event, entry.subscription)) {
            entries.remove(eventId); true
          } else {
            entries.put(eventId, entry.copy(attempts = entry.attempts + 1, timestamp = now()))
            false
          }
        } catch {
          case e: Exception =>
            entries.put(eventId,
              entry.copy(error = e.getMessage, attempts = entry.attempts + 1, timestamp = now()))
            false
        }
    }

  override def removeEvent(eventId: String): Boolean = entries.remove(eventId).isDefined

  def size: Int = entries.size

  /** The DLQ as a DataFrame — our engine's upgrade over the reference: the
    * queue is itself a queryable table (SURVEY.md §2.1 S6).
    */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.values.toSeq.toDS().toDF()
  }
}

/** Parquet-backed DLQ: the queue is an append-friendly Spark table, so DLQ
  * analytics (per-topic failure rates, error clustering) run as ordinary
  * queries at any scale. Point mutations (retry bookkeeping, removal) are
  * partition rewrites — fine for a queue whose contents should be rare;
  * a high-churn deployment would layer a merge-on-read log (SURVEY.md §2.1
  * S7: last-write-wins by (event_id, max attempts)).
  *
  * Mutations are synchronized on the instance, so an add never lands
  * between a rewrite's read and its swap. A rewrite swaps the table in
  * through [[DirSwap]], and a queue constructed after a crashed swap
  * settles it first: it reads the old entries or the new ones, never
  * neither.
  */
final class ParquetDeadLetterQueue(spark: SparkSession, path: String) extends DeadLetterQueue {
  import spark.implicits._

  private def fs = FileSystem.get(java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)

  private val live = new Path(path)

  DirSwap.recover(fs, live)

  private def exists = fs.exists(live)

  private def now() = new Timestamp(System.currentTimeMillis())

  def all: Dataset[DeadLetterRow] =
    if (!exists) spark.emptyDataset[DeadLetterRow]
    else spark.read.schema(Event.dlqSchema).parquet(path).as[DeadLetterRow]

  override def addEvent(event: EventRow, error: String, subscriptionId: String): Unit =
    this.synchronized {
      Seq(DeadLetterRow(event, error, subscriptionId, now(), 1))
        .toDS().write.mode(SaveMode.Append).parquet(path)
    }

  /** Bulk ingest — the scale path: a failed-delivery BATCH (e.g. a whole
    * micro-batch's failures) lands as one distributed append, not N
    * driver-side writes.
    */
  def addEvents(rows: Dataset[DeadLetterRow]): Unit = this.synchronized {
    rows.write.mode(SaveMode.Append).parquet(path)
  }

  /** Drop the queue's storage (test/fixture hygiene). */
  def reset(): Unit = this.synchronized { if (exists) fs.delete(live, true) }

  override def getEvents(topic: Option[String], eventType: Option[String],
      limit: Option[Int]): Seq[DeadLetterRow] =
    getEventsDF(topic, eventType, limit).as[DeadLetterRow].collect().toSeq

  /** The query form: filter → orderBy desc → limit, planned by Catalyst as
    * pushed-down parquet filters + TakeOrderedAndProject
    * (reference semantics: src/deadletter.ts:39-72).
    */
  def getEventsDF(topic: Option[String] = None, eventType: Option[String] = None,
      limit: Option[Int] = None): DataFrame = {
    var df = all.toDF()
    topic.foreach(t => df = df.where($"event.topic" === t))
    eventType.foreach(t => df = df.where($"event.type" === t))
    df = df.orderBy($"timestamp".desc, $"event.id".desc)
    limit.filter(_ > 0).fold(df)(df.limit)
  }

  override def retryEvent(eventId: String,
      retryCallback: (EventRow, String) => Boolean): Boolean = this.synchronized {
    val entry = all.where($"event.id" === eventId).collect().headOption
    entry match {
      case None => false
      case Some(e) =>
        val (remove, updated) =
          try {
            if (retryCallback(e.event, e.subscription)) (true, e)
            else (false, e.copy(attempts = e.attempts + 1, timestamp = now()))
          } catch {
            case ex: Exception =>
              (false, e.copy(error = ex.getMessage, attempts = e.attempts + 1, timestamp = now()))
          }
        if (remove) rewriteWithout(eventId, None) else rewriteWithout(eventId, Some(updated))
        remove
    }
  }

  override def removeEvent(eventId: String): Boolean = this.synchronized {
    val present = !all.where($"event.id" === eventId).isEmpty
    if (present) rewriteWithout(eventId, None)
    present
  }

  /** Rewrite the table minus `eventId`, optionally re-appending a replacement
    * row (attempts bookkeeping). Parquet can't overwrite a path it
    * reads, so the FILTERED
    * DATASET (the SURVEY §2.7 anti-join spelling) writes to a staging dir,
    * fully executor-side, and [[DirSwap.swap]] puts it in place. The r13
    * advisor flagged the previous driver-side collect: fine at fixture
    * scale, a driver bottleneck when a poisoned ingest dead-letters
    * millions of rows. Called under the instance's monitor.
    */
  private def rewriteWithout(eventId: String, replacement: Option[DeadLetterRow]): Unit = {
    val kept = all.where($"event.id" =!= eventId)
    val rewritten = replacement.fold(kept)(r => kept.unionAll(Seq(r).toDS()))
    rewritten.write.mode(SaveMode.Overwrite).parquet(DirSwap.staging(live).toString)
    DirSwap.swap(fs, live, keep = true)
  }
}
