package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** The event envelope — the single row type of the engine's append-only log.
  *
  * Mirrors the reference's `Event<T>` (reference: src/types.ts:4-39): a fixed
  * envelope with a dynamic JSON payload. The payload stays a JSON string
  * (the reference JSON-stringifies at every persistence boundary,
  * reference: src/persistence.ts:144) and per-type schemas are applied on
  * demand by [[graft.schema.SchemaRegistry]].
  *
  * `timestamp` is a proper TimestampType rather than the reference's epoch
  * millis Long (reference: src/broker.ts:104) so that parquet min/max stats,
  * partition pruning and event-time watermarks all work natively.
  */
final case class EventRow(
    id: String,
    `type`: String,
    topic: String,
    timestamp: Timestamp,
    schemaVersion: String,
    payload: String,
    metadata: Map[String, String]
)

/** A dead-letter entry (reference: src/types.ts:151-176): the failed event
  * plus failure bookkeeping. Kept flat (event fields inlined under a struct)
  * so the DLQ table is itself a queryable event log.
  */
final case class DeadLetterRow(
    event: EventRow,
    error: String,
    subscription: String,
    timestamp: Timestamp,
    attempts: Int
)

object Event {

  /** Envelope schema (SURVEY.md §1.2). Fixed; payload dynamic as JSON text. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("schemaVersion", StringType, nullable = false),
    StructField("payload", StringType, nullable = false),
    StructField("metadata", MapType(StringType, StringType), nullable = true)
  ))

  val dlqSchema: StructType = StructType(Seq(
    StructField("event", schema, nullable = false),
    StructField("error", StringType, nullable = false),
    StructField("subscription", StringType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("attempts", IntegerType, nullable = false)
  ))

  val DefaultSchemaVersion = "1.0" // reference: src/broker.ts:105

  /** The log's event order: the FULL timestamp (sub-millisecond part
    * included), then id — the `(timestamp, id)` order of
    * `EventLog.getEvents`/`replayEvents`, for code that orders rows on
    * the JVM (aggregate folds, ordered streaming delivery).
    */
  val order: Ordering[EventRow] =
    Ordering.by((e: EventRow) => (e.timestamp.getTime, e.timestamp.getNanos, e.id))

  private val idCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Event id: `<epochms base36, 9 chars>-<counter 6>-<random 8 hex>`.
    *
    * The reference formats `<epochms base36>-<11 hex>-<counter>` with a
    * per-call-closure bug that pins the counter at "000001"
    * (reference: src/utils.ts:13-40). Ours keeps the time-prefixed shape but
    * makes the counter actually monotonic, which buys a property the engine
    * relies on: ids are lexicographically CHRONOLOGICAL within a process, so
    * the pinned `(timestamp, id)` replay order (SURVEY.md §7.2) degrades to
    * publish order on same-millisecond ties instead of random UUID order.
    * Distributed batch writers use Spark's `uuid()` instead — uniqueness
    * without coordination; per-partition ordering comes from the sort.
    */
  def generateId(): String = {
    val ts = java.lang.Long.toString(System.currentTimeMillis(), 36).reverse.padTo(9, '0').reverse
    val counter = f"${idCounter.getAndIncrement() % 1000000}%06d"
    val rand = f"${scala.util.Random.nextInt(Int.MaxValue)}%08x"
    s"$ts-$counter-$rand"
  }
}
