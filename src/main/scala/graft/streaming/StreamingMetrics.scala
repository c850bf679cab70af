package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Operational observability for the streaming surface: a
  * [[StreamingQueryListener]] that folds every progress event into
  * per-query totals — batches, rows, processing rate, batch-duration
  * range, state-store rows/bytes — and exposes the ledger as a DataFrame
  * so the ops rollup is queryable with the same engine it monitors.
  *
  * The reference has no metrics surface at all (its only signal is
  * console logging); a broker running hundreds of
  * [[StreamingSubscription]]s needs exactly this table to spot a lagging
  * subscription before its DLQ does. Listener callbacks arrive on
  * Spark's listener bus thread — updates are synchronized and O(1) per
  * batch, so the monitor adds no load to the queries it watches.
  */
final class StreamingMetrics extends StreamingQueryListener {
  import StreamingMetrics.QueryStats

  private val stats = mutable.Map.empty[java.util.UUID, QueryStats]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    this.synchronized {
      stats(e.id) = QueryStats(Option(e.name).getOrElse(e.id.toString),
        0L, 0L, 0L, 0L, 0L, terminated = false, error = None)
    }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    this.synchronized {
      val p = e.progress
      stats.get(p.id).foreach { s =>
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val (srows, sbytes) = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
          .foldLeft((0L, 0L)) { case ((r, b), op) =>
            (r + op.numRowsTotal, b + op.memoryUsedBytes)
          }
        stats(p.id) = s.copy(
          batches = s.batches + 1,
          inputRows = s.inputRows + p.numInputRows,
          maxBatchDurationMs = math.max(s.maxBatchDurationMs, dur),
          stateRows = srows, stateBytes = sbytes)
      }
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    this.synchronized {
      stats.get(e.id).foreach(s =>
        stats(e.id) = s.copy(terminated = true, error = e.exception))
    }

  /** The ledger as a queryable frame (one row per query seen). */
  def snapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = this.synchronized { stats.values.toSeq }
    rows.map(s => (s.name, s.batches, s.inputRows, s.maxBatchDurationMs,
        s.stateRows, s.stateBytes, s.terminated, s.error.getOrElse("")))
      .toDF("query", "batches", "input_rows", "max_batch_ms",
        "state_rows", "state_bytes", "terminated", "error")
  }
}

object StreamingMetrics {

  final case class QueryStats(
      name: String,
      batches: Long,
      inputRows: Long,
      maxBatchDurationMs: Long,
      stateRows: Long,
      stateBytes: Long,
      terminated: Boolean,
      error: Option[String])

  /** Install a fresh monitor on the session's listener bus. */
  def install(spark: SparkSession): StreamingMetrics = {
    val m = new StreamingMetrics
    spark.streams.addListener(m)
    m
  }

  /** Detach a monitor installed with [[install]]. */
  def uninstall(spark: SparkSession, m: StreamingMetrics): Unit =
    spark.streams.removeListener(m)
}
