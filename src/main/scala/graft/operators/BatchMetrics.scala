package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Batch-side ops ledger — the [[graft.streaming.StreamingMetrics]]
  * counterpart for batch queries: a `QueryExecutionListener` folding every
  * completed action into per-action rows (wall nanos, output rows where
  * the plan reports them, scan/shuffle byte totals from the executed
  * plan's SQL metrics), exposed as a DataFrame.
  *
  * Why metrics come from the EXECUTED PLAN: Spark's SQL metrics live on
  * physical operators after an action; summing `numOutputRows` of scan
  * nodes and `shuffleBytesWritten`/`dataSize` of exchanges gives the two
  * numbers capacity planning actually needs — how much was read, how much
  * moved. Listener overhead is one plan walk per action, zero per row.
  */
final class BatchMetrics extends QueryExecutionListener {
  import BatchMetrics.{ActionStats, MaxActions}

  /** The newest [[MaxActions]] actions, oldest first: a listener lives as
    * long as its session, so the ledger is bounded. */
  private val log = mutable.ArrayDeque.empty[ActionStats]

  private def fold(funcName: String, qe: QueryExecution, durationNs: Long,
      failed: Boolean): Unit = {
    var scanRows = 0L
    var shuffleBytes = 0L
    // plan.foreach does NOT descend into AQE's materialized stages — walk
    // through AdaptiveSparkPlanExec/QueryStageExec wrappers explicitly
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      val n = p.nodeName.toLowerCase
      if (n.contains("scan"))
        scanRows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      if (n.contains("exchange") || n.contains("shuffle"))
        shuffleBytes += p.metrics.get("shuffleBytesWritten")
          .orElse(p.metrics.get("dataSize")).map(_.value).getOrElse(0L)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(qe.executedPlan)
    this.synchronized {
      log += ActionStats(funcName, durationNs / 1000000L, scanRows, shuffleBytes, failed)
      if (log.size > MaxActions) log.removeHead()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    fold(funcName, qe, durationNs, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    fold(funcName, qe, 0L, failed = true)

  /** The ledger as a queryable frame (one row per retained action). */
  def snapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    this.synchronized { log.toSeq }
      .map(s => (s.action, s.wallMs, s.scanRows, s.shuffleBytes, s.failed))
      .toDF("action", "wall_ms", "scan_rows", "shuffle_bytes", "failed")
  }

  /** Registered health gauges — point-in-time reads a deployment alarms
    * on through the SAME ledger it already scrapes, instead of grepping
    * component logs. First wired client: the retention scheduler's
    * `drainingSweeps` residue counter (r14 verdict #6 — nonzero means a
    * disarmed scheduler's sweep still holds the log's rewrite window).
    * Readers are evaluated at [[gauges]] time; one that throws reports
    * -1 rather than failing the snapshot (an alarm surface must not die
    * with the component it watches).
    */
  private val gaugeReaders =
    new java.util.concurrent.ConcurrentHashMap[String, () => Long]()

  /** Register (or replace) a named gauge; returns this for chaining. */
  def gauge(name: String)(read: () => Long): this.type = {
    gaugeReaders.put(name, read)
    this
  }

  /** Current value of every registered gauge (one row each). */
  def gauges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    gaugeReaders.asScala.toSeq.sortBy(_._1)
      .map { case (n, f) => (n, try f() catch { case _: Exception => -1L }) }
      .toDF("gauge", "value")
  }
}

object BatchMetrics {

  final case class ActionStats(
      action: String,
      wallMs: Long,
      scanRows: Long,
      shuffleBytes: Long,
      failed: Boolean)

  /** How many of the newest actions the ledger keeps. */
  val MaxActions = 10000

  def install(spark: SparkSession): BatchMetrics = {
    val m = new BatchMetrics
    spark.listenerManager.register(m)
    m
  }

  def uninstall(spark: SparkSession, m: BatchMetrics): Unit =
    spark.listenerManager.unregister(m)
}
