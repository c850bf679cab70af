package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.expressions.GraftFunctions
import graft.queries._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
  * surface) is declared in `queries`; SQL-expressible ones carry a DuckDB
  * oracle in `oracleSql` (same column names both sides — the driver's
  * compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by nation across the star schema — scan, broadcast joins,
    * hash aggregation in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc)
  }

  /** One entry per implemented operator from SURVEY.md §2 + the north-star
    * LLM-pipeline surface (dedup, similarity, text analysis, multimodal).
    * Every entry first installs graft's native functions in the session it
    * is handed (idempotent — a no-op after the first query), so no query
    * or helper in the pack registers them itself.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (CoreQueries.defs ++ AnalyticQueries.defs ++ ExtendedQueries.defs ++
      DedupQueries.defs ++ SimilarityQueries.defs ++ TextQueries.defs ++
      MultimodalQueries.defs ++ GraphQueries.defs ++ StreamingGateQueries.defs)
      .map { case (name, q) =>
        name -> { (s: SparkSession, dir: String) => GraftFunctions.register(s); q(s, dir) }
      }

  /** Queries whose bench cost is dominated by PROTOCOL — staging scratch
    * fixtures, draining checkpointed streams, Derby/JDBC sinks,
    * export/import and artifact-store side effects — rather than by query
    * derivation. Bench splits its totals on this set (the `gate_time`
    * metric line), so per-pass-cold numbers separate operator re-proof
    * (which a restarted deployment does not pay) from engine derivation
    * cost.
    *
    * NOT hand-trusted (r13): the per-call protocol primitives
    * ([[graft.operators.Scratch.withDir]], the streaming-gate drain) mark
    * [[graft.operators.ProceduralWork]], and ProceduralGateSpec asserts
    * this set EQUALS the set of queries that fire a marker during
    * cold-memo construction — a forgotten or stale tag fails CI instead
    * of silently skewing the gate/derivation split.
    */
  val proceduralGates: Set[String] = Set(
    "q121_incremental_rollup", // scratch log + two checkpointed runAvailable drains
    "q170_ivf_maintenance",
    "q178_streaming_neardup_gate", "q179_streaming_decontamination_gate",
    "q180_streaming_quantile_gate", "q182_streaming_dedup_gate",
    "q183_streaming_curation_gate", "q184_streaming_drift_gate",
    "q185_streaming_topk_gate", "q186_streaming_anomaly_gate",
    "q187_stream_correlate_gate", "q188_streaming_heartbeat_gate",
    "q193_streaming_ingest_funnel", "q195_stream_unanswered_gate",
    "q201_delivery_gate", "q202_dlq_retry_gate", "q203_streaming_asof_gate",
    "q204_streaming_sessionize_gate", "q206_idempotent_sink_gate",
    "q207_backfill_gate", "q211_stream_enrich_gate",
    "q248_shard_export_gate", "q249_jdbc_exactly_once_gate",
    "q251_filestore_import_gate", "q252_streaming_ivf_append_gate",
    "q253_artifact_lifecycle_gate", "q254_broker_lifecycle_gate",
    "q255_broker_surface_gate")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ AnalyticQueries.oracles ++ ExtendedQueries.oracles ++
      DedupQueries.oracles ++ SimilarityQueries.oracles ++ TextQueries.oracles ++
      MultimodalQueries.oracles ++ GraphQueries.oracles ++ StreamingGateQueries.oracles
}
