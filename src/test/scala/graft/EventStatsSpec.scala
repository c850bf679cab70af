package graft

import org.apache.spark.sql.functions._

/** Pins the claim EventStats makes in its doc comment: the session cache
  * `dailyTypeAgg` IS the table [[graft.operators.IncrementalRollup]]
  * maintains — build the rollup with the REAL operator machinery over the
  * same log (streamed in two increments, so the maintained path is
  * exercised, not just a batch recompute) and assert cell-for-cell
  * equality with the cache the daily-analytics queries read.
  */
class EventStatsSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("dailyTypeAgg == the IncrementalRollup-maintained daily table") {
    val base = tmpDir("evstats")
    val logDir = s"$base/log"
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"value", $"ts")
    val cut = ev.agg(expr("percentile(CAST(event_id AS DOUBLE), 0.5)"))
      .collect()(0).getDouble(0)
    val rollup = new graft.operators.IncrementalRollup(
      spark, logDir, s"$base/table", s"$base/ckpt", tsCol = "ts")(df =>
      df.groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).as("total_dec")))
    // two increments so maintenance (not one-shot recompute) is exercised
    ev.where($"event_id" <= cut).repartition(1).write.mode("append").parquet(logDir)
    rollup.runAvailable()
    ev.where($"event_id" > cut).repartition(1).write.mode("append").parquet(logDir)
    rollup.runAvailable()

    def key(r: org.apache.spark.sql.Row) =
      (r.getDate(0).toString, r.getString(1), r.getLong(2),
        r.getDecimal(3).toPlainString)
    val maintained = spark.read.parquet(s"$base/table")
      .select($"day", $"event_type", $"n", $"total_dec")
      .collect().map(key).toSet
    val cached = graft.queries.EventStats.dailyTypeAgg(spark, dir)
      .select($"day", $"event_type", $"n", $"total_dec")
      .collect().map(key).toSet
    assert(cached == maintained,
      "the shared cache equals the operator-maintained table, cell for cell")
    assert(cached.nonEmpty)
    graft.operators.ResultMemo.release(spark)
  }
}
