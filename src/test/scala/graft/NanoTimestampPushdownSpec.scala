package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Pins the scan-pruning contract for `events.ts` across BOTH physical
  * encodings the fixture has shipped with:
  *
  *   - native TIMESTAMP(MICROS): Spark's own parquet filter translation
  *     must carry the range predicates to the scan (no custom rule needed);
  *   - legacy nanos-as-long (covered here by a self-written int64 fixture
  *     routed through the same [[Tables.events]] door): range predicates on
  *     the DERIVED µs timestamp are opaque to the translator, so
  *     [[graft.plans.NanoTimestampPushdown]] must inject the implied bounds
  *     on the raw long — and those injected bounds must never change
  *     results.
  */
class NanoTimestampPushdownSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("ts range bounds reach the parquet scan as PushedFilters") {
    import spark.implicits._
    val plan = Tables.events(spark, dir)
      .where($"ts" >= lit("2024-01-05").cast("timestamp") &&
        $"ts" <= lit("2024-01-10").cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(ts"), s"no pushed ts lower bound:\n$plan")
    assert(plan.contains("LessThanOrEqual(ts"), s"no pushed ts upper bound:\n$plan")
  }

  test("range filter results agree with a full-scan reference") {
    import spark.implicits._
    val lo = java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli * 1000L
    val hi = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
    val expected = Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("us")).collect()
      .filter(r => r.getLong(1) >= lo && r.getLong(1) <= hi)
      .map(_.getLong(0)).sorted.toSeq
    val got = Tables.events(spark, dir)
      .where($"ts" >= lit("2024-01-05").cast("timestamp") &&
        $"ts" <= lit("2024-01-10").cast("timestamp"))
      .select($"event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("legacy nanos-long fixture: derived bounds are pushed and lossless") {
    import spark.implicits._
    val base = tmpDir("graft-nanos")
    try {
      // ts written as raw int64 nanoseconds — the shape nanosAsLong yields
      // for a TIMESTAMP(NANOS) column — through the same loader door
      val day = 86400L * 1000000000L
      val rows = (1L to 200L).map { i =>
        (i, java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond *
          1000000000L + i * (day / 10) + 1L, i % 7, s"t${i % 3}", i * 1.0, "{}")
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$base/events.parquet")

      val filtered = Tables.events(spark, base)
        .where($"ts" > lit("2024-01-05").cast("timestamp") &&
          $"ts" < lit("2024-01-10").cast("timestamp"))
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters"), plan)
      assert(plan.contains("GreaterThanOrEqual(ts"), s"no pushed bound from >:\n$plan")
      assert(plan.contains("LessThanOrEqual(ts"), s"no pushed bound from <:\n$plan")

      // injected bounds are advisory row-group pruning only — results must
      // equal a driver-side reference over the derived µs column
      val lo = java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli * 1000L
      val hi = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
      val expected = rows.filter { r =>
        val us = r._2 / 1000L; us > lo && us < hi
      }.map(_._1).sorted
      val got = filtered.select($"event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected && got.nonEmpty, s"got=$got expected=$expected")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
