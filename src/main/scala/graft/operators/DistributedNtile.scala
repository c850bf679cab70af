package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed `ntile(k)` — the q107 two-pass-rank treatment generalized,
  * so a quantile SCORE over a data-proportional table never plans the
  * single-task global sort that `ntile(k).over(Window.orderBy(...))`
  * compiles to.
  *
  * Law (exactly SQL-standard `ntile`): under the pinned total order
  * `(sortVal ASC, key ASC)` with `n` rows, `q = n div k`, `rem = n mod k`,
  * the first `rem` buckets carry `q+1` rows and the rest carry `q`:
  *
  *   bucket(r) = (r-1) div (q+1) + 1                  for r <= (q+1)*rem
  *             = rem + (r - (q+1)*rem - 1) div q + 1  otherwise
  *
  * which is hash-identical to `ntile(k)` for every `n`, including the
  * `n mod k != 0` tail (the naive `(r*k-1) div n + 1` is NOT — standard
  * ntile puts the LONG buckets first).
  *
  * Plan shape: all metrics are melted into one (metric, sortVal, key)
  * long table, range-partitioned on that triple (a total order — `key`
  * is unique per metric), ranked WITHIN partitions, and the global rank
  * recovered by adding broadcast per-(metric, partition) row-count
  * offsets. The only unpartitioned window runs over the offsets table —
  * ≤ shuffle-partitions × |metrics| rows, bounded by config, not data.
  * Descending metrics are expressed by negating `sortVal` (every metric
  * must cast to DOUBLE exactly; longs below 2^53 and doubles qualify).
  *
  * `sortVal` must be NON-NULL — enforced at build time. The negation
  * trick is where the law would otherwise break: Spark's default orders
  * are nulls-FIRST for ASC and nulls-LAST for DESC, so a nullable
  * descending metric spelled as a negated ascending sort would place its
  * nulls at the opposite end from `ntile(k).over(orderBy(col.desc))` and
  * silently diverge from the hash-identical claim. Callers with nullable
  * metrics must decide the null rank themselves (coalesce to a sentinel
  * below/above the domain) — an implicit default here would just hide
  * the choice.
  */
object DistributedNtile {

  /** One quantile-scored metric: `name` becomes column `<name>_score`;
    * `sortVal` is the ASCENDING sort value (negate for descending). */
  final case class Metric(name: String, sortVal: Column)

  /** Returns `df`'s key column plus `<name>_score` (INT, 1..k) per metric
    * plus the `carry` columns. `key` must be unique in `df` (it is the
    * ntile tiebreak); `carry` columns must be functionally dependent on
    * the key (one value per key). */
  def scores(df: DataFrame, key: String, k: Int, metrics: Seq[Metric],
      carry: Seq[String] = Nil): DataFrame = {
    val melted = df.select((col(key) +: carry.map(col)) :+
        explode(array(metrics.map(m =>
          struct(lit(m.name).as("metric"),
            m.sortVal.cast("double").as("sv"))): _*)).as("__mx"): _*)
      .withColumn("__metric", col("__mx.metric"))
      .withColumn("__sv", col("__mx.sv"))
      .drop("__mx")
    // MATERIALIZED before fan-out: `parts` feeds both the rank window and
    // the offsets aggregate, and correctness requires both consumers to
    // see the SAME physical range partitioning (spark_partition_id is
    // read per row). Exchange reuse usually guarantees that, but it is a
    // best-effort optimization — a re-instantiated RangePartitioner
    // re-samples boundaries (its seed derives from the RDD id) and the
    // two subtrees would disagree on __part. Caching pins one layout.
    val parts = melted
      .repartitionByRange(col("__metric"), col("__sv"), col(key))
      .withColumn("__part", spark_partition_id())
      .cache()
    parts.count()
    // null guard (see scaladoc): one cached-scan probe at build time —
    // a null sortVal would break ntile-law equivalence for descending
    // metrics, so it is rejected loudly, never ranked quietly.
    if (!parts.where(col("__sv").isNull).isEmpty)
      throw new IllegalArgumentException(
        "DistributedNtile: sortVal must be non-null for every row " +
          "(null ordering under negation diverges from the ntile law); " +
          "coalesce nullable metrics to an explicit sentinel first")
    val wLocal = Window.partitionBy(col("__part"), col("__metric"))
      .orderBy(col("__sv").asc, col(key).asc)
    val ranked = parts
      .withColumn("__lrk", row_number().over(wLocal).cast("long"))
    val wOff = Window.partitionBy(col("__metric")).orderBy(col("__part").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("__metric"), col("__part"))
      .agg(count(lit(1)).as("__m"))
      .withColumn("__off", coalesce(sum(col("__m")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__m"))
        .over(Window.partitionBy(col("__metric"))))
      .select(col("__metric"), col("__part"), col("__off"), col("__n"))
    val q = floor(col("__n") / lit(k)).cast("long")
    val rem = col("__n") % k
    val cut = (q + lit(1)) * rem
    val rk = col("__lrk") + col("__off")
    val bucket = when(rk <= cut, floor((rk - 1) / (q + lit(1))) + 1)
      .otherwise(rem + floor((rk - cut - 1) / q) + 1)
    val scored = ranked
      .join(broadcast(offsets), Seq("__metric", "__part"))
      .withColumn("__bucket", bucket.cast("int"))
    val scoreAggs = metrics.map(m =>
      max(when(col("__metric") === m.name, col("__bucket")))
        .as(s"${m.name}_score"))
    val carryAggs = carry.map(c => max(col(c)).as(c))
    val allAggs = scoreAggs ++ carryAggs
    scored.groupBy(col(key)).agg(allAggs.head, allAggs.tail: _*)
  }
}
