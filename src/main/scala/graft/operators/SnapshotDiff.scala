package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-level diff of two corpus snapshots — the CDC primitive behind
  * "what changed between dataset v1 and v2": per-key status
  * `added | removed | changed | unchanged`, where change is detected by
  * content hash, never by comparing bodies.
  *
  * Scale shape (100 TB): each side is reduced IN ITS SCAN PROJECTION to
  * (key, md5) — 16 bytes of content identity per row — so the full-outer
  * join shuffles key+hash only; document bodies never move. With both
  * snapshots bucketed by key (the layout [[graft.sources.BucketedEventLog]]
  * models) the join is co-partitioned and the diff is shuffle-free. The
  * reference's closest surface is version stamping on the event-sourcing
  * fold (reference: src/sourcing.ts — versions order a single entity's
  * history); this is the corpus-level, set-at-a-time counterpart.
  */
object SnapshotDiff {

  /** Diff `v1` → `v2` on `key`, with change detected via md5 of
    * `contentCol`. Returns one row per key present in either snapshot:
    * (key, status).
    */
  def diff(v1: DataFrame, v2: DataFrame, key: String, contentCol: String): DataFrame = {
    val h1 = v1.select(col(key).as("__k"), md5(col(contentCol).cast("binary")).as("__h1"))
    val h2 = v2.select(col(key).as("__k"), md5(col(contentCol).cast("binary")).as("__h2"))
    h1.join(h2, Seq("__k"), "full_outer")
      .select(col("__k").as(key),
        when(col("__h2").isNull, "removed")
          .when(col("__h1").isNull, "added")
          .when(col("__h1") === col("__h2"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** The rollup a pipeline dashboard reads: per-`dim` × status counts.
    * `dims` joins back on `key` (e.g. language, source) — kept OUT of the
    * diff join itself so the wide columns ride a second narrow join
    * instead of fattening the full-outer shuffle.
    */
  def summary(v1: DataFrame, v2: DataFrame, key: String, contentCol: String,
      dims: DataFrame): DataFrame =
    diff(v1, v2, key, contentCol)
      .join(dims, key)
      .groupBy(dims.columns.toIndexedSeq.filterNot(_ == key).map(col) :+ col("status"): _*)
      .agg(count(lit(1)).as("n"))

  /** The SHIPPABLE delta from v1 to v2: upserted rows (added/changed)
    * carry v2's full payload, removals carry the key with a null payload
    * and status `removed`; unchanged rows are absent. At 100 TB this is
    * what actually moves between sites — the delta is proportional to the
    * churn, never to the corpus.
    */
  def delta(v1: DataFrame, v2: DataFrame, key: String, contentCol: String): DataFrame = {
    val d = diff(v1, v2, key, contentCol)
    val upserts = d.where(col("status").isin("added", "changed"))
      .join(v2, key)
      .select(Seq(col(key), col("status")) ++
        v2.columns.filterNot(_ == key).map(col): _*)
    val removals = d.where(col("status") === "removed")
      .select(Seq(col(key), col("status")) ++
        v2.columns.filterNot(_ == key)
          .map(c => lit(null).cast(v2.schema(c).dataType).as(c)): _*)
    upserts.unionByName(removals)
  }

  /** Reconstruct v2 by applying a [[delta]] to v1 — the convergence law
    * `applyDelta(v1, delta(v1, v2)) == v2` (pinned by SnapshotDiffSpec).
    * One anti-join (drop keys the delta touches) plus the delta's
    * upserts: both legs co-partition on the key.
    */
  def applyDelta(v1: DataFrame, deltaDf: DataFrame, key: String): DataFrame = {
    val untouched = v1.join(deltaDf.select(col(key)).distinct(), Seq(key), "left_anti")
    val upserts = deltaDf.where(col("status") =!= "removed").drop("status")
    untouched.unionByName(upserts.select(v1.columns.toIndexedSeq.map(col): _*))
  }
}
