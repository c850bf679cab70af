package graft.operators

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Idempotent backfill of a partitioned derived table — the maintenance
  * move every event pipeline eventually needs: "recompute days X..Y of
  * the rollup" after late data, a bug fix, or a schema change, without
  * touching any other partition and without double-writing on retry.
  *
  * Mechanics: Spark's dynamic partition overwrite replaces exactly the
  * partitions present in the written frame. Backfill constrains that
  * frame to the requested range ON BOTH SIDES — the transform's output
  * is filtered to [from, to] so a buggy transform cannot clobber
  * partitions outside its mandate, and the overwrite is atomic per
  * partition (staging + rename inside the committer). Two corners make
  * the "re-runs converge" claim actually hold:
  *
  *   - the filtered output is persisted before the count + write, so a
  *     nondeterministic transform cannot write rows that differ from
  *     the returned count (both actions read the same materialization);
  *   - a partition INSIDE the mandate whose recomputed output is EMPTY
  *     is explicitly deleted after the overwrite — dynamic overwrite
  *     alone would silently retain its stale rows, because it only
  *     touches partitions present in the written frame.
  *
  * At 100 TB this is the same shape: the source scan prunes to the range
  * (partition/row-group pruning on the time predicate), the rewrite
  * touches only the affected partition directories, and the stale-sweep
  * is a metadata listing of the in-range dirs.
  */
object Backfill {

  /** Recompute `partitionCol ∈ [from, to]` of the derived table at
    * `tablePath` using `transform` over `source`, leaving every other
    * partition byte-identical. Returns the number of rows written.
    */
  def replaceRange(spark: SparkSession, source: DataFrame, tablePath: String,
      partitionCol: String, from: String, to: String)
      (transform: DataFrame => DataFrame): Long =
    replaceMatching(spark, source, tablePath, partitionCol,
      col(partitionCol) >= from && col(partitionCol) <= to)(transform)

  /** Recompute an explicit SET of partition values in ONE job — the
    * incremental-rollup shape: a micro-batch touches k possibly-scattered
    * days, and one pruned scan + one dynamic overwrite heals exactly
    * those partitions. Unlike spanning them with [[replaceRange]] over
    * min..max, untouched partitions BETWEEN the values are left
    * byte-identical (their mandate was never granted), and unlike k
    * per-day jobs the source is scanned once — the shape that matters at
    * scale, where a late-data batch touches a handful of days across a
    * wide span. Returns the number of rows written.
    *
    * CONTRACT — `transform` must be partition-pure in `partitionCol`:
    * each output row may depend only on input rows of its own partition
    * value (in practice, `partitionCol` is in every grouping). The
    * mandate filter below guards the OUTPUT side (a row outside
    * `values` is dropped, so no out-of-mandate partition is clobbered),
    * but it cannot detect a transform whose in-mandate rows were
    * COMPUTED from other values' rows in the shared scan — such a
    * transform gets different results here than from k per-value
    * [[replaceRange]] calls, and only the caller can know which it
    * meant. Same contract as `IncrementalRollup.refreshDays`, which
    * delegates here.
    */
  def replaceValues(spark: SparkSession, source: DataFrame, tablePath: String,
      partitionCol: String, values: Seq[String])
      (transform: DataFrame => DataFrame): Long =
    if (values.isEmpty) 0L
    else replaceMatching(spark, source, tablePath, partitionCol,
      col(partitionCol).cast("string").isin(values: _*))(transform)

  /** Shared mechanics: recompute the partitions matching `mandate`,
    * atomically per partition, sweeping in-mandate partitions whose
    * recomputed output is empty. `mandate` must reference only
    * `partitionCol`.
    */
  private def replaceMatching(spark: SparkSession, source: DataFrame,
      tablePath: String, partitionCol: String,
      mandate: org.apache.spark.sql.Column)
      (transform: DataFrame => DataFrame): Long = {
    val out = transform(source)
      .where(mandate)
      .persist()
    try {
      val n = out.count()
      val produced = out.select(col(partitionCol).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      // In-mandate partitions that exist NOW but are absent from the
      // recomputed output: their mandate says "empty", so they must go.
      // Read before the write — afterwards they are indistinguishable
      // from legitimately-kept partitions.
      val stale = Try(spark.read.parquet(tablePath)).toOption.map {
        _.where(mandate)
          .select(col(partitionCol).cast("string"))
          .distinct().collect().map(_.getString(0)).toSet
      }.getOrElse(Set.empty) -- produced
      graft.EngineSession.withConf(spark,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        out.write
          .mode("overwrite")
          .partitionBy(partitionCol)
          .parquet(tablePath)
      }
      if (stale.nonEmpty) {
        val root = new Path(tablePath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        stale.foreach { v =>
          // Spark escapes special chars (space, ':', '/', '%', …) in
          // partition directory names; reconstruct with the same escaping
          // or the delete would target a nonexistent path and silently
          // retain the stale partition (ADVICE r4). A missing target is
          // an invariant breach (the value was listed from this table
          // moments ago), so fail loudly rather than converge silently.
          val dir = new Path(root, s"$partitionCol=" +
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v))
          if (!fs.delete(dir, true))
            throw new IllegalStateException(
              s"stale-partition sweep: expected to delete $dir but it was not there")
        }
      }
      n
    } finally out.unpersist()
  }
}
