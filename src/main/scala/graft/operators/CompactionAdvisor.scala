package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Turns [[graft.sources.EventLog.layoutReport]]'s file counts into the
  * decision table a maintenance scheduler executes — closing the loop
  * from metadata to action: layoutReport → advise → compact /
  * compactClustered.
  *
  * Policy (the standard small-file economics at 100 TB):
  *   - `compact` when a partition holds more than `maxFiles` files OR its
  *     mean file size is below `minFileBytes` — both directly inflate
  *     scan task counts and per-file open cost;
  *   - the advised `target_files` re-bins the partition's bytes into
  *     `targetFileBytes` files (min 1), so one advice row IS the
  *     `compact(topic, targetFiles)` call;
  *   - `ok` partitions are kept in the output with a reason — a scheduler
  *     diffing runs needs to see a partition BECOME healthy, not have it
  *     vanish.
  *
  * Pure column math over the layout report — no data files are read.
  */
object CompactionAdvisor {

  def advise(report: DataFrame,
      targetFileBytes: Long = 128L << 20,
      maxFiles: Int = 8,
      minFileBytes: Long = 4L << 20): DataFrame = {
    val meanBytes = col("total_bytes") / greatest(col("n_files"), lit(1L))
    val needsCompact = (col("n_files") > maxFiles) ||
      (col("n_files") > lit(1L) && meanBytes < minFileBytes)
    val targetFiles = greatest(ceil(col("total_bytes") / lit(targetFileBytes.toDouble)),
      lit(1L)).cast("long")
    report.select(
        col("partition"), col("n_files"), col("total_bytes"),
        when(needsCompact, lit("compact")).otherwise(lit("ok")).as("action"),
        when(needsCompact, targetFiles).otherwise(col("n_files")).as("target_files"),
        when(col("n_files") > maxFiles, lit("too many files"))
          .when(col("n_files") > 1L && meanBytes < minFileBytes, lit("small files"))
          .otherwise(lit("healthy")).as("reason"))
      .orderBy(col("partition"))
  }
}
