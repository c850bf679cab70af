package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot

/** Incrementally-maintained IVF index — the maintenance loop the ANN
  * query pack (q44/q79/q85/q98) assumes and q152 audits, as a persisted
  * operator: a production vector store cannot re-run k-means per arriving
  * batch, so appends assign against the FROZEN stored centroids and a
  * staleness report decides when a retrain is due.
  *
  * Index layout under `indexDir` (all parquet — the shippable artifact):
  *   - `centroids`: (cl, cv, cnrm) — frozen at build/retrain time;
  *   - `cells`: (vec_id, cell, gen) — assignments, append-mode; gen 0 =
  *     the build/retrain population, gen >= 1 = appended batches.
  *
  * Laws (IvfIncrementalSpec):
  *   - append == the from-scratch assignment of the same vectors under
  *     the same frozen centroids (max-cosine, ties to the lowest cell —
  *     exactly the quantizer law every ANN query spells);
  *   - appends compose: two batches == their union, assignment-for-
  *     assignment (each row's verdict depends only on frozen centroids);
  *   - staleness restates per-cell new/total fractions; retrain resets
  *     it to zero and re-freezes centroids from the full current corpus.
  *
  * Scale shape: centroids are a k×dim broadcast; an append touches only
  * the arriving batch (narrow map + one window by vec_id); staleness is
  * a cells-table rollup. Nothing corpus-quadratic, nothing iterative
  * outside [[build]]/[[retrain]].
  */
object IvfIncremental {

  /** Deterministic k-means (the ivfCells contract: vec_id % k init,
    * `iters` Lloyd rounds, 6dp-rounded centroids) over (vec_id, v).
    */
  private def train(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    graft.functions.expressions.GraftFunctions.register(s)
    val e = vectors
      .select($"vec_id", $"v", sqrt(dot($"v", $"v")).as("nrm")).cache()
    def centroidsOf(assigned: DataFrame): DataFrame =
      assigned.select($"cl", posexplode($"v"))
        .groupBy($"cl", $"pos").agg(round(avg($"col"), 6).as("c"))
        .groupBy($"cl").agg(
          transform(sort_array(collect_list(struct($"pos", $"c"))), x => x.getField("c"))
            .as("cv"))
        .select($"cl", $"cv", sqrt(dot($"cv", $"cv")).as("cnrm"))
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cl".asc)
      e.crossJoin(broadcast(cent))
        .select($"vec_id", $"v", $"cl",
          (dot($"v", $"cv") / ($"nrm" * $"cnrm")).as("ccos"))
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"vec_id", $"v", $"cl")
    }
    var cent = centroidsOf(e.select(($"vec_id" % k).cast("int").as("cl"), $"v"))
    for (_ <- 1 to iters)
      cent = centroidsOf(assign(cent).select($"cl", $"v"))
    cent
  }

  /** Assign `vectors` under the given centroids — THE quantizer law. */
  private def assignFrozen(vectors: DataFrame, cent: DataFrame): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    graft.functions.expressions.GraftFunctions.register(s)
    val w = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cl".asc)
    vectors.select($"vec_id", $"v", sqrt(dot($"v", $"v")).as("nrm"))
      .crossJoin(broadcast(cent))
      .select($"vec_id", $"cl",
        (dot($"v", $"cv") / ($"nrm" * $"cnrm")).as("ccos"))
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"vec_id", $"cl".as("cell"))
  }

  /** Build the index from scratch: train, freeze centroids, assign the
    * training corpus as generation 0.
    */
  def build(spark: SparkSession, vectors: DataFrame, indexDir: String,
      k: Int = 10, iters: Int = 2): Unit = {
    val cent = train(vectors, k, iters)
    cent.write.mode("overwrite").parquet(s"$indexDir/centroids")
    assignFrozen(vectors, spark.read.parquet(s"$indexDir/centroids"))
      .withColumn("gen", lit(0))
      .write.mode("overwrite").parquet(s"$indexDir/cells")
  }

  def centroids(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/centroids")

  def assignments(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/cells")

  /** Append a batch: assign under the FROZEN centroids, next generation.
    * Returns the rows appended. No retrain, no touch of prior rows.
    */
  def append(spark: SparkSession, indexDir: String,
      newVectors: DataFrame): Long = {
    // max(gen) is null when the cells table is empty (build over an empty
    // corpus) — coalesce to -1 so the first append lands as generation 0.
    val gen = assignments(spark, indexDir)
      .agg(coalesce(max(col("gen")), lit(-1))).collect()(0).getInt(0) + 1
    val assigned = assignFrozen(newVectors, centroids(spark, indexDir))
      .withColumn("gen", lit(gen))
    assigned.write.mode("append").parquet(s"$indexDir/cells")
    assigned.count()
  }

  /** Per-cell staleness (q152's law over the STORED index): appended
    * fraction per cell and the retrain flag at `threshold`.
    */
  def staleness(spark: SparkSession, indexDir: String,
      threshold: Double = 0.3): DataFrame = {
    import spark.implicits._
    assignments(spark, indexDir)
      .groupBy($"cell")
      .agg(sum(when($"gen" === 0, 1L).otherwise(0L)).as("n_base"),
        sum(when($"gen" > 0, 1L).otherwise(0L)).as("n_new"))
      .select($"cell", $"n_base", $"n_new",
        round($"n_new" * lit(1.0) / ($"n_base" + $"n_new"), 6).as("new_frac"),
        ($"n_new" * lit(1.0) / ($"n_base" + $"n_new") > threshold).as("stale"))
      .orderBy($"cell")
  }

  /** True when any cell crossed the staleness threshold. */
  def needsRetrain(spark: SparkSession, indexDir: String,
      threshold: Double = 0.3): Boolean =
    staleness(spark, indexDir, threshold)
      .where(col("stale")).limit(1).count() > 0

  /** Retrain from the full current corpus: re-freeze centroids, reset
    * every assignment to generation 0. The corpus is the source of truth
    * — an index stores codes, not vectors, so the caller supplies it.
    */
  def retrain(spark: SparkSession, vectors: DataFrame, indexDir: String,
      k: Int = 10, iters: Int = 2): Unit =
    build(spark, vectors, indexDir, k, iters)
}
