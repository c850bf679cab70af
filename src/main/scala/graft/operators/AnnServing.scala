package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot

/** The ANN SERVING ladder's shared plumbing — one documented entry point
  * for the shortlist → exact-re-rank → recall-ledger chain that every
  * quantized serving tier (int8, PQ/ADC, Matryoshka truncation, binary
  * signatures, tombstoned IVF) repeats:
  *
  *   - a cheap tier generates a per-query CANDIDATE SHORTLIST;
  *   - the serving layer RE-RANKS the shortlist by exact cosine against
  *     the full-precision vectors (k·R random reads per query — never a
  *     corpus scan);
  *   - the eval harness grades every tier against the BRUTE-FORCE truth
  *     over a sampled query set and publishes a per-query RECALL ledger.
  *
  * Conventions (the family's law, pinned by the q226/q229/q230/q233
  * oracles): corpus frames carry (vec_id, v: array<double>, nrm); query
  * frames carry (q_id, qv, qnrm) and are broadcast (query sets are
  * sample-sized by construction); ranking ties break on ascending
  * neighbor id; self-matches are excluded. At 100 TB the only
  * corpus-wide pass is the tier's own shortlist scan — truth is always
  * measured on the sampled queries, and the ledger is query-count-sized.
  *
  * The dot product is the codegen'd native expression: callers outside
  * the query pack (which installs it per query) run
  * `GraftFunctions.register(spark)` once per session.
  */
object AnnServing {

  /** Exact top-k per query over scored pairs (q_id, nn_id, cos), ties on
    * nn_id asc → (q_id, nn_id). */
  def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    pairs.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .select(col("q_id"), col("nn_id"))
  }

  /** Brute-force exact-cosine truth: every corpus vector scored against
    * every broadcast query (minus self), top-k. The eval baseline every
    * tier is graded against. */
  def bruteTruth(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nn_id"),
        (dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos")), k)

  /** Exact-cosine re-rank of a (q_id, nn_id) shortlist: fetch the full
    * vectors, score against the broadcast queries, keep top-k. */
  def rerank(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    topK(shortlist.select(col("q_id"), col("nn_id"))
      .join(corpus.select(col("vec_id"), col("v"), col("nrm")),
        col("nn_id") === col("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("nn_id"),
        (dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos")), k)

  /** Per-query recall ledger: (q_id, k, n_<name> per tier), hits counted
    * as truth ∩ tier via left-semi, missing queries coalesced to 0. The
    * caller derives its published recall columns from the counts (the
    * division and naming are each query's law). */
  def recallLedger(truth: DataFrame,
      tiers: Seq[(String, DataFrame)]): DataFrame = {
    def hits(ann: DataFrame) = truth
      .join(ann, Seq("q_id", "nn_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n"))
    tiers.foldLeft(
        truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))) {
      case (acc, (name, ann)) =>
        acc.join(hits(ann).withColumnRenamed("n", s"__n_$name"), Seq("q_id"), "left")
          .withColumn(s"n_$name", coalesce(col(s"__n_$name"), lit(0L)))
          .drop(s"__n_$name")
    }
  }
}
