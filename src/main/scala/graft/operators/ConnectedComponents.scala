package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the closure operator behind q36's near-dup grouping, reusable over any
  * pair table (dedup clusters, entity resolution, lineage grouping).
  *
  * Algorithm: every node starts labeled with itself; each round min-combines
  * labels in ONE shuffle join + ONE min-agg by unioning the label table's
  * pointers (d → comp(d)) into the edge list — an edge hop delivers a
  * neighbor's label, and a pointer hop delivers comp(comp(d)), the pointer
  * jump that makes rounds O(log diameter) instead of O(diameter). Since
  * comp(x) <= x always, the pointer hop also subsumes keep-own. Labels only
  * ever decrease, so an unchanged label sum is an exact fixpoint test,
  * evaluated against the round's checkpoint (which also cuts lineage
  * growth across rounds; reliable when a checkpoint dir is configured,
  * executor-local otherwise).
  *
  * The fixpoint — every node labeled with the smallest node id reachable
  * from it — is unique, so results are deterministic regardless of join
  * order or partitioning. At scale: no driver-side graph, every round is
  * edge-list-sized, per-node state is one (id, label) row.
  */
object ConnectedComponents {

  /** @param pairs     undirected edges as (aCol, bCol) LONG node-id pairs
    *                   (orientation and duplicates don't matter)
    * @param maxRounds  safety backstop; log2(diameter) + 2 rounds suffice
    * @param unpersistEdges release the internal edge cache before
    *                   returning. Default true (a caller looping over many
    *                   DISTINCT pair tables must not accumulate entries);
    *                   pass false when the same pair plan is re-run —
    *                   Spark's cache manager dedupes identical plans to
    *                   one entry, and keeping it makes repeat runs warm.
    * @return (id, comp): one row per node that appears in `pairs`, `comp`
    *         the minimum node id of its component
    */
  def components(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      maxRounds: Int = 50, unpersistEdges: Boolean = true): DataFrame = {
    // Per-round materialization: localCheckpoint (blocks on executors) is
    // the fast default, but losing one executor mid-iteration then fails
    // the job unrecoverably — on a preemptible cluster that is the WRONG
    // durability trade. When the session has a reliable checkpoint dir
    // configured (sc.setCheckpointDir), rounds are written as parquet
    // snapshots under it instead: same lineage cut, fault-tolerant,
    // survives executor loss — and, unlike Dataset.checkpoint() (whose
    // files Spark only deletes under cleanCheckpoints=true, default off),
    // each superseded round is deleted as soon as its successor is
    // durable. Only the FINAL round's snapshot outlives the call (it backs
    // the returned DataFrame) — the standard reliable-checkpoint residue.
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val reliableBase = sc.getCheckpointDir
      .map(d => s"$d/graft-cc-${java.util.UUID.randomUUID}")
    var prevRound: Option[String] = None
    var roundIdx = 0
    def materialize(df: DataFrame): DataFrame = reliableBase match {
      case Some(base) =>
        val path = s"$base/round-$roundIdx"
        roundIdx += 1
        df.write.mode("overwrite").parquet(path)
        prevRound.foreach { old => // superseded once the new round is durable
          val p = new org.apache.hadoop.fs.Path(old)
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
        }
        prevRound = Some(path)
        spark.read.parquet(path)
      case None => df.localCheckpoint()
    }
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .cache()
    // Init fuses the first propagation round: comp0 = min(self, direct
    // neighbors). For the common near-clique components this IS the
    // fixpoint, so the loop's first round is already the stability check.
    var labels = materialize(
      edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
        .select(col("src").as("id"), least(col("src"), col("m")).as("comp")))
    var prevSum = Long.MinValue
    var curSum = checksum(labels)
    var round = 0
    while (curSum != prevSum && round < maxRounds) {
      val next = materialize(
        edges.union(labels.select(col("id").as("src"), col("comp").as("dst")))
          .join(labels, col("dst") === col("id"))
          .select(col("src").as("d"), col("comp"))
          .groupBy(col("d")).agg(min(col("comp")).as("comp"))
          .select(col("d").as("id"), col("comp")))
      prevSum = curSum
      curSum = checksum(next)
      labels = next
      round += 1
    }
    // localCheckpoint blocks of old rounds are storage-reclaimed; reliable
    // rounds were deleted as they were superseded (above). A kept edge
    // cache stays in the session's cache manager, so a batch-boundary
    // ResultMemo.release still frees it (warm for re-runs, never a leak)
    if (unpersistEdges) edges.unpersist(blocking = false)
    labels
  }

  /** Sum of labels; 0 for an empty table (sum over zero rows is SQL NULL). */
  private def checksum(labels: DataFrame): Long = {
    val r = labels.agg(sum(col("comp"))).first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
