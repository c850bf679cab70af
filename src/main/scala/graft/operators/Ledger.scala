package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** The single-partition ledger sort: the one home of the policy every
  * bounded result's final `orderBy` follows.
  *
  * Most of the pack ends in a small ledger — a rollup keyed by a domain
  * (event type, day, nation, language, source, label) or by a search
  * constant (queries × k) — sorted only to make its output deterministic.
  * A global `orderBy` plans a range exchange, and that exchange runs its
  * own bounds-sampling job: 2 of q03's 4 stages. Each stage pays the
  * per-stage scheduling floor (~66 ms measured in r16; the coordination
  * cost Drizzle, SOSP 2017, amortizes). Coalescing the ledger to one
  * partition first lets SinglePartition satisfy the sort's
  * OrderedDistribution, so the exchange and its sampling job disappear;
  * rows and order are unchanged.
  *
  * The rewrite is valid only for a SCALE-INDEPENDENT row bound: one task
  * sorts every row, so a ledger whose grain grows with the data
  * (per-user, per-doc, per-token without a Limit) must keep a plain
  * `orderBy`. `maxRows` states the bound that holds at every scale — a
  * domain size (5 event types, 31 days of the one-month event log, 25
  * nations, 20 sources), a search constant (NQueries × k) or an explicit
  * limit. It is tagged on the `Repartition` node as [[MaxRows]];
  * GlobalPlanAuditSpec counts each tagged node's input over the whole
  * pack and fails when a count exceeds its bound, and [[PlanAudit]] flags
  * a global sort over an untagged one-partition coalesce.
  */
object Ledger {

  /** The row bound a [[sorted]] call promises, on its `Repartition(1)`. */
  val MaxRows: TreeNodeTag[Long] = TreeNodeTag[Long]("graft.ledger.maxRows")

  /** `df` coalesced to one partition, then globally sorted by `cols`;
    * use as `.transform(Ledger.sorted(n)(cols: _*))`.
    */
  def sorted(maxRows: Long)(cols: Column*)(df: DataFrame): DataFrame = {
    val one = df.coalesce(1)
    one.queryExecution.analyzed.setTagValue(MaxRows, maxRows)
    one.orderBy(cols: _*)
  }
}
