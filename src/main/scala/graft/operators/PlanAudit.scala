package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Repartition, Sort,
  Window => LWindow}

/** Plan LINTER — the scale rules `GlobalPlanAuditSpec` enforces over the
  * query pack, exposed as an operator so a user can vet their own queries
  * before submitting them to a 1000-executor cluster:
  *
  *   - `cartesian`: the physical plan contains a CartesianProduct —
  *     unbounded pair work. (Bounded cross joins against a 1-row or
  *     broadcast side plan as BroadcastNestedLoopJoin and don't flag.)
  *   - `globalWindow`: an unpartitioned window runs over data-proportional
  *     input — the single-task global sort. A global window is exempt only
  *     above a Limit (k-sized input) or a BOUNDED-GRAIN Aggregate: one
  *     whose group keys are domains (day, type, bin, partition id), not
  *     entities. A `groupBy(user_id)`/`groupBy(doc_id)` aggregate is
  *     data-proportional — 10^8 users is 10^8 rows into one task — so an
  *     ENTITY-grain aggregate (any group key named like an id: `id`,
  *     `*_id`, `*key`) does NOT satisfy the exemption unless a Limit sits
  *     between it and the window. (This is the rule that catches the RFM
  *     shape: three ntile(5) global windows over a per-user rollup.)
  *   - `untaggedLedgerSort`: a global sort runs directly over a
  *     one-partition coalesce that did not come from [[Ledger.sorted]] —
  *     a hand-spelled `coalesce(1).orderBy`, whose row bound nobody
  *     states or checks. The helper tags its coalesce with the bound;
  *     GlobalPlanAuditSpec counts every tagged input against it.
  *   - `exchanges`: shuffle count in the physical plan — not a failure,
  *     but the number a reviewer should justify.
  *
  * Building the report PLANS the frame (optimizer + physical planning)
  * but executes nothing. To audit a query whose result is served from
  * the report memo (a driver-local relation with no lineage), set
  * `spark.graft.report.passthrough=true` first — [[ResultMemo.report]]
  * then returns the uncollected derivation frame, which is how
  * GlobalPlanAuditSpec sweeps the whole pack.
  */
object PlanAudit {

  final case class Report(cartesian: Boolean, globalWindow: Boolean,
      untaggedLedgerSort: Boolean, exchanges: Int) {
    def ok: Boolean = !cartesian && !globalWindow && !untaggedLedgerSort
  }

  /** Content-identity suffixes: a group key named like a hash/fingerprint/
    * gram has ~one group per distinct content item — data-proportional
    * exactly like an entity id (r9 verdict: `fp`, `hash`, `hkey`, `gram`,
    * `content_md5` slipped the id-only net). Matched as whole name or
    * suffix so `content_hash`, `simhash`, `minhash`, `gram_md5`, `doc_fp`
    * all flag.
    */
  private val ContentIdSuffixes =
    Seq("hash", "md5", "fp", "hkey", "gram", "digest", "fingerprint")

  /** An aggregate whose output scales with the data: some group key is an
    * entity id (`id`, `*_id`, `*key` — user_id, doc_id, event_id,
    * l_orderkey, ...) or a content identity ([[ContentIdSuffixes]], plus
    * this repo's short forms `ch`/`gh`). Domain-grain keys (day,
    * event_type, bin, cell, spark_partition_id) don't match and keep the
    * exemption. Name-based and deliberately over-broad at the margin: a
    * genuinely bounded hash domain (a 16-bit simhash) that trips it
    * should put a Limit (or regroup to a named domain key) between the
    * aggregate and the window — the spelling that is ALSO safe at 100 TB.
    */
  private def entityGrain(a: Aggregate): Boolean =
    a.groupingExpressions.exists(_.references.exists { attr =>
      val n = attr.name.toLowerCase
      n == "id" || n.endsWith("_id") || n.endsWith("key") ||
        n == "ch" || n == "gh" || ContentIdSuffixes.exists(n.endsWith)
    })

  def audit(df: DataFrame): Report = {
    val phys = df.queryExecution.executedPlan.toString
    val globalWindow = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty =>
        // Walk down from the window: the FIRST bounding node decides.
        // A Limit always exempts; an Aggregate exempts only at bounded
        // (non-entity) grain — collectFirst is pre-order, so a Limit
        // above an entity-grain Aggregate still exempts (k-sized input).
        !w.child.collectFirst {
          case _: GlobalLimit => true
          case a: Aggregate   => !entityGrain(a)
        }.getOrElse(false)
    }.exists(identity)
    val untaggedLedgerSort = df.queryExecution.analyzed.exists {
      case Sort(_, true, r @ Repartition(1, false, _), _) =>
        r.getTagValue(Ledger.MaxRows).isEmpty
      case _ => false
    }
    Report(
      cartesian = phys.contains("CartesianProduct"),
      globalWindow = globalWindow,
      untaggedLedgerSort = untaggedLedgerSort,
      exchanges = "(?m)^\\s*[+:]?-?\\s*Exchange".r.findAllIn(phys).size)
  }
}
