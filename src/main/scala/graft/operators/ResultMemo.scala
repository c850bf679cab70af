package graft.operators

import org.apache.spark.sql.DataFrame

/** Session-scoped memo for EAGERLY-materialized results. [[CacheRegistry]]
  * handles lazy cached plans (Spark's cache manager dedupes identical
  * plans, so re-building the same lazy frame is free); it cannot help an
  * operator like [[ConnectedComponents]] that RUNS its iterations inside
  * the builder call — every invocation would re-execute the loop even
  * though the result is the same table. Queries that share such a result
  * (q36/q84 both need the document component table; bench passes re-run
  * every query 3×) memoize it here, keyed by input path + session.
  *
  * Lifecycle contract: cleared by [[CacheRegistry.releaseAll]] at the same
  * batch boundaries that release the caches — a session that rewrites an
  * input under the same path across batches gets a fresh computation in
  * the next batch, never a stale memo.
  */
object ResultMemo {

  private val memo = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Return the memoized frame for `key`, computing (and running) it once
    * per batch. Keys should include every input the result depends on
    * (path, parameters) plus the session identity.
    */
  def getOrCompute(key: String)(compute: => DataFrame): DataFrame =
    memo.getOrElseUpdate(key, compute)

  /** Hard ceiling on a report's row count. The "bounded ledger" contract
    * is otherwise caller-declared only — a future caller memoizing a
    * data-proportional frame would OOM the driver silently. Generous vs
    * the real ledgers (all ≤ a few hundred rows at any SF): the cap is a
    * tripwire for a contract violation, not a tuning knob.
    */
  val MaxReportRows = 10000

  /** Monotonic count of report() entries — lets a harness detect which
    * query constructions were report-served (Bench's truth sweep marks
    * exactly those queries for a separate passthrough timing).
    */
  private val touches = new java.util.concurrent.atomic.AtomicLong(0L)

  def reportTouches: Long = touches.get

  /** The REPORT treatment in one call: compute `frame` once per batch,
    * collect its (bounded — caller's contract, enforced by
    * [[MaxReportRows]]) rows to the driver, and memoize them as a
    * driver-local relation. Repeat readers get a plan with no lineage to
    * re-optimize and no cluster work to redo — the published-artifact
    * semantics every KB-sized ledger here shares. Schema (names, types,
    * nullability) is preserved exactly.
    */
  def report(key: String)(compute: => DataFrame): DataFrame = {
    touches.incrementAndGet()
    // Audit passthrough: with spark.graft.report.passthrough=true the
    // UNCOLLECTED frame is returned (and not memoized), so plan linters
    // (GlobalPlanAuditSpec, PlanShapeSpec) audit the report's REAL plan —
    // memoization must never become a place for a scale-killer to hide.
    // The memo itself stays cold in this mode, but note frame
    // CONSTRUCTION may still run real work (hub builders cache + count
    // eagerly) — "passthrough" means un-memoized, not free. Checked
    // BEFORE the memo: a warm memo from an earlier consumer must not
    // hand the auditor a driver-local relation.
    val passthrough = org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.conf.getOption("spark.graft.report.passthrough").contains("true"))
    if (passthrough) compute
    else memo.getOrElseUpdate(key, {
      val df = compute
      val spark = df.sparkSession
      // limit(cap+1) detects overflow without ever collecting an
      // unbounded result; an orderBy'd ledger keeps its order (the
      // limit takes the ordered prefix).
      val rows = df.limit(MaxReportRows + 1).collect().toSeq
      if (rows.size > MaxReportRows)
        throw new IllegalStateException(
          s"ResultMemo.report('$key'): result exceeds $MaxReportRows rows — " +
            "report ledgers must be bounded (day/type/k grain), not " +
            "data-proportional; memoize a DERIVED rollup or drop the memo")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
    })
  }

  private val artifacts =
    scala.collection.concurrent.TrieMap.empty[String, Option[AnyRef]]

  /** Session-scoped memo for non-DataFrame build ARTIFACTS (a serialized
    * Bloom filter, a trained codebook): the stored-index semantics — the
    * build runs once per batch, probes reuse the artifact. Same lifecycle
    * as the frame memo (cleared at batch boundaries). Null-safe: a build
    * that returns null (e.g. a Bloom aggregate over an EMPTY corpus) is
    * memoized as the null artifact, not a TrieMap NPE.
    */
  def artifact[T <: AnyRef](key: String)(compute: => T): T =
    artifacts.getOrElseUpdate(key, Option(compute)).orNull.asInstanceOf[T]

  def clear(): Unit = { memo.clear(); artifacts.clear() }

  def size: Int = memo.size
}
