package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one batch-lifetime cache: a session-scoped store for
  * results that must outlive the function that built them, released in
  * one call at the batch boundary.
  *
  * Four kinds of entry share one map, each keyed by (session, kind, name,
  * input dir), so no two kinds can collide and no caller builds a key:
  *
  *   - frames ([[getOrCompute]]): results shared BY NAME. Two sorts:
  *     EAGERLY-materialized results — an operator like
  *     [[ConnectedComponents]] RUNS its iterations inside the builder
  *     call, so every invocation would re-execute the loop even though
  *     the result is the same table (q36/q84 both need the document
  *     component table; bench passes re-run every query 3×) — and the
  *     query pack's LAZILY cached hubs (`DocProfiles.profiled`, the
  *     shingle sets, the normalized embedding corpus, ...): the hub is
  *     built, looked up in the artifact store and `.cache()`d once per
  *     batch, and every caller gets that one frame;
  *   - reports ([[report]]): bounded ledgers collected to the driver;
  *   - artifacts ([[artifact]]): non-DataFrame builds (a Bloom filter, a
  *     hub's sibling frame pair);
  *   - base tables ([[baseTable]]): `Tables`' session-cached scans.
  *
  * The session is part of every key (the session object itself, compared
  * by identity): a frame bound to one session is never handed to
  * another. Entries hold their session, so a live key can never be
  * reissued to a different session.
  *
  * Lifecycle contract: the session owner calls [[release]] at a batch
  * boundary — a session that rewrites an input under the same path
  * across batches gets a fresh computation in the next batch, never a
  * stale memo. There is no ledger of `.cache()` handles: Spark's cache
  * manager already records every one, and [[release]] clears it.
  */
object ResultMemo {

  private final case class Key(session: SparkSession, kind: String,
      name: String, dir: String)

  private val store = scala.collection.concurrent.TrieMap.empty[Key, AnyRef]

  private def memo[T](s: SparkSession, kind: String, name: String, dir: String)(
      compute: => AnyRef): T =
    store.getOrElseUpdate(Key(s, kind, name, dir.stripSuffix("/")), compute)
      .asInstanceOf[T]

  /** Return the memoized frame for `name` over the inputs under `dir`,
    * computing it once per batch. `name` must cover every parameter the
    * result depends on besides `dir` (a hub built per bit width carries
    * the width in its name).
    */
  def getOrCompute(s: SparkSession, name: String, dir: String)(
      compute: => DataFrame): DataFrame =
    memo[DataFrame](s, "frame", name, dir)(compute)

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
  def report(s: SparkSession, name: String, dir: String)(
      compute: => DataFrame): DataFrame = {
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
    val passthrough = SparkSession.getActiveSession
      .exists(_.conf.getOption("spark.graft.report.passthrough").contains("true"))
    if (passthrough) compute
    else memo[DataFrame](s, "report", name, dir) {
      val df = compute
      val spark = df.sparkSession
      // limit(cap+1) detects overflow without ever collecting an
      // unbounded result; an orderBy'd ledger keeps its order (the
      // limit takes the ordered prefix).
      val rows = df.limit(MaxReportRows + 1).collect().toSeq
      if (rows.size > MaxReportRows)
        throw new IllegalStateException(
          s"ResultMemo.report('$name' over $dir): result exceeds $MaxReportRows rows — " +
            "report ledgers must be bounded (day/type/k grain), not " +
            "data-proportional; memoize a DERIVED rollup or drop the memo")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
    }
  }

  /** Memo for non-DataFrame build ARTIFACTS (a serialized Bloom filter, a
    * trained codebook): the stored-index semantics — the build runs once
    * per batch, probes reuse the artifact. Null-safe: a build that
    * returns null (e.g. a Bloom aggregate over an EMPTY corpus) is
    * memoized as the null artifact, not a TrieMap NPE.
    */
  def artifact[T <: AnyRef](s: SparkSession, name: String, dir: String)(
      compute: => T): T =
    memo[Option[AnyRef]](s, "artifact", name, dir)(Option(compute)).orNull.asInstanceOf[T]

  /** Memo for `Tables`' session-cached base-table scans (the
    * `spark.graft.cacheBaseTables` mode).
    */
  private[graft] def baseTable(s: SparkSession, name: String, dir: String)(
      compute: => DataFrame): DataFrame =
    memo[DataFrame](s, "table", name, dir)(compute)

  /** The batch boundary: forget every memoized entry and drop every cache
    * in `spark`'s cache manager. That manager is shared by every session
    * of the SparkContext, so this drops ALL cached data — the engine's
    * hubs and base tables, and any cache a caller made itself — not only
    * the engine's. Call it only from the code that owns the sessions
    * (Bench and Verify do, after their sweeps). Non-blocking: the
    * entries leave the cache manager immediately; block eviction
    * completes asynchronously.
    */
  def release(spark: SparkSession): Unit = {
    store.clear()
    spark.catalog.clearCache()
  }
}
