package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** ONE cached (day, event_type, n, total_dec) rollup of the event log —
  * the DocProfiles treatment for the events side: this is exactly the
  * materialized daily table [[graft.operators.IncrementalRollup]]
  * maintains in production (q121 gates it), so the daily-analytics pack
  * (q21 tumbling, q23 sliding, q37 pivot, q90 z-scores, q140 CUSUM)
  * reads the STORED artifact instead of re-shuffling the raw log per
  * query. Re-derivations stay exact: counts re-sum exactly, and the
  * per-(day,type) sum is kept as DECIMAL so any regrouping is exact
  * decimal addition (a double here would make downstream sums
  * order-sensitive).
  */
object EventStats {

  /** The event log pre-partitioned by user AND sorted within partitions
    * on (user_id, ts, event_id) — the clustered+ordered layout a
    * behavioral store keeps on disk (bucketed AND sorted by user) so
    * every per-user window/sessionization reads co-located, pre-ordered
    * rows. Cached WITH partitioning and ordering: InMemoryTableScan
    * reports both outputPartitioning and outputOrdering, so the per-user
    * window family (q17/q22/q24/q150/q163…) skips its exchange AND its
    * sort — the sort is paid once at cache build instead of once per
    * query per execution. Every per-user window in the pack orders by
    * (ts asc, event_id asc), so one layout serves them all.
    *
    * EAGERLY MATERIALIZED (r8): under AQE, an UNmaterialized cached plan
    * reports unknown partitioning/ordering (its AdaptiveSparkPlan is not
    * finalized), so consumers planned before first execution bake in a
    * redundant Exchange+Sort. Forcing the cache at build time — once per
    * (session, dir) via ResultMemo — makes every consumer's Window sit
    * DIRECTLY on the InMemoryTableScan (verified: q22's plan loses both
    * nodes). canChangeCachedPlanOutputPartitioning=false is required for
    * the layout to survive the cache — but ONLY for these two hubs, so it
    * is scoped to their builds via [[withPinnedCacheLayout]]: setting it
    * session-wide (as r8 briefly did) turns off AQE partition coalescing
    * for EVERY `.cache()` in the engine, leaving all cached intermediates
    * at full shuffle-partition fan-out and costing a measured ~0.25 s of
    * task-scheduling overhead per bench query.
    */
  def byUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.ResultMemo.getOrCompute(s, "evstats-byuser", dir) {
      withPinnedCacheLayout(s) {
        // RANGE-partitioned by user, not hash (r15, guide §2.4): range
        // clustering satisfies every per-user window/groupBy exactly like
        // hash did (all rows of a user share a partition), AND it prefix-
        // satisfies OrderedDistribution for UNARY consumers whose FINAL
        // sort starts with user_id (q22, q105) — their orderBy plans as a
        // partition-local sort with no range exchange and no sampling
        // re-execution of the window subtree. Global sorts execute their
        // child twice (RangePartitioner samples every child row before
        // the real shuffle map runs), so each consumer this layout
        // serves drops one exchange AND one full window re-run; the hub
        // build's own bounds sample re-reads only the cached events scan,
        // once per session. Same one-shuffle cost at 100 TB.
        // BINARY consumers must NOT read this hub on both join sides:
        // range specs never co-partition for EnsureRequirements — see
        // [[byUserHash]] (r16).
        val df =
          Tables.events(s, dir).repartitionByRange(hubWidth(s, dir), $"user_id")
            .sortWithinPartitions($"user_id", $"ts", $"event_id").cache()
        df.count()
        df
      }
    }
  }

  /** The event log HASH-partitioned by user and sorted within partitions
    * on (user_id, ts, event_id) — the layout BINARY consumers need
    * (r16, ADVICE): the as-of pair q80/q118 slices both join sides from
    * one hub, and a binary node's co-partitioning check accepts two
    * HashShuffleSpecs on the same key/width but rejects range specs
    * unconditionally (range bounds are sampled, so Spark cannot prove two
    * range exchanges co-partition — even from the same cache). [[byUser]]'s
    * range layout therefore re-shuffled AND re-sorted both AsOfJoinExec
    * children to hash on every execution (the r15 plan comment claimed
    * otherwise; the committed q80 before-plan shows Exchange+Sort on both
    * children). Scanning THIS hub on both sides instead satisfies the
    * operator's ClusteredDistribution and (user_id, ts, event_id) ordering
    * directly — zero exchanges, zero sorts per execution.
    *
    * Same width derivation and pinned-layout discipline as [[byUser]];
    * the two hubs are the clustered table plus its ordered projection — a
    * behavioral store keeps both layouts precisely because windows want
    * prefix-ordered ranges while joins want deterministic co-partitioning.
    */
  def byUserHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.ResultMemo.getOrCompute(s, "evstats-byuserhash", dir) {
      withPinnedCacheLayout(s) {
        val df =
          Tables.events(s, dir).repartition(hubWidth(s, dir), $"user_id")
            .sortWithinPartitions($"user_id", $"ts", $"event_id").cache()
        df.count()
        df
      }
    }
  }

  /** Cluster width shared by both hubs — SIZE-DERIVED (r15, guide
    * §2.2/§2.5): the base-table spread floor grown by input size at the
    * same 64 MB advisory target a cluster-scale shuffle would coalesce
    * to; at 100 TB the size term dominates and the floor is irrelevant.
    */
  private def hubWidth(s: SparkSession, dir: String): Int = {
    val floor = math.max(1,
      math.min(s.sparkContext.defaultParallelism, Tables.CacheSpread))
    val target = 64L << 20
    // ×4 ≈ parquet→unsafe-row expansion; exactness is irrelevant, the
    // term only needs to GROW the width once input outruns the floor.
    // Size via Hadoop FS (r16, ADVICE): java.io.File.length silently
    // reads 0 (or the dirent size) for directory-style parquet datasets
    // or non-local storage, collapsing the width to the floor.
    val path = new org.apache.hadoop.fs.Path(
      s"${dir.stripSuffix("/")}/events.parquet")
    val bytes = try {
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.getContentSummary(path).getLength * 4
    } catch { case _: Throwable => 0L }
    math.max(floor.toLong, (bytes + target - 1) / target).toInt
  }

  /** Runs `body` (a cache build + its eager materialization) with AQE's
    * cached-plan re-partitioning disabled, restoring the session's
    * previous setting after. The conf is consulted when the cached plan
    * is compiled, so scoping it to the build pins THIS cache's layout
    * without forcing every other cache in the session to full fan-out.
    */
  private def withPinnedCacheLayout[T](s: SparkSession)(body: => T): T =
    graft.EngineSession.withConf(s,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false")(body)

  /** (day DATE, event_type STRING, n BIGINT, total_dec DECIMAL(18,2)).
    * Eagerly materialized like [[byUser]] so consumers reuse the rollup's
    * (day, event_type) hash partitioning instead of re-shuffling the
    * group-count-sized table.
    *
    * STORED artifact (r10): this IS the materialized daily table
    * [[graft.operators.IncrementalRollup]] maintains in production, so a
    * session with an artifact store loads the published rollup instead of
    * re-shuffling the raw log. The stored scan has no hash partitioning
    * to pin (the layout pin below only bites on the derivation path) —
    * consumers re-shuffle a table the size of the GROUP COUNT, which is
    * the right trade against re-aggregating the raw log per session.
    * Counts and decimal sums are exact, so the stored rows are
    * bit-identical to a fresh derivation.
    */
  def dailyTypeAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.ResultMemo.getOrCompute(s, "evstats-daily", dir) {
      withPinnedCacheLayout(s) {
        val df = graft.operators
          .ArtifactStore.table(s, "eventstats_daily",
            Seq(s"${dir.stripSuffix("/")}/events.parquet"), "bv1") {
            Tables.events(s, dir)
              .groupBy(to_date($"ts").as("day"), $"event_type")
              .agg(count(lit(1)).as("n"),
                sum($"value".cast("decimal(18,2)")).as("total_dec"))
          }.cache()
        df.count()
        df
      }
    }
  }
}
