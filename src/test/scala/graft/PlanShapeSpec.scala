package graft

/** Physical-plan assertions for the scale claims the query docs make:
  * candidate-generation self-joins are bucket joins (never a cross
  * product), top-k scans plan as TakeOrderedAndProject, and the star join
  * broadcasts its dimensions. Plans built at sf0.001 — shape, not size,
  * is under test.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The query's physical plan — with the report memo in PASSTHROUGH
    * mode, so memoized ledgers expose their real derivation plan to the
    * pin instead of a driver-local relation. The MEMO stays cold, but
    * construction is not free: report bodies that ride eager hub builds
    * (cache() + count() at frame construction) still run that work, and
    * the built caches stay tracked until the suite's releaseAll. */
  private def plan(name: String): String = withReportPassthrough {
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  private def withReportPassthrough[T](body: => T): T = {
    val key = "spark.graft.report.passthrough"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("dedup/ANN candidate joins are bucket-shaped: no cross product, no nested loop") {
    Seq("q31_minhash_lsh", "q33_lsh_jaccard", "q43_ann_lsh", "q69_simhash_neardup")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
      }
  }

  test("scan-sort-limit plans as TakeOrderedAndProject (no full sort)") {
    assert(plan("q02_events_scan").contains("TakeOrderedAndProject"))
    assert(plan("q15_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("star join broadcasts its dimension tables") {
    // nation rides its explicit hint; customer carries NO hint (it scales
    // with the fact side) — at fixture SF the size-based planner still
    // broadcasts it, and at 100× it may lawfully degrade to SMJ
    assert(plan("q12_star_nation_revenue").contains("BroadcastHashJoin"))
  }

  test("correlated EXISTS plans as a single hash left-semi join") {
    val p = plan("q25_late_orders")
    assert(p.contains("LeftSemi"), "EXISTS should decorrelate to a left-semi join")
    // r16: the implied l_shipdate bound (derived from the orders-year
    // window) must reach the fact scan — storage-level pruning before
    // the join at scale, a halved build side at fixture scale
    assert(p.contains("GreaterThan(l_shipdate,1996-01-31"),
      "the implied shipdate bound must reach PushedFilters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the date residual must ride the equi-join, not force a nested loop")
  }

  test("round-3 queries keep their intended physical shapes") {
    // q80 actually runs the custom operator (not a fallback join)
    assert(plan("q80_asof_custom").contains("AsOfJoin"))
    // q76's rank-k filter pushes into the shuffle as WindowGroupLimit —
    // per-stratum top-k never materializes whole strata post-shuffle
    assert(plan("q76_stratified_sample").contains("WindowGroupLimit"))
    // q78's nation-sized aggregate broadcasts; the customer side never
    // reshuffles for the join
    assert(plan("q78_above_nation_avg").contains("BroadcastHashJoin"))
    // q81 rides the same bucket-join candidate machinery as q33
    val p81 = plan("q81_containment_pairs")
    assert(!p81.contains("CartesianProduct") && !p81.contains("BroadcastNestedLoopJoin"))
  }

  test("round-4 queries keep their intended physical shapes") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // q110's global top-20 collapses to TakeOrderedAndProject — the limit
    // rides the sort, no global window ever materializes the gram table
    assert(plan("q110_boilerplate_grams").contains("TakeOrderedAndProject"))
    // q109 composes a broadcast truth scan with the LSH bucket join —
    // never a cartesian product
    val p109 = plan("q109_ann_recall")
    assert(!p109.contains("CartesianProduct"), "q109 plans a cartesian product")
    // q108's first-occurrence ranking is partitioned by the chunk hash —
    // segment dedup must never sort the corpus in one task. The shipped
    // query memoizes the 5-row ledger (r9), so the pin audits the
    // underlying frame builder directly.
    val q108Windows = graft.queries.TextQueries.chunkDedupFrame(spark, dir)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(q108Windows.nonEmpty && q108Windows.forall(_.partitionSpec.nonEmpty),
      "q108's dedup window must be hash-partitioned")
  }

  test("round-5 queries keep their intended physical shapes") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // q28's separate narrow aggregations must stay separate: no Expand
    // node (the fused multi-countDistinct agg that cost 7.8s at sf0.1),
    // and the 1-row legs combine via broadcast nested loop, never a
    // cartesian product. The query memoizes the 1-row report (r9), so
    // the pin audits the underlying frame builder directly.
    val p28 = graft.queries.ExtendedQueries.sketchFrame(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p28.contains("Expand"), "q28 regressed to a fused Expand aggregation")
    assert(!p28.contains("CartesianProduct"))
    // q119/q120's global windows may run only over aggregated bucket /
    // register tables (octaves×32 resp. ≤256/day), never raw rows. Both
    // are report-memoized (r9), so the pin reads their real plans through
    // the passthrough — and asserts the windows are actually THERE, so a
    // respelling can't make this check vacuously true.
    withReportPassthrough {
      for (q <- Seq("q119_portable_quantile", "q120_sketch_rollup")) {
        val opt = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
        // non-vacuity: passthrough must expose the real derivation (a
        // memoized local relation has no Aggregate anywhere)
        assert(opt.collectFirst { case _: Aggregate => true }.isDefined,
          s"$q: passthrough did not expose the derivation plan")
        opt.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.foreach { w =>
          assert(w.child.collectFirst { case _: Aggregate => true }.isDefined,
            s"$q: unpartitioned window not above an aggregate")
        }
      }
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("retrieval pack (q125-q128) keeps its intended physical shapes") {
    // q125's global top-10 collapses to TakeOrderedAndProject (limit
    // before the rank window — never a data-sized global sort)
    assert(plan("q125_bm25").contains("TakeOrderedAndProject"))
    // q127's span self-join is an equi hash join on the gram hash —
    // never a cartesian or nested loop — and its top-20 is a sort-limit
    val p127 = plan("q127_span_pairs")
    assert(!p127.contains("CartesianProduct") && !p127.contains("BroadcastNestedLoopJoin"),
      "q127's gram join must be an equi join")
    assert(p127.contains("TakeOrderedAndProject"))
    // q126/q128's per-group rank filters push into the shuffle as
    // WindowGroupLimit — per-cell/per-query top-k never materializes
    // whole groups post-shuffle
    assert(plan("q126_prototypicality").contains("WindowGroupLimit"))
    assert(plan("q128_hybrid_rrf").contains("WindowGroupLimit"))
    graft.operators.ResultMemo.release(spark)
  }

  test("round-6 queries keep their intended physical shapes") {
    // q130's probe side carries the bloom constant as a scan-side filter
    // (the whole point: prune BEFORE the semi-join shuffle), and the
    // confirmation join is an equi semi-join, never a nested loop
    val p130 = plan("q130_bloom_prefilter")
    assert(p130.contains("might_contain"), "q130 lost its bloom prefilter")
    assert(p130.contains("LeftSemi"), "q130's confirmation must be a semi-join")
    assert(!p130.contains("CartesianProduct") && !p130.contains("BroadcastNestedLoopJoin"))
    // q131's sketch probe broadcasts the 2048-cell counter table; the
    // token stream itself never joins anything
    assert(plan("q131_cms_heavy_hitters").contains("BroadcastHashJoin"),
      "q131's sketch probe should broadcast the counter grid")
    // q132's diff is a shuffled equi full-outer on the key — bodies are
    // hashed below the exchange, never nested-looped
    val p132 = plan("q132_snapshot_diff")
    assert(p132.contains("FullOuter"), "q132 must full-outer join the snapshots")
    assert(!p132.contains("CartesianProduct") && !p132.contains("BroadcastNestedLoopJoin"))
    // q133's pair generation and position joins are equi joins; the
    // pair-ledger cut is a sort-limit, never a global window over grams
    val p133 = plan("q133_span_runs")
    assert(!p133.contains("CartesianProduct") && !p133.contains("BroadcastNestedLoopJoin"))
    // q134 bins by broadcast quantile edges — NO window anywhere (the
    // ntile-over-the-corpus spelling this query exists to avoid)
    val q134Windows = SparkEntry.queries("q134_length_curriculum")(spark, dir)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(q134Windows.isEmpty, "q134 must not bin via a window function")
    // q135's per-cell rank-3 pushes into the shuffle; centroids broadcast
    val p135 = plan("q135_embedding_outliers")
    assert(p135.contains("WindowGroupLimit") && p135.contains("BroadcastHashJoin"))
    // q138's definitely-new leg filters by the bloom constant with NO
    // join; the settle leg is an equi anti-join
    val p138 = plan("q138_bloom_new_arrivals")
    assert(p138.contains("might_contain"), "q138 lost its bloom prefilter")
    assert(p138.contains("LeftAnti"), "q138's settle leg must be an anti-join")
    assert(!p138.contains("CartesianProduct") && !p138.contains("BroadcastNestedLoopJoin"))
    // q136's cell unions ride the bounded day×cell grid — never a
    // cartesian over raw events
    assert(!plan("q136_cms_rollup").contains("CartesianProduct"))
    // q137's frame self-join is an equi join on the digest with a
    // sort-limit cut — the media corpus never nested-loops
    val p137 = plan("q137_media_neardup")
    assert(!p137.contains("CartesianProduct") && !p137.contains("BroadcastNestedLoopJoin"))
    assert(p137.contains("TakeOrderedAndProject"))
    graft.operators.ResultMemo.release(spark)
  }

  test("q107's global rank is distributed: no data-sized unpartitioned window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the shipped query memoizes the 1-row report (r9); the pin audits
    // the underlying two-pass-rank frame, where the windows live
    val qe = graft.queries.ExtendedQueries.giniFrame(spark, dir).queryExecution
    val windows = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "q107 should rank via window functions")
    val (unpart, part) = windows.partition(_.partitionSpec.isEmpty)
    // the user-sized rank window must be partitioned (here: by the range
    // partition id) — a single-task sort over all users is the WindowExec
    // scale-killer this spelling exists to avoid
    assert(part.nonEmpty, "the rank window must be partitioned")
    // any unpartitioned window may only run over the per-partition count
    // table — bounded by spark.sql.shuffle.partitions, never by data
    unpart.foreach { w =>
      val cols = w.child.output.map(_.name).toSet
      assert(cols.subsetOf(Set("part", "m")),
        s"unpartitioned window over a data-sized input (child cols: $cols)")
    }
  }

  test("blocking-cell counts scale with corpus size: expected cell stays bounded") {
    import graft.functions.VectorFunctions.blockPlanesFor
    // Law: for any corpus up to the cap's reach, the chosen plane count
    // keeps the EXPECTED cell n / 2^p at or below the target — the bound
    // that keeps blocked self-join pair work linear in n.
    val target = 256L
    for (n <- Seq(1L, 100L, 500L, 1024L, 1025L, 5000L, 20000L, 65536L)) {
      val p = blockPlanesFor(n, target)
      assert(n >> p <= target, s"n=$n planes=$p leaves cell ${n >> p} > $target")
      assert(p >= 2 && p <= 8)
    }
    // monotone: more data never means fewer planes
    val seq = (1 to 20).map(i => blockPlanesFor(i * 5000L, target))
    assert(seq == seq.sorted)
    // the test scales pin the concrete choices the oracles replay
    assert(blockPlanesFor(500L) == 2)   // sf0.01 embeddings
    assert(blockPlanesFor(5000L) == 5)  // sf0.1 embeddings
  }

  test("graph/layout/curation pack plans no cartesian product") {
    // audited by hand 2026-08-13: the only BroadcastNestedLoopJoins in
    // this pack are 1-row scalar broadcasts (q89 dangling mass, q93 token
    // total, q96 vocabulary size) and q97's k×k centroid pairing — all
    // bounded sides by construction. A CartesianProduct would mean a
    // scalar subquery or join condition regressed to unbounded pair work.
    Seq("q89_pagerank", "q90_anomaly_zscore", "q91_zorder", "q92_priority_sample",
      "q93_zipf", "q94_degree_hist", "q96_perplexity", "q97_centroid_silhouette",
      "q99_embedding_dup_groups", "q100_curation_funnel")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian product")
      }
    graft.operators.ResultMemo.release(spark)
  }

  test("dynamic partition pruning reaches the topic-partitioned log scan") {
    // The partition-layout twin of the bloom-filter pin: when the fact
    // table is PARTITIONED on the join key (the event log's topic
    // layout), a selective dim filter prunes whole partition DIRECTORIES
    // at runtime — at 100 TB the difference between listing five topic
    // dirs and scanning the lake. Pinned by the dynamicpruning expression
    // landing in the scan's partition filters.
    import spark.implicits._
    val base = tmpDir("dpp") + "/log"
    (0 until 2000)
      .map(i => (i.toLong, s"topic${i % 20}", i % 7))
      .toDF("id", "topic", "v")
      .write.partitionBy("topic").parquet(base)
    val fact = spark.read.parquet(base)
    // the dim must be a SCAN, not a local relation — a local dim's filter
    // constant-folds away at optimization and DPP then sees no selective
    // predicate to derive the pruning subquery from
    (0 until 20).map(i => (s"topic$i", i)).toDF("d_topic", "weight")
      .write.parquet(base + "-dim")
    val dim = spark.read.parquet(base + "-dim")
    val j = fact.join(dim.where($"weight" === 3), $"topic" === $"d_topic")
      .agg(org.apache.spark.sql.functions.sum($"v"))
    val plan = j.queryExecution.optimizedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the fact scan in:\n$plan")
  }

  test("runtime bloom filter injects on the fact side of a selective shuffle join") {
    // The 100 TB guard for fact⨝filtered-dim SHUFFLE joins (too big to
    // broadcast): Catalyst builds a bloom filter from the filtered dim keys
    // and semi-filters the fact scan before the exchange. Size thresholds
    // are tuned for clusters, so the test pins the MECHANISM by lowering
    // them to fixture scale; production configs inherit the defaults.
    import org.apache.spark.sql.functions.{col, sum => ssum}
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffle-join regime
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = sources.Tables.lineitem(spark, dir)
      val o = sources.Tables.orders(spark, dir).where(col("o_totalprice") > 400000)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate")).agg(ssum(col("l_quantity")))
      assert(j.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "expected a runtime bloom semi-filter on the lineitem side")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE size-first coalescing collapses a tiny shuffle to few tasks") {
    // Bench hygiene pin: with parallelismFirst (the default) AQE keeps
    // kilobyte shuffles at full parallelism — 32 scheduled tasks for a few
    // KB, the measured fixed-overhead drift on sub-second bench queries.
    // Bench.scala runs with size-first coalescing; this pins that the
    // mechanism actually rewrites the shuffle read to fewer partitions.
    import spark.implicits._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
      "spark.sql.shuffle.partitions" -> "32")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = spark.range(10000)
        .select(($"id" % 100).as("k")).groupBy($"k").count()
      df.collect() // AQE finalizes the physical plan only on execution
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead coalesced"),
        s"expected a coalesced AQE shuffle read in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the hot key of a skewed sort-merge join at runtime") {
    // The OTHER half of the skew story: q58 pins the static salting
    // pattern; this pins that the engine's own runtime replan (AQE skew
    // join) also handles a hot key — thresholds lowered to fixture scale,
    // same mechanism a 1000-executor job relies on.
    import org.apache.spark.sql.functions.{concat, lit, md5}
    import spark.implicits._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying 50k rows vs 100 cold keys with 10 each; the
      // pad is incompressible (md5) and aggregated downstream so it FLOWS
      // THROUGH the shuffle — a constant-only hot partition would compress
      // under the skew threshold and hide the skew from AQE's stats
      val skewed = spark.range(50000).select(lit("hot").as("k"), md5($"id".cast("string")).as("pad"))
        .union(spark.range(1000).select(concat(lit("cold"), $"id" % 100).as("k"),
          md5($"id".cast("string"))))
      val dim = (Seq("hot") ++ (0 until 100).map("cold" + _)).toDF("k")
        .select($"k", md5($"k").as("attr"))
      // global agg downstream: a per-key agg would REQUIRE the join's hash
      // partitioning and (absent force) veto the split
      val j = skewed.join(dim, "k")
        .agg(org.apache.spark.sql.functions.max($"pad"))
      j.collect() // AQE finalizes the physical plan only on execution
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a runtime skew-split sort-merge join in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("candidate pair space is linear: per-band buckets capped at MaxBand") {
    // The MaxBand guard bounds every band bucket, so candidate pairs per
    // doc per band never exceed MaxBand — total candidates <= bands * n *
    // MaxBand, never O(n^2). Asserted empirically on the LSH and SimHash
    // candidate generators.
    val nDocs = graft.sources.Tables.documents(spark, dir).count()
    val lshPairs = SparkEntry.queries("q31_minhash_lsh")(spark, dir).count()
    assert(lshPairs <= 8 * nDocs * 100, s"$lshPairs LSH pairs exceeds the band-cap bound")
    val shPairs = SparkEntry.queries("q69_simhash_neardup")(spark, dir).count()
    assert(shPairs <= 4 * nDocs * 100, s"$shPairs simhash pairs exceeds the band-cap bound")
    graft.operators.ResultMemo.release(spark)
  }

  test("round-8: the byUser cache layout serves the window family sort-free") {
    // EventStats.byUser is partitioned by user AND sorted within
    // partitions on (user_id, ts, event_id), eagerly materialized so the
    // InMemoryTableScan reports that layout. The per-user window family
    // must then plan with NO window sort — the only sorts left in q22
    // are the final presentation orderBy (no `ts` in its keys). A
    // regression (lost ordering metadata, lazy cache, AQE re-plan of the
    // cached side) reintroduces a SortExec keyed on ts.
    import org.apache.spark.sql.execution.SortExec
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.queries.EventStats.byUser(spark, dir).count()
      // passthrough: q150 is report-memoized (r9) — the pin must read its
      // real window plan, not the memoized local relation
      withReportPassthrough {
        for (q <- Seq("q22_sessionize", "q17_rolling_sum", "q150_gap_percentiles")) {
          val phys = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
          val windowSorts = phys.collect {
            case s: SortExec if s.sortOrder.exists(_.child.toString.startsWith("ts#")) => s
          }
          assert(windowSorts.isEmpty,
            s"$q re-sorts by ts — the byUser cache layout is not being reused:\n$phys")
        }
      }
    } finally {
      saved.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
        v => spark.conf.set("spark.sql.adaptive.enabled", v))
      graft.operators.ResultMemo.release(spark)
    }
  }

  test("round-8: no data-sized broadcast survives in q141/q192 at scale") {
    // The two r7-verdict `weak` marks. q141: past the row-count gate the
    // probe side must ride the IVF cell equi-join SHUFFLED, never a
    // corpus-half broadcast. q192: the test split (10% of the corpus)
    // must not carry a broadcast HINT — with the auto threshold disabled
    // the cell join has to degrade to a shuffled join (a hint would
    // survive threshold=-1, so a shuffled plan proves the hint is gone).
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val confs = Map(
      "graft.bitext.maxExactProbeRows" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // q192 memoizes its ledger (r9) — passthrough exposes the real plan
      "spark.graft.report.passthrough" -> "true",
      // AQE's AdaptiveSparkPlanExec is a LEAF wrapper — collect() cannot
      // descend into it, so plan-node assertions need the static planner
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      for (q <- Seq("q141_bitext_margin", "q192_semantic_decontamination")) {
        val phys = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
        val cellKey = (e: org.apache.spark.sql.catalyst.expressions.Expression) =>
          Seq("cell", "sc", "qc").exists(k => e.toString.startsWith(k + "#"))
        val shuffledOnCell = phys.collect {
          case j: SortMergeJoinExec if (j.leftKeys ++ j.rightKeys).exists(cellKey) => j
          case j: ShuffledHashJoinExec if (j.leftKeys ++ j.rightKeys).exists(cellKey) => j
        }
        assert(shuffledOnCell.nonEmpty,
          s"$q: expected the probe join to shuffle on the IVF cell key:\n$phys")
        val broadcastProbe = phys.collect {
          case j: BroadcastHashJoinExec if (j.leftKeys ++ j.rightKeys).exists(cellKey) => j
          case j: BroadcastNestedLoopJoinExec => j
        }
        assert(broadcastProbe.isEmpty,
          s"$q: a data-sized broadcast survived the scale gate:\n$phys")
      }
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      graft.operators.ResultMemo.release(spark)
    }
  }
}
