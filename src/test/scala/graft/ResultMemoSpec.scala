package graft

import org.apache.spark.storage.StorageLevel

/** The batch-lifetime store (operators.ResultMemo): the report-treatment
  * contract — compute once per key, preserve schema (names, types,
  * nullability) and row order exactly, and serve repeat readers the same
  * driver-local relation, the semantics the r9 memoized ledgers
  * (q20/q102/q108/...) rely on for hash-stability — plus the one batch
  * boundary: `release` forgets every entry of every kind and returns the
  * session to its pre-run storage footprint, so a long-lived session
  * invoking the pipelines over changing inputs does not accrete
  * storage-memory entries.
  */
class ResultMemoSpec extends SparkSpec {

  import graft.operators.ResultMemo

  private val dir = "/root/testdata/sf0.001"

  test("report: computes once, preserves schema/order/nulls, memo identity") {
    import spark.implicits._
    def frame = Seq((3L, "c", Option(2.5)), (1L, "a", Option(0.5)),
        (2L, "b", Option.empty[Double]))
      .toDF("id", "tag", "score")
      .orderBy($"id".desc)
    var builds = 0
    val name = s"report-spec:${System.identityHashCode(this)}"
    val a = ResultMemo.report(spark, name, "spec") { builds += 1; frame }
    val b = ResultMemo.report(spark, name, "spec") { builds += 1; frame }
    assert(builds == 1, "report must compute exactly once per key")
    assert(a.schema == frame.schema, "schema must be preserved exactly")
    assert(a.collect().map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L),
      "collected row order must be preserved")
    assert(a.where($"id" === 2L).select($"score").collect().head.isNullAt(0),
      "nulls must survive the round-trip")
    assert(a eq b, "repeat readers must get the memoized frame")
    ResultMemo.release(spark)
  }

  test("report: a data-proportional frame trips the row cap loudly") {
    // the bounded-ledger contract is enforced, not just declared (r9
    // advisor finding): an unbounded report must fail fast with the key
    // in the message, never silently collect toward a driver OOM
    val name = s"report-cap-spec:${System.identityHashCode(this)}"
    val e = intercept[IllegalStateException] {
      ResultMemo.report(spark, name, "spec") {
        spark.range(ResultMemo.MaxReportRows + 10L).toDF("id")
      }
    }
    assert(e.getMessage.contains(name) && e.getMessage.contains("bounded"))
    // and the failed key is not poisoned: a bounded retry under the same
    // key computes fine
    assert(ResultMemo.report(spark, name, "spec") { spark.range(3).toDF("id") }.count() == 3)
    ResultMemo.release(spark)
  }

  test("release drops every pipeline cache — no accretion across invocations") {
    ResultMemo.release(spark) // clean slate regardless of suite order
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    // Earlier suites release with unpersist(blocking = false), so their
    // stragglers may still be DRAINING when this suite samples — the
    // baseline can only shrink. The contract under test is no ACCRETION:
    // after release the footprint is never above the (tightening) floor.
    var baseline = persisted
    for (round <- 1 to 3) {
      SparkEntry.queries("q31_minhash_lsh")(spark, dir).count()
      SparkEntry.queries("q33_lsh_jaccard")(spark, dir).count()
      assert(persisted > baseline, s"round $round: pipeline caches should be live")
      ResultMemo.release(spark)
      val after = persisted
      assert(after <= baseline,
        s"round $round: storage footprint must not accrete past the floor ($after > $baseline)")
      baseline = math.min(baseline, after)
    }
  }

  test("release on an empty store is a no-op") {
    ResultMemo.release(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    ResultMemo.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("one release drops a frame, a report, an artifact and a cached base table") {
    import spark.implicits._
    ResultMemo.release(spark)
    var builds = Map.empty[String, Int].withDefaultValue(0)
    def frame() = ResultMemo.getOrCompute(spark, "release-spec", dir) {
      builds += "frame" -> (builds("frame") + 1)
      val df = Seq(1L, 2L).toDF("id").cache()
      df.count()
      df
    }
    def report() = ResultMemo.report(spark, "release-spec", dir) {
      builds += "report" -> (builds("report") + 1)
      Seq(1L).toDF("id")
    }
    def artifact() = ResultMemo.artifact(spark, "release-spec", dir) {
      builds += "artifact" -> (builds("artifact") + 1)
      Array(1, 2, 3)
    }
    def table() = graft.EngineSession.withConf(spark,
        "spark.graft.cacheBaseTables" -> "true") {
      graft.sources.Tables.nation(spark, dir)
    }
    // the four kinds share (name, dir) without colliding
    val (f1, r1, a1, t1) = (frame(), report(), artifact(), table())
    val (f2, r2, a2, t2) = (frame(), report(), artifact(), table())
    assert(builds == Map("frame" -> 1, "report" -> 1, "artifact" -> 1))
    assert((f1 eq f2) && (r1 eq r2) && (a1 eq a2) && (t1 eq t2))
    assert(f1.storageLevel != StorageLevel.NONE && t1.storageLevel != StorageLevel.NONE)

    ResultMemo.release(spark)
    assert(f1.storageLevel == StorageLevel.NONE, "frame cache must be dropped")
    assert(t1.storageLevel == StorageLevel.NONE, "base-table cache must be dropped")
    val (f3, r3, a3, t3) = (frame(), report(), artifact(), table())
    assert(builds == Map("frame" -> 2, "report" -> 2, "artifact" -> 2))
    assert(!(f3 eq f1) && !(r3 eq r1) && !(a3 eq a1) && !(t3 eq t1))
    assert(t3.count() == 25)
    ResultMemo.release(spark)
  }

  test("a hub is one memoized cached frame per batch, fresh after release") {
    // shared BY NAME, not by re-spelling an identical plan: every caller
    // gets the same frame, cached once
    ResultMemo.release(spark)
    val a = graft.queries.DocProfiles.profiled(spark, dir)
    assert(graft.queries.DocProfiles.profiled(spark, dir) eq a)
    assert(a.storageLevel != StorageLevel.NONE)
    ResultMemo.release(spark)
    val b = graft.queries.DocProfiles.profiled(spark, dir)
    assert(!(b eq a), "release must end the batch: the next call builds anew")
    assert(b.storageLevel != StorageLevel.NONE)
    ResultMemo.release(spark)
  }

  test("a new session gets its own entry under the same (name, dir)") {
    val other = spark.newSession()
    var builds = 0
    def memo(s: org.apache.spark.sql.SparkSession) =
      ResultMemo.getOrCompute(s, "session-spec", dir) { builds += 1; s.range(2).toDF("id") }
    val mine = memo(spark)
    val theirs = memo(other)
    assert(builds == 2, "the second session must compute its own entry")
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(memo(other) eq theirs)
    assert(builds == 2)
    ResultMemo.release(spark)
  }
}
