package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.model.EventRow
import graft.sources.EventLog

/** Pins the layout-pruning contract for the bucketed (many-topics) event
  * log: a plain `topic = 'x'` DataFrame/SQL filter — written by callers who
  * know nothing about the md5 bucketing — must reach the scan as a
  * partition filter on `topic_bucket` ([[graft.plans.TopicBucketPruning]]),
  * listing only the topic's bucket directory, and the injected predicate
  * must never change results.
  */
class TopicBucketPruningSpec extends SparkSpec {

  private val Buckets = 8

  private def mkLog(): EventLog = {
    val log = EventLog.bucketed(spark, tmpDir("bucket-prune"), Buckets)
    val rows = for {
      t <- 0 until 12
      i <- 0 until 5
    } yield EventRow(s"e$t-$i", s"type${i % 2}", s"aggregate.acct.$t",
      new Timestamp(1700000000000L + t * 1000L + i), "1", """{"v":1}""", Map.empty)
    log.appendRows(rows)
    log
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    // AQE wraps shuffling plans in AdaptiveSparkPlanExec (a leaf to collect);
    // recurse into its current plan to reach the scan
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case s: FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
      }.flatten
    find(df.queryExecution.executedPlan).headOption
      .getOrElse(fail("no FileSourceScanExec in plan"))
  }

  test("topic equality lists exactly one bucket directory") {
    import spark.implicits._
    val log = mkLog()
    val df = log.all.where($"topic" === "aggregate.acct.3")
    val scan = scanOf(df)
    assert(scan.metadata("PartitionFilters").contains("topic_bucket"),
      s"no bucket partition filter:\n${scan.metadata("PartitionFilters")}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 bucket, scanned ${scan.selectedPartitions.partitionCount}")
    assert(df.count() == 5)
  }

  test("topic IN-list prunes to the union of buckets, results unchanged") {
    import spark.implicits._
    val log = mkLog()
    val topics = Seq("aggregate.acct.1", "aggregate.acct.7", "aggregate.acct.9")
    val expectBuckets = topics.map(EventLog.bucketOf(_, Buckets)).distinct.size
    val df = log.all.where($"topic".isin(topics: _*))
    assert(scanOf(df).selectedPartitions.partitionCount == expectBuckets)
    // ground truth from the log's own API (which adds the predicate by hand)
    val expected = topics.flatMap(t =>
      log.getEvents(t).select($"id").collect().map(_.getString(0))).sorted
    val got = df.select($"id").collect().map(_.getString(0)).sorted.toSeq
    assert(got == expected && got.size == 15)
  }

  test("the SQL front door gets the same pruning through a temp view") {
    val log = mkLog()
    log.all.createOrReplaceTempView("bucketed_events")
    val df = spark.sql(
      "SELECT count(*) AS n FROM bucketed_events WHERE topic = 'aggregate.acct.5'")
    assert(scanOf(df).selectedPartitions.partitionCount == 1)
    assert(df.head().getLong(0) == 5L)
  }

  test("a SQL view with a select-list (aliased topic) still prunes to one bucket") {
    // plans Filter(Project(relation)) — the shape the plain-relation match
    // arm misses; the rule must rewrite the aliased predicate through the
    // project and inject the bucket conjunct beneath it
    val log = mkLog()
    log.all.createOrReplaceTempView("bucketed_raw")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW bucketed_view AS
                 SELECT topic AS subject, type AS kind, id FROM bucketed_raw""")
    val df = spark.sql(
      "SELECT subject, kind, id FROM bucketed_view WHERE subject = 'aggregate.acct.4'")
    val scan = scanOf(df)
    assert(scan.metadata("PartitionFilters").contains("topic_bucket"),
      s"no bucket partition filter:\n${scan.metadata("PartitionFilters")}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 bucket, scanned ${scan.selectedPartitions.partitionCount}")
    assert(df.count() == 5)
  }

  test("re-creating a log at the same path with a different bucket count is not served stale") {
    import spark.implicits._
    val dir = tmpDir("bucket-prune-stale")
    val mk = (buckets: Int) => {
      val log = EventLog.bucketed(spark, dir, buckets)
      log.appendRows((0 until 5).map(i => EventRow(s"e$i", "type0", "acct.stale",
        new Timestamp(1700000000000L + i), "1", "{}", Map.empty)))
      log
    }
    // first layout populates the meta cache for this path
    assert(mk(8).all.where($"topic" === "acct.stale").count() == 5)
    // drop and re-create with a different count at the SAME path: a cache
    // keyed by path alone would serve n=8, prune to the wrong directory,
    // and silently return 0 rows
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Thread.sleep(5) // distinct sidecar mtime even on coarse filesystems
    val df = mk(3).all.where($"topic" === "acct.stale")
    assert(scanOf(df).selectedPartitions.partitionCount == 1)
    assert(df.count() == 5, "stale bucket count dropped rows")
  }

  test("non-topic filters are left alone; unbucketed logs are untouched") {
    import spark.implicits._
    val log = mkLog()
    // type-only predicate: nothing to derive, all buckets listed
    val noTopic = log.all.where($"type" === "type0")
    assert(!scanOf(noTopic).metadata("PartitionFilters").contains("topic_bucket"))
    // per-topic layout: partitioned by topic itself, Spark prunes natively
    val flat = EventLog(spark, tmpDir("bucket-prune-flat"))
    flat.appendRows(Seq(EventRow("e1", "type0", "t.a",
      new Timestamp(1700000000000L), "1", "{}", Map.empty)))
    assert(flat.getEvents("t.a").count() == 1)
  }

  test("conjunction with other predicates still prunes and still filters") {
    import spark.implicits._
    val log = mkLog()
    val df = log.all.where($"topic" === "aggregate.acct.3" && $"type" === "type1")
    assert(scanOf(df).selectedPartitions.partitionCount == 1)
    assert(df.count() == 2) // i ∈ {1,3} of 5
  }
}
