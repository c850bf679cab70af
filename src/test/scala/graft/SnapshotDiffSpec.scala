package graft


import graft.operators.SnapshotDiff

/** Laws for the snapshot-diff operator (q132): every key lands in exactly
  * one of the four statuses, the diff join moves hashes (not bodies), and
  * the summary rollup matches a hand count.
  */
class SnapshotDiffSpec extends SparkSpec {

  import spark.implicits._

  private lazy val v1 = Seq(
    (1L, "alpha"), (2L, "bravo"), (3L, "charlie"), (4L, "delta"))
    .toDF("id", "body")
  private lazy val v2 = Seq(
    (2L, "bravo"), (3L, "charlie EDITED"), (4L, "delta"), (5L, "echo"))
    .toDF("id", "body")

  test("statuses are exhaustive and correct") {
    val got = SnapshotDiff.diff(v1, v2, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "unchanged", 5L -> "added"))
  }

  test("summary rolls up per dimension") {
    val dims = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "de"), (5L, "en"))
      .toDF("id", "lang")
    val got = SnapshotDiff.summary(v1, v2, "id", "body", dims)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("en", "removed") -> 1L, ("en", "unchanged") -> 1L, ("en", "added") -> 1L,
      ("de", "changed") -> 1L, ("de", "unchanged") -> 1L))
  }

  test("delta ships churn only; applyDelta(v1, delta) reconstructs v2 exactly") {
    val d = SnapshotDiff.delta(v1, v2, "id", "body")
    val rows = d.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // unchanged keys (2, 4) are absent; 1 removed; 3 changed; 5 added
    assert(rows == Map(1L -> "removed", 3L -> "changed", 5L -> "added"))
    val rebuilt = SnapshotDiff.applyDelta(v1, d, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = v2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rebuilt == want, "applyDelta(v1, delta(v1,v2)) must equal v2")
  }

  test("delta/apply convergence holds on randomized snapshots") {
    val rnd = new scala.util.Random(17)
    def snap(): Seq[(Long, String)] =
      (0L until 80L).filter(_ => rnd.nextBoolean())
        .map(k => k -> s"body-$k-v${rnd.nextInt(3)}")
    for (_ <- 1 to 3) {
      val a = snap().toDF("id", "body")
      val b = snap().toDF("id", "body")
      val rebuilt = SnapshotDiff.applyDelta(a, SnapshotDiff.delta(a, b, "id", "body"), "id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = b.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rebuilt == want)
    }
  }

  test("the diff join carries hashes, not bodies") {
    // file-backed inputs so the projection reaches a real scan
    val base = tmpDir("graft-snap")
    try {
      v1.write.parquet(s"$base/v1"); v2.write.parquet(s"$base/v2")
      val plan = SnapshotDiff.diff(
        spark.read.parquet(s"$base/v1"), spark.read.parquet(s"$base/v2"),
        "id", "body").queryExecution.executedPlan.toString
      // the join's shuffle inputs are the projected (key, md5) pairs — the
      // body column is consumed by the md5 below the exchange, and no join
      // operator sees it
      val joinLines = plan.linesIterator.filter(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).toSeq
      assert(joinLines.nonEmpty, s"no shuffled join in:\n$plan")
      assert(joinLines.forall(!_.contains("body")),
        s"join operates on raw bodies:\n$plan")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
