package graft

import graft.operators.BatchMetrics

/** The batch ops ledger observes real actions: scan rows from the
  * executed plan's SQL metrics, shuffle bytes for an aggregation, and
  * per-action accounting.
  */
class BatchMetricsSpec extends SparkSpec {

  test("snapshot reports scan rows and shuffle bytes of completed actions") {
    import spark.implicits._
    val m = BatchMetrics.install(spark)
    try {
      val dir = "/root/testdata/sf0.001"
      sources.Tables.nation(spark, dir)
        .groupBy($"n_regionkey").count().collect()
      // listener bus is async — poll for the row
      val deadline = System.nanoTime() + 10e9.toLong
      def rows() = m.snapshot(spark)
        .as[(String, Long, Long, Long, Boolean)].collect().toSeq
      var got = rows()
      while (got.isEmpty && System.nanoTime() < deadline) { Thread.sleep(100); got = rows() }
      assert(got.nonEmpty, "action never reached the ledger")
      val r = got.find(_._1 == "collect").getOrElse(got.head)
      assert(r._3 == 25L, s"nation scan should report 25 rows, got ${r._3}")
      assert(r._4 > 0L, "a groupBy must move bytes through the exchange")
      assert(!r._5)
    } finally BatchMetrics.uninstall(spark, m)
  }

  test("the ledger keeps only the newest MaxActions actions") {
    import spark.implicits._
    val m = new BatchMetrics
    val qe = spark.range(1).queryExecution
    val n = BatchMetrics.MaxActions + 5
    (0 until n).foreach(i => m.onSuccess(s"a$i", qe, 0L))
    val actions = m.snapshot(spark).as[(String, Long, Long, Long, Boolean)]
      .collect().map(_._1).toSeq
    assert(actions.size == BatchMetrics.MaxActions)
    assert(actions == (5 until n).map(i => s"a$i"),
      "the five oldest actions must be the ones dropped, order kept")
  }

  test("retention scheduler publishes draining_sweeps and lifetime counters as gauges") {
    import spark.implicits._
    val m = new BatchMetrics
    val broker = new graft.broker.EventBroker(spark, tmpDir("gauge-broker"))
    val sched = new graft.broker.RetentionScheduler(broker).registerGauges(m)
    def gauge(name: String): Long =
      m.gauges(spark).as[(String, Long)].collect().toMap.apply(name)
    // quiescent scheduler: no residue, nothing swept yet
    assert(gauge("retention.draining_sweeps") == 0L)
    assert(gauge("retention.total_sweeps") == 0L)
    sched.sweepOnce()
    assert(gauge("retention.total_sweeps") == 1L)
    assert(gauge("retention.total_deleted") == 0L) // no retention policies armed
    sched.close()
    assert(gauge("retention.draining_sweeps") == 0L) // close() drained cleanly
  }

  test("a throwing gauge reads -1 instead of failing the snapshot") {
    import spark.implicits._
    val m = new BatchMetrics
    m.gauge("boom")(() => throw new IllegalStateException("gone"))
    m.gauge("fine")(() => 7L)
    val got = m.gauges(spark).as[(String, Long)].collect().toMap
    assert(got == Map("boom" -> -1L, "fine" -> 7L))
  }
}
