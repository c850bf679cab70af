package graft

import java.sql.Timestamp

import graft.dlq.{InMemoryDeadLetterQueue, ParquetDeadLetterQueue}
import graft.model.EventRow

/** Mirrors reference tests/deadletter_test.ts across both impls. */
class DlqSpec extends SparkSpec {

  private def ev(id: String, tpe: String = "test-event", topic: String = "test-topic") =
    EventRow(id, tpe, topic, new Timestamp(1000), "1.0",
      """{"message":"Hello, World!"}""", Map("source" -> "test"))

  private def impls() = Seq(
    "memory" -> new InMemoryDeadLetterQueue,
    "parquet" -> new ParquetDeadLetterQueue(spark, tmpDir("dlq") + "/dlq"))

  test("add + filtered get, newest first, limited (deadletter_test.ts add/get suites)") {
    impls().foreach { case (name, q) =>
      q.addEvent(ev("e1", topic = "t1"), "err1", "sub1")
      Thread.sleep(5) // distinct DLQ timestamps for the desc sort
      q.addEvent(ev("e2", tpe = "other", topic = "t2"), "err2", "sub2")
      Thread.sleep(5)
      q.addEvent(ev("e3", topic = "t1"), "err3", "sub1")

      val all = q.getEvents()
      assert(all.map(_.event.id) == Seq("e3", "e2", "e1"), s"[$name] newest first")
      assert(q.getEvents(topic = Some("t1")).map(_.event.id) == Seq("e3", "e1"), name)
      assert(q.getEvents(eventType = Some("other")).map(_.event.id) == Seq("e2"), name)
      assert(q.getEvents(limit = Some(2)).map(_.event.id) == Seq("e3", "e2"), name)
      assert(all.forall(_.attempts == 1), name)
    }
  }

  test("equal timestamps: newest first, ties by id descending in every queue") {
    // adds in a tight loop share a millisecond, so the tie-break decides
    impls().foreach { case (name, q) =>
      Seq("e2", "e1", "e3").foreach(id => q.addEvent(ev(id), "err", "sub"))
      val got = q.getEvents()
      val expected = got.sortBy(e =>
        (e.timestamp.getTime, e.timestamp.getNanos, e.event.id)).reverse
      assert(got.map(_.event.id) == expected.map(_.event.id), s"[$name] (timestamp desc, id desc)")
    }
  }

  test("successful retry removes; failing retry increments attempts + updates error") {
    impls().foreach { case (name, q) =>
      q.addEvent(ev("e1"), "orig", "sub1")
      // callback returns false → attempts+1, entry stays
      assert(!q.retryEvent("e1", (_, _) => false), name)
      assert(q.getEvents().head.attempts == 2, name)
      assert(q.getEvents().head.error == "orig", name)
      // callback throws → attempts+1, error replaced
      assert(!q.retryEvent("e1", (_, _) => throw new RuntimeException("new boom")), name)
      val e = q.getEvents().head
      assert(e.attempts == 3 && e.error == "new boom", name)
      // success → removed
      assert(q.retryEvent("e1", (_, s) => { assert(s == "sub1"); true }), name)
      assert(q.getEvents().isEmpty, name)
      // missing id → false
      assert(!q.retryEvent("nope", (_, _) => true), name)
    }
  }

  test("removeEvent; remove-missing is false (deadletter_test.ts remove suite)") {
    impls().foreach { case (name, q) =>
      q.addEvent(ev("e1"), "err", "sub")
      assert(q.removeEvent("e1"), name)
      assert(!q.removeEvent("e1"), name)
      assert(q.getEvents().isEmpty, name)
    }
  }

  test("remove/retry rewrite is executor-side — no full-table collect (r13 advisor)") {
    import spark.implicits._
    val q = new ParquetDeadLetterQueue(spark, tmpDir("dlq") + "/dlq")
    val payload = "x" * 5000
    val rows = (1 to 2000).map { i =>
      graft.model.DeadLetterRow(ev(f"e$i%04d").copy(payload = payload),
        "err", "sub", new Timestamp(1000L + i), 1)
    }
    q.addEvents(rows.toDS())
    // ~10 MB of payload on disk. A full-table collect ships it all to the
    // driver as task results; the executor-side rewrite returns only the
    // point lookup (one 5 KB row) plus write-commit metadata. Sum task
    // result sizes across the two point mutations and bound them far
    // below the table size.
    val fetched = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null) fetched.addAndGet(t.taskMetrics.resultSize)
        events.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(q.removeEvent("e0042"))
      assert(!q.retryEvent("e0043", (_, _) => false))
      // drain the listener bus: poll until the task-end stream goes quiet
      var last = -1L
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (events.get() != last && System.nanoTime() < deadline) {
        last = events.get(); Thread.sleep(300)
      }
      assert(fetched.get() < 2L * 1024 * 1024,
        s"point mutations fetched ${fetched.get()} bytes to the driver — " +
          "a full-table collect crept back into the rewrite path")
    } finally spark.sparkContext.removeSparkListener(listener)
    // semantics unchanged: one row gone, one row's attempts bumped
    assert(q.getEvents(limit = Some(5000)).size == 1999)
    val bumped = q.getEvents().find(_.event.id == "e0043").get
    assert(bumped.attempts == 2)
  }

  test("parquet DLQ opened after a crashed rewrite swap reads the old entries or the new") {
    import java.io.File
    val base = tmpDir("dlq")
    val path = s"$base/dlq"
    val q = new ParquetDeadLetterQueue(spark, path)
    Seq("e1", "e2").foreach(id => q.addEvent(ev(id), "err", "sub"))
    val (live, aside) = (new File(path), new File(base, ".aside_dlq"))
    def reopened = new ParquetDeadLetterQueue(spark, path).getEvents().map(_.event.id).sorted
    // died between its renames: the entries sit only under the aside name
    assert(live.renameTo(aside))
    assert(reopened == Seq("e1", "e2"))
    assert(live.isDirectory && !aside.exists())
    // died before its last delete: the new table is live, the old one aside
    val old = new File(tmpDir("old"), "dlq")
    org.apache.commons.io.FileUtils.copyDirectory(live, old)
    assert(q.removeEvent("e1"))
    assert(old.renameTo(aside))
    assert(reopened == Seq("e2"))
    assert(!aside.exists())
  }

  test("parquet DLQ is queryable as a DataFrame (S6 — the queue is a table)") {
    import spark.implicits._
    val q = new ParquetDeadLetterQueue(spark, tmpDir("dlq") + "/dlq")
    q.addEvent(ev("e1", topic = "t1"), "err1", "sub1")
    q.addEvent(ev("e2", topic = "t2"), "err2", "sub1")
    val byTopic = q.getEventsDF().groupBy($"event.topic").count().collect()
    assert(byTopic.length == 2)
  }
}
