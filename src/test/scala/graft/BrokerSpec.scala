package graft

import java.sql.Timestamp
import scala.collection.mutable

import graft.broker._
import graft.dlq.InMemoryDeadLetterQueue
import graft.model.EventRow
import graft.schema.SchemaRegistry
import graft.sources.ScanOptions

/** Mirrors the reference's broker tests
  * (reference: tests/broker_test.ts:5-75) plus the publish/persist laws.
  */
class BrokerSpec extends SparkSpec {

  private def newBroker() =
    new EventBroker(spark, tmpDir("log"), new InMemoryDeadLetterQueue)

  test("creates and retrieves topics (broker_test.ts:5-11)") {
    val b = newBroker()
    b.createTopic("test-topic")
    assert(b.getTopic("test-topic").isDefined)
    assert(b.getTopic("test-topic").get.name == "test-topic")
    assert(b.getTopic("missing").isEmpty)
  }

  test("subscribe + publish round-trip (broker_test.ts:13-30)") {
    val b = newBroker()
    val received = mutable.Buffer.empty[EventRow]
    b.subscribe("user-events", e => received += e)
    val result = b.publish("user-events", "user.created", """{"userId":"123"}""")
    assert(result.success)
    assert(result.receiverCount == 1)
    assert(received.size == 1)
    assert(received.head.`type` == "user.created")
    assert(received.head.payload == """{"userId":"123"}""")
  }

  test("event-type filtering delivers only matching types in order (broker_test.ts:32-48)") {
    val b = newBroker()
    val received = mutable.Buffer.empty[String]
    b.subscribe("orders", e => received += e.`type`,
      SubscriptionOptions(eventTypes = Seq("order.created", "order.shipped")))
    b.publish("orders", "order.created", "{}")
    b.publish("orders", "order.cancelled", "{}") // filtered out
    b.publish("orders", "order.shipped", "{}")
    assert(received.toSeq == Seq("order.created", "order.shipped"))
  }

  test("failing handler retries then dead-letters (broker_test.ts:50-75)") {
    val dlq = new InMemoryDeadLetterQueue
    val b = new EventBroker(spark, tmpDir("log"), dlq)
    var attempts = 0
    b.subscribe("jobs", { _ => attempts += 1; throw new RuntimeException("boom") },
      SubscriptionOptions(name = Some("job-sub"), maxRetries = 2, retryDelayMillis = 0))
    val result = b.publish("jobs", "job.run", "{}")
    assert(result.success) // publish succeeds even when delivery fails (topic.ts:133-140)
    assert(attempts == 2) // handler invoked maxRetries times total (subscription.ts:91-98)
    val entries = dlq.getEvents()
    assert(entries.size == 1)
    assert(entries.head.error == "boom")
    assert(entries.head.subscription == "job-sub")
    assert(entries.head.attempts == 1)
  }

  test("publish persists before delivery; non-persistent topics skip the log") {
    val b = newBroker()
    var persistedAtDelivery = false
    b.createTopic("t1")
    b.subscribe("t1", _ => persistedAtDelivery = b.log.hasEvents("t1"))
    b.publish("t1", "a", "{}")
    assert(persistedAtDelivery) // store-then-forward (topic.ts:112-115)

    b.createTopic("t2", TopicOptions(persistent = false))
    b.publish("t2", "a", "{}")
    assert(!b.log.hasEvents("t2"))
  }

  test("schema validation failure fails the publish with receiverCount 0 (topic.ts:103-110)") {
    val reg = new SchemaRegistry
    reg.registerSchema("user.created",
      """{"type":"object","required":["userId"],"properties":{"userId":{"type":"string"}}}""",
      "1.0")
    val b = newBroker()
    b.createTopic("users", TopicOptions(schemaRegistry = Some(reg)))
    var delivered = 0
    b.subscribe("users", _ => delivered += 1)
    val bad = b.publish("users", "user.created", """{"name":"no-id"}""")
    assert(!bad.success && bad.receiverCount == 0 && delivered == 0)
    assert(!b.log.hasEvents("users")) // invalid events are never persisted
    val good = b.publish("users", "user.created", """{"userId":"u1"}""")
    assert(good.success && delivered == 1)
  }

  test("replayEvents delivers stored events in timestamp order with count (broker.ts:144-161)") {
    val b = newBroker()
    b.publish("metrics", "m", """{"v":1}""")
    b.publish("metrics", "m", """{"v":2}""")
    b.publish("metrics", "n", """{"v":3}""")
    val seen = mutable.Buffer.empty[String]
    val n = b.replayEvents("metrics", e => seen += e.payload)
    assert(n == 3)
    assert(seen.toSeq == Seq("""{"v":1}""", """{"v":2}""", """{"v":3}"""))
    val nTyped = b.replayEvents("metrics", _ => (),
      ScanOptions(eventTypes = Seq("n")))
    assert(nTyped == 1)
  }

  test("historical replay on subscribe (topic.ts:70-86)") {
    val b = newBroker()
    b.publish("hist", "a", """{"v":1}""")
    b.publish("hist", "a", """{"v":2}""")
    val seen = mutable.Buffer.empty[String]
    b.subscribe("hist", e => seen += e.payload,
      SubscriptionOptions(receiveHistoricalEvents = true))
    assert(seen.toSeq == Seq("""{"v":1}""", """{"v":2}"""))
  }

  test("paused subscription drops events; resume re-enables (subscription.ts:62-81)") {
    val b = newBroker()
    val seen = mutable.Buffer.empty[String]
    val sub = b.subscribe("p", e => seen += e.payload)
    b.publish("p", "a", "1")
    sub.pause()
    b.publish("p", "a", "2") // lost for this subscriber — reference semantics
    sub.resume()
    b.publish("p", "a", "3")
    assert(seen.toSeq == Seq("1", "3"))
  }

  test("fan-out to multiple subscribers with per-subscriber error isolation (topic.ts:117-143)") {
    val b = newBroker()
    val seenA = mutable.Buffer.empty[String]
    val seenB = mutable.Buffer.empty[String]
    b.subscribe("fan", e => seenA += e.id, SubscriptionOptions(name = Some("a")))
    b.subscribe("fan", { e => seenB += e.id; throw new RuntimeException("b dies") },
      SubscriptionOptions(name = Some("b"), maxRetries = 1, retryDelayMillis = 0))
    val r = b.publish("fan", "x", "{}")
    assert(r.success && r.receiverCount == 2) // thrower still counted as receiver
    assert(seenA.size == 1 && seenB.size == 1) // b's failure never reached a or the publisher
  }

  test("unsubscribe stops delivery; topic catalog ops (broker.ts:55-82)") {
    val b = newBroker()
    val seen = mutable.Buffer.empty[String]
    val sub = b.subscribe("cat", e => seen += e.id, SubscriptionOptions(name = Some("s1")))
    b.publish("cat", "x", "{}")
    assert(b.getTopic("cat").get.unsubscribe(sub.id))
    b.publish("cat", "x", "{}")
    assert(seen.size == 1) // second publish had no receivers
    assert(b.topicNames.contains("cat"))
    assert(b.deleteTopic("cat") && !b.deleteTopic("cat"))
    assert(b.getTopic("cat").isEmpty)
  }

  test("topic retention policy sweeps only old events of its own topic (topic.ts:156-163)") {
    val b = newBroker()
    val old = System.currentTimeMillis() - 100000
    b.log.appendRows(Seq(
      EventRow("old1", "x", "ret", new Timestamp(old), "1.0", "{}", Map.empty),
      EventRow("new1", "x", "ret", new Timestamp(System.currentTimeMillis()), "1.0", "{}", Map.empty)))
    val t = b.createTopic("ret", TopicOptions(retentionPeriodMillis = 60000))
    assert(t.applyRetentionPolicy() == 1) // old1 swept
    assert(b.log.getEventsTyped("ret").collect().map(_.id).toSeq == Seq("new1"))
    // period 0 = keep forever (topic.ts:31-33): sweep is a no-op
    val keep = b.createTopic("keep") // default retention 0
    b.publish("keep", "x", "{}")
    assert(keep.applyRetentionPolicy() == 0)
    assert(b.log.hasEvents("keep"))
  }

  test("publishBatch persists one append for the whole batch; appendDF accepted") {
    val b = newBroker()
    val seen = mutable.Buffer.empty[String]
    b.subscribe("bat", e => seen += e.payload)
    val now = System.currentTimeMillis()
    val rows = (1 to 3).map(i =>
      EventRow(s"b$i", "x", "bat", new Timestamp(now + i), "1.0", s"$i", Map.empty))
    val receivers = b.createTopic("bat").publishBatch(rows)
    assert(receivers == 1)
    assert(seen.toSeq == Seq("1", "2", "3"))
    assert(b.log.getEventsTyped("bat").collect().map(_.id).toSeq == Seq("b1", "b2", "b3"))
    import spark.implicits._
    b.log.append(spark.createDataset(Seq(
      EventRow("b9", "x", "bat", new Timestamp(now + 9), "1.0", "9", Map.empty))).toDF().as[EventRow])
    assert(b.log.getEventsTyped("bat").collect().map(_.id).last == "b9")
  }

  private def publishAsOneGroup(b: EventBroker, n: Int)(
      publish: Int => PublishResult): Seq[PublishResult] =
    GroupCommit.asOneGroup(b.log, n)(publish).map(_.get)

  test("concurrent publishes from multiple threads all persist (append is serialized)") {
    val b = newBroker()
    // store-then-forward under group commit: each sync handler already
    // finds its own event in the log
    val found = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    b.subscribe("conc", e => found.put(e.id,
      b.log.getEventsTyped("conc").collect().exists(_.id == e.id)))
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 5).foreach { i =>
        val r = b.publish("conc", "x", s"""{"t":$t,"i":$i}""")
        if (r.success) acked.add(r.eventId)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(acked.size == 20)
    assert(b.log.getEventsTyped("conc").collect().length == 20)
    assert(b.log.totalFlushedRows == 20)
    import scala.jdk.CollectionConverters._
    assert(found.asScala.toMap == acked.asScala.map(_ -> java.lang.Boolean.TRUE).toMap)
  }

  test("group commit: publishers queued behind one flush commit as ONE file") {
    val b = newBroker()
    val results = publishAsOneGroup(b, 8)(i => b.publish("grp", "x", s"""{"i":$i}"""))
    assert(results.forall(_.success))
    assert(b.log.totalFlushes == 1 && b.log.totalFlushedRows == 8)
    assert(b.log.totalFilesWritten == 1)
    val ids = b.log.getEventsTyped("grp").collect().map(_.id).toSeq
    assert(ids.sorted == results.map(_.eventId).sorted) // each event exactly once
  }

  test("group commit: a failed flush fails every publish of the group, persists nothing") {
    // a DLQ that cannot take entries: a dead-lettering subscription then
    // lets the failure escape `deliver`, which the broker counts
    val brokenDlq = new graft.dlq.DeadLetterQueue {
      def addEvent(e: EventRow, error: String, subscriptionId: String): Unit =
        throw new IllegalStateException("dlq down")
      def getEvents(topic: Option[String], eventType: Option[String],
          limit: Option[Int]): Seq[graft.model.DeadLetterRow] = Nil
      def retryEvent(id: String, cb: (EventRow, String) => Boolean): Boolean = false
      def removeEvent(id: String): Boolean = false
    }
    val b = new EventBroker(spark, tmpDir("log"), brokenDlq)
    val metrics = new graft.operators.BatchMetrics
    b.registerGauges(metrics)
    val reg = new SchemaRegistry
    reg.registerSchema("user.created",
      """{"type":"object","required":["userId"],"properties":{"userId":{"type":"string"}}}""",
      "1.0")
    b.createTopic("users", TopicOptions(schemaRegistry = Some(reg)))
    assert(!b.publish("users", "user.created", "{}").success) // rejected before enqueue
    // a regular file where the log directory should be: the commit fails
    val logFile = new java.io.File(b.log.path)
    assert(logFile.delete() && logFile.createNewFile())
    val failed = publishAsOneGroup(b, 4)(i => b.publish("fail", "x", s"""{"i":$i}"""))
    assert(failed.forall(r => !r.success && r.error.isDefined))
    assert(logFile.isFile && logFile.length == 0)
    assert(logFile.delete())
    b.subscribe("fail", _ => throw new RuntimeException("handler down"),
      SubscriptionOptions(maxRetries = 1, retryDelayMillis = 0))
    val ok = b.publish("fail", "x", "{}")
    assert(ok.success && ok.receiverCount == 1)
    // none of the failed group's events reached the log
    assert(b.log.getEventsTyped("fail").collect().map(_.id).toSeq == Seq(ok.eventId))
    b.log.compact("fail") // a maintenance rewrite: one replace record
    import spark.implicits._
    val gauges = metrics.gauges(spark).as[(String, Long)].collect().toMap
    // flush time is wall clock: present and non-negative, its value free
    assert(gauges.get("log.flush_ms").exists(_ >= 0L))
    assert(gauges - "log.flush_ms" == Map(
      "broker.published" -> 1L, "broker.schema_rejected" -> 1L,
      "broker.persist_failed" -> 4L, "broker.delivery_errors" -> 1L,
      "log.flushes" -> 1L, "log.flushed_rows" -> 1L, "log.files_written" -> 1L,
      "log.manifest_records" -> 2L, "log.replace_records" -> 1L))
  }

  test("DLQ retry re-dispatches through the original subscription (broker.ts:166-183)") {
    val dlq = new InMemoryDeadLetterQueue
    val b = new EventBroker(spark, tmpDir("log"), dlq)
    var failNext = true
    val seen = mutable.Buffer.empty[String]
    b.subscribe("r", { e =>
      if (failNext) throw new RuntimeException("first time fails")
      seen += e.id
    }, SubscriptionOptions(name = Some("retry-sub"), maxRetries = 1, retryDelayMillis = 0))
    b.publish("r", "a", "{}")
    assert(dlq.size == 1)
    failNext = false
    val eventId = dlq.getEvents().head.event.id
    assert(b.retryDeadLetterEvent(eventId))
    assert(seen.size == 1 && dlq.size == 0)
    assert(!b.retryDeadLetterEvent("no-such-event"))
  }

  test("defaultBroker: one shared per-session instance (broker.ts:187)") {
    val d1 = EventBroker.defaultBroker(spark)
    val d2 = EventBroker.defaultBroker(spark)
    assert(d1 eq d2, "repeat calls return the same singleton")
    // it is a working broker: topics created through one handle are
    // visible through the other — the sharing the singleton exists for
    d1.createTopic("default-shared")
    assert(d2.getTopic("default-shared").isDefined)
    // with no spark.graft.defaultLogPath its log is a scratch dir, deleted
    // by a shutdown hook at JVM exit
    assert(spark.conf.getOption("spark.graft.defaultLogPath").isEmpty)
    assert(new java.io.File(d1.log.path).getName.startsWith("graft-default-broker"))
    assert(org.apache.hadoop.util.ShutdownHookManager.get()
      .hasShutdownHook(EventBroker.deleteScratchLogs))
  }
}
