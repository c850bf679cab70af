package graft

import java.sql.Timestamp
import scala.collection.mutable

import graft.broker.SubscriptionOptions
import graft.dlq.InMemoryDeadLetterQueue
import graft.model.EventRow
import graft.sources.{EventLog, ScanOptions}
import graft.streaming.StreamingSubscription

/** Structured-Streaming delivery semantics (SURVEY.md §2.9 T1-T10). */
class StreamingSpec extends SparkSpec {

  private def row(id: String, tpe: String, topic: String, ms: Long) =
    EventRow(id, tpe, topic, new Timestamp(ms), "1.0", s"""{"id":"$id"}""", Map.empty)

  test("stream delivers persisted events in order; filter pushed to source (T1/T6)") {
    val logDir = tmpDir("slog")
    val log = new EventLog(spark, logDir)
    // e9 and e8 share one millisecond, 100 µs and 900 µs into it, with ids
    // in the opposite order: delivery follows the full timestamp
    def inMilli(r: EventRow, micros: Int) = {
      val t = new Timestamp(r.timestamp.getTime)
      t.setNanos(t.getNanos + micros * 1000)
      r.copy(timestamp = t)
    }
    log.appendRows(Seq(
      row("e1", "click", "web", 1000),
      row("e2", "view", "web", 2000),
      row("e3", "click", "web", 3000),
      inMilli(row("e9", "click", "web", 4000), 100),
      inMilli(row("e8", "click", "web", 4000), 900)))
    val seen = mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, logDir, tmpDir("ckpt"),
      e => seen += e.id, new InMemoryDeadLetterQueue,
      topicName = Some("web"),
      options = SubscriptionOptions(eventTypes = Seq("click"),
        receiveHistoricalEvents = true))
    sub.runAvailable()
    assert(seen.toSeq == Seq("e1", "e3", "e9", "e8"))
    val scanned = log.getEvents("web", ScanOptions(eventTypes = Seq("click")))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(seen.toSeq == scanned, "delivery order must equal getEvents order")
  }

  test("checkpoint resumes where delivery stopped — pause is lossless (T10 upgrade)") {
    val logDir = tmpDir("slog")
    val ckpt = tmpDir("ckpt")
    val log = new EventLog(spark, logDir)
    log.appendRows(Seq(row("e1", "a", "t", 1000)))
    val seen = mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, logDir, ckpt,
      e => seen += e.id, new InMemoryDeadLetterQueue, topicName = Some("t"),
      options = SubscriptionOptions(receiveHistoricalEvents = true))
    sub.runAvailable()
    assert(seen.toSeq == Seq("e1"))
    // "paused" (stopped) — events published meanwhile are NOT lost
    log.appendRows(Seq(row("e2", "a", "t", 2000), row("e3", "a", "t", 3000)))
    sub.runAvailable()
    assert(seen.toSeq == Seq("e1", "e2", "e3")) // gap replayed from checkpoint
  }

  test("failing handler retries then dead-letters; delivery continues (T3/T4)") {
    val logDir = tmpDir("slog")
    val log = new EventLog(spark, logDir)
    log.appendRows(Seq(
      row("e1", "a", "t", 1000),
      row("poison", "a", "t", 2000),
      row("e3", "a", "t", 3000)))
    val dlq = new InMemoryDeadLetterQueue
    val seen = mutable.Buffer.empty[String]
    var poisonAttempts = 0
    val sub = new StreamingSubscription(spark, logDir, tmpDir("ckpt"),
      e => {
        if (e.id == "poison") { poisonAttempts += 1; throw new RuntimeException("bad event") }
        seen += e.id
      },
      dlq, topicName = Some("t"),
      options = SubscriptionOptions(name = Some("stream-sub"), maxRetries = 2,
        receiveHistoricalEvents = true, retryDelayMillis = 0))
    sub.runAvailable()
    assert(seen.toSeq == Seq("e1", "e3")) // poison didn't stop the stream
    assert(poisonAttempts == 2) // maxRetries total attempts (subscription.ts:91-98)
    val entries = dlq.getEvents()
    assert(entries.size == 1)
    assert(entries.head.event.id == "poison")
    assert(entries.head.error == "bad event")
    assert(entries.head.subscription == "stream-sub")
  }

  test("retry honors retryDelay between attempts, capped (subscription.ts:96)") {
    val logDir = tmpDir("slog")
    val log = new EventLog(spark, logDir)
    log.appendRows(Seq(row("poison", "a", "t", 1000)))
    var attempts = 0
    val stamps = mutable.Buffer.empty[Long]
    val sub = new StreamingSubscription(spark, logDir, tmpDir("ckpt"),
      _ => { attempts += 1; stamps += System.nanoTime(); throw new RuntimeException("x") },
      new InMemoryDeadLetterQueue, topicName = Some("t"),
      options = SubscriptionOptions(maxRetries = 3,
        receiveHistoricalEvents = true, retryDelayMillis = 200))
    sub.runAvailable()
    assert(attempts == 3)
    // two sleeps of >=200ms between the three attempts
    val gaps = stamps.toSeq.zip(stamps.toSeq.tail).map { case (a, b) => (b - a) / 1000000 }
    assert(gaps.forall(_ >= 190), s"expected >=200ms gaps, got $gaps")
  }

  test("default receiveHistoricalEvents=false: only post-subscribe events (subscription.ts:27)") {
    val logDir = tmpDir("slog")
    val ckpt = tmpDir("ckpt")
    val log = new EventLog(spark, logDir)
    log.appendRows(Seq(row("old1", "a", "t", 1000), row("old2", "a", "t", 2000)))
    val seen = mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, logDir, ckpt,
      e => seen += e.id, new InMemoryDeadLetterQueue, topicName = Some("t"))
    sub.runAvailable()
    assert(seen.isEmpty) // history skipped
    // events committed after subscribe ARE delivered, and the boundary is
    // sticky across restarts
    log.appendRows(Seq(row("new1", "a", "t", 5000)))
    sub.runAvailable()
    assert(seen.toSeq == Seq("new1"))
  }

  test("historical boundary is microsecond-precise: same-ms later event delivers, earlier doesn't") {
    val logDir = tmpDir("slog")
    val log = new EventLog(spark, logDir)
    val t0 = 1700000000000L
    val hist = row("hist", "a", "t", t0)
    hist.timestamp.setNanos(500000) // t0 + 500 µs
    log.appendRows(Seq(hist))
    val seen = mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, logDir, tmpDir("ckpt"),
      e => seen += e.id, new InMemoryDeadLetterQueue, topicName = Some("t"))
    sub.runAvailable()
    assert(seen.isEmpty) // the boundary is arrival order, not the event's millisecond
    val fresh = row("fresh", "a", "t", t0)
    fresh.timestamp.setNanos(700000) // same millisecond, 200 µs after the boundary
    log.appendRows(Seq(fresh))
    sub.runAvailable()
    assert(seen.toSeq == Seq("fresh"))
  }

  test("historical boundary is per-topic: another topic's future event can't swallow deliveries") {
    val logDir = tmpDir("slog")
    val log = new EventLog(spark, logDir)
    log.appendRows(Seq(
      row("mine-old", "a", "mine", 1000),
      row("other-future", "a", "other", 9999999999000L))) // clock-skewed other topic
    val seen = mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, logDir, tmpDir("ckpt"),
      e => seen += e.id, new InMemoryDeadLetterQueue, topicName = Some("mine"))
    sub.runAvailable()
    assert(seen.isEmpty)
    log.appendRows(Seq(row("mine-new", "a", "mine", 5000))) // far below other's future ts
    sub.runAvailable()
    assert(seen.toSeq == Seq("mine-new")) // an event-time boundary at the global max would drop this
  }

  test("ordered mode default-bounds the drain: many-file backlog splits into capped micro-batches") {
    val logDir = tmpDir("slog")
    val log = new EventLog(spark, logDir)
    (1 to 4).foreach(i => log.appendRows(Seq(row(s"e$i", "a", "t", i * 1000L))))
    // shrink the default byte cap to 1 byte so every file overflows it and
    // forms its own micro-batch — proving the default cap actually reaches
    // the source and bounds what the ordered driver-collect sees per batch
    spark.conf.set(StreamingSubscription.OrderedMaxBytesKey, "1")
    try {
      val seen = mutable.Buffer.empty[String]
      val sub = new StreamingSubscription(spark, logDir, tmpDir("ckpt"),
        e => seen += e.id, new InMemoryDeadLetterQueue, topicName = Some("t"),
        options = SubscriptionOptions(receiveHistoricalEvents = true))
      val q = sub.start(availableNow = true)
      q.awaitTermination()
      assert(seen.toSeq == Seq("e1", "e2", "e3", "e4")) // order held across batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "byte cap did not split the backlog — the drain was unbounded")
    } finally spark.conf.unset(StreamingSubscription.OrderedMaxBytesKey)
  }

  test("ordered=false delivers distributed (mapPartitions); failures still dead-letter") {
    val logDir = tmpDir("slog")
    val log = new EventLog(spark, logDir)
    log.appendRows(Seq(
      row("e1", "a", "t", 1000),
      row("poison", "a", "t", 2000),
      row("e3", "a", "t", 3000)))
    val dlq = new InMemoryDeadLetterQueue
    StreamingSpecSink.seen.clear()
    val sub = new StreamingSubscription(spark, logDir, tmpDir("ckpt"),
      // references the STATIC sink, not a captured buffer: mapPartitions
      // serializes the handler per task, so a captured collection would be
      // a per-task copy (statics are shared in local mode's single JVM)
      e => { if (e.id == "poison") throw new RuntimeException("bad"); StreamingSpecSink.seen.add(e.id); () },
      dlq, topicName = Some("t"),
      options = SubscriptionOptions(name = Some("dist-sub"), maxRetries = 2,
        receiveHistoricalEvents = true, retryDelayMillis = 0),
      ordered = false)
    sub.runAvailable()
    assert(Set("e1", "e3").subsetOf(
      scala.jdk.CollectionConverters.SetHasAsScala(StreamingSpecSink.seen).asScala.toSet))
    assert(dlq.getEvents().map(_.event.id) == Seq("poison"))
  }
}

/** JVM-static sink for the distributed-delivery test (shared across tasks
  * in local mode; a closure-captured buffer would be serialized per task).
  */
object StreamingSpecSink {
  val seen: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
