package graft

import java.sql.Timestamp

import graft.model.EventRow
import graft.sources.{EventLog, ScanOptions}

/** The bucketed log layout (topicBuckets = Some(n)) must obey the exact
  * same laws as the per-topic-directory layout — the layouts are a scale
  * trade (few fat topics vs millions of aggregate topics), never a
  * semantics trade.
  */
class BucketedEventLogSpec extends SparkSpec {

  private def row(id: String, tpe: String, topic: String, ms: Long) =
    EventRow(id, tpe, topic, new Timestamp(ms), "1.0", "{}", Map.empty)

  private def seeded(): EventLog = {
    val log = EventLog.bucketed(spark, tmpDir("blog"), buckets = 4)
    log.appendRows(Seq(
      row("e1", "click", "web", 1000),
      row("e2", "view", "web", 2000),
      row("e3", "click", "web", 3000),
      row("e4", "click", "app", 1500),
      row("e5", "purchase", "web", 4000)) ++
      // many single-event aggregate topics — the workload this layout is for
      (1 to 20).map(i => row(s"a$i", "created", s"aggregate.user.u$i", 5000 + i)))
    log
  }

  test("same scan laws as the per-topic layout") {
    val log = seeded()
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e1", "e2", "e3", "e5"))
    assert(log.getEventsTyped("web", ScanOptions(eventTypes = Seq("click"), limit = Some(1)))
      .collect().map(_.id).toSeq == Seq("e1"))
    assert(log.getEventsTyped("aggregate.user.u7").collect().map(_.id).toSeq == Seq("a7"))
    assert(log.hasEvents("app") && !log.hasEvents("missing"))
  }

  test("bucket partition count stays n regardless of topic count") {
    val log = seeded()
    val dirs = new java.io.File(log.path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("topic_bucket="))
    assert(dirs.length <= 4 && dirs.nonEmpty) // 22 topics, ≤4 directories
  }

  test("scan prunes to the topic's bucket partition + pushes the topic filter") {
    val log = seeded()
    val plan = log.getEvents("web").queryExecution.executedPlan.toString
    assert(plan.contains(s"topic_bucket=${log.bucketOf("web")})") ||
      plan.contains(s"(topic_bucket#") && plan.contains("PartitionFilters"),
      s"expected bucket partition pruning in:\n$plan")
    assert(plan.contains("EqualTo(topic,web)") || plan.contains("(topic#"),
      s"expected pushed topic filter in:\n$plan")
  }

  test("enforceMaxEvents in a bucket drops only the target topic's overflow") {
    val log = seeded()
    assert(log.enforceMaxEvents("web", 1) == 3)
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e5")) // newest only
    assert((1 to 20).forall(i => log.hasEvents(s"aggregate.user.u$i"))) // co-bucketed intact
    assert(log.hasEvents("app"))
  }

  test("streaming subscription tails a bucketed log (topic is a data column there)") {
    import graft.broker.SubscriptionOptions
    import graft.dlq.InMemoryDeadLetterQueue
    import graft.streaming.StreamingSubscription
    val log = seeded()
    val seen = scala.collection.mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, log.path, tmpDir("bckpt"),
      e => seen += e.id, new InMemoryDeadLetterQueue,
      topicName = Some("web"),
      options = SubscriptionOptions(eventTypes = Seq("click"),
        receiveHistoricalEvents = true))
    sub.runAvailable()
    assert(seen.toSeq == Seq("e1", "e3"))
  }

  test("a group that fails in one bucket dir leaves no visible file in any, fails every caller") {
    val log = EventLog.bucketed(spark, tmpDir("blog"), buckets = 4)
    def topicIn(b: Int) = Iterator.from(0).map(i => s"t$i").find(log.bucketOf(_) == b).get
    // bucket 1 has a dir; bucket 2's dir is blocked by a regular file. Dirs
    // are written in name order, so bucket 1's file is written before
    // bucket 2's fails
    log.appendRows(Seq(row("s", "x", topicIn(1), 1000L)))
    assert(new java.io.File(log.path, "topic_bucket=2").createNewFile())
    def dirFiles: Map[String, Seq[String]] = // every name, hidden and checksum files included
      new java.io.File(log.path).listFiles().filter(_.getName.startsWith("topic_bucket="))
        .map(d => d.getName -> Option(d.listFiles()).toSeq.flatten.map(_.getName).sorted).toMap
    val before = dirFiles
    val outcomes = GroupCommit.asOneGroup(log, 4) { i =>
      log.appendRows(Seq(row(s"f$i", "x", topicIn(1 + i % 2), 2000L + i)))
    }
    assert(outcomes.forall(_.isFailure), outcomes)
    assert(dirFiles == before) // no visible file, and no hidden one left behind
    assert(log.totalFlushes == 1 && log.totalFilesWritten == 1) // the seed's only
    assert(log.getEventsTyped(topicIn(1)).collect().map(_.id).toSeq == Seq("s"))
    // once the dir is free again, the same rows commit
    assert(new java.io.File(log.path, "topic_bucket=2").delete())
    log.appendRows((0 until 4).map(i => row(s"f$i", "x", topicIn(1 + i % 2), 2000L + i)))
    assert(log.getEventsTyped(topicIn(2)).collect().map(_.id).toSeq == Seq("f1", "f3"))
  }

  test("delete-all of a topic keeps its bucket dir and every co-bucketed topic's rows") {
    val log = seeded()
    val bucket = new java.io.File(log.path, s"topic_bucket=${log.bucketOf("web")}")
    val coBucketed = ("app" +: (1 to 20).map(i => s"aggregate.user.u$i"))
      .filter(log.bucketOf(_) == log.bucketOf("web"))
    assert(coBucketed.nonEmpty)
    assert(log.deleteEvents("web", Long.MaxValue) == 4L)
    assert(!log.hasEvents("web"))
    assert(bucket.isDirectory)
    coBucketed.foreach(t => assert(log.getEventsTyped(t).collect().length == 1, t))
  }

  test("deleteEvents rewrites only the bucket, counts only the topic") {
    val log = seeded()
    val deleted = log.deleteEvents("web", olderThanMillis = 3000)
    assert(deleted == 2) // e1, e2
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e3", "e5"))
    assert(log.getEventsTyped("app").collect().map(_.id).toSeq == Seq("e4"))
    // co-bucketed aggregate topics are untouched
    assert((1 to 20).forall(i => log.hasEvents(s"aggregate.user.u$i")))
    log.appendRows(Seq(row("e6", "click", "web", 9000)))
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e3", "e5", "e6"))
  }
}
