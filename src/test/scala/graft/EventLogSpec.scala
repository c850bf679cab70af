package graft

import java.io.File
import java.sql.Timestamp

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.model.EventRow
import graft.sources.{EventLog, ScanOptions}

/** The reference's store laws over the parquet log
  * (reference: src/persistence.ts:14-93; SURVEY.md §2.1-§2.3).
  */
class EventLogSpec extends SparkSpec {

  private def row(id: String, tpe: String, topic: String, ms: Long) =
    EventRow(id, tpe, topic, new Timestamp(ms), "1.0", "{}", Map.empty)

  private def seeded(): EventLog = {
    val log = new EventLog(spark, tmpDir("log"))
    log.appendRows(Seq(
      row("e1", "click", "web", 1000),
      row("e2", "view", "web", 2000),
      row("e3", "click", "web", 3000),
      row("e4", "click", "app", 1500),
      row("e5", "purchase", "web", 4000)))
    log
  }

  test("getEvents: topic pruning + ts-range + type filter + order + limit (persistence.ts:37-68)") {
    val log = seeded()
    val all = log.getEventsTyped("web").collect()
    assert(all.map(_.id).toSeq == Seq("e1", "e2", "e3", "e5")) // ts asc, app excluded
    val ranged = log.getEventsTyped("web",
      ScanOptions(fromTimestamp = Some(2000), toTimestamp = Some(3000))).collect()
    assert(ranged.map(_.id).toSeq == Seq("e2", "e3")) // inclusive bounds (F1)
    val typed = log.getEventsTyped("web",
      ScanOptions(eventTypes = Seq("click"))).collect()
    assert(typed.map(_.id).toSeq == Seq("e1", "e3"))
    val limited = log.getEventsTyped("web", ScanOptions(limit = Some(2))).collect()
    assert(limited.map(_.id).toSeq == Seq("e1", "e2")) // limit AFTER sort = top-k
  }

  test("hasEvents short-circuits (sourcing.ts:227-231)") {
    val log = seeded()
    assert(log.hasEvents("web"))
    assert(!log.hasEvents("missing-topic"))
  }

  test("deleteEvents removes strictly-older rows of ONE topic, returns count (persistence.ts:74-93)") {
    val log = seeded()
    val deleted = log.deleteEvents("web", olderThanMillis = 3000)
    assert(deleted == 2) // e1, e2; e3 at the cutoff survives (ts >= cutoff kept)
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e3", "e5"))
    assert(log.getEventsTyped("app").collect().map(_.id).toSeq == Seq("e4")) // untouched
  }

  test("scan plan: topic partition pruning + type filter pushed to parquet (SURVEY.md §4.1)") {
    val log = seeded()
    val plan = log.getEvents("web",
        graft.sources.ScanOptions(eventTypes = Seq("click"), fromTimestamp = Some(1000)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("topic"),
      s"expected topic partition pruning in:\n$plan")
    // single-element isin plans as EqualTo; the rendered filter list may be
    // width-truncated, so assert on the DataFilters spelling
    assert(plan.contains("PushedFilters") && plan.contains("(type#"),
      s"expected pushed type filter in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(timestamp"),
      s"expected pushed timestamp range in:\n$plan")
  }

  test("enforceMaxEvents keeps the newest N (T9 honest extension, topic.ts:33 dead option)") {
    val log = seeded()
    val deleted = log.enforceMaxEvents("web", maxEvents = 2)
    assert(deleted == 2) // 4 web events → keep newest 2 (e3, e5)
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e3", "e5"))
    assert(log.getEventsTyped("app").collect().map(_.id).toSeq == Seq("e4")) // untouched
    assert(log.enforceMaxEvents("web", 10) == 0L) // under the cap: no-op
  }

  test("compact merges per-append small files without changing contents") {
    val log = new EventLog(spark, tmpDir("log"))
    // five separate appends = five (or more) files in the topic partition
    (1 to 5).foreach(i => log.appendRows(Seq(row(s"e$i", "click", "web", i * 1000L))))
    val before = log.getEventsTyped("web").collect().map(_.id).toSeq
    val delta = log.compact("web")
    assert(delta > 0) // fewer files than before
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == before)
    log.appendRows(Seq(row("e9", "view", "web", 9000)))
    assert(log.getEventsTyped("web").collect().map(_.id).last == "e9")
  }

  test("CompactionAdvisor turns the layout report into executable advice") {
    import graft.operators.CompactionAdvisor
    val log = new EventLog(spark, tmpDir("log"))
    // fragmented topic: five appends = five+ small files; healthy topic: one
    (1 to 5).foreach(i => log.appendRows(Seq(row(s"e$i", "click", "web", i * 1000L))))
    log.appendRows(Seq(row("a1", "view", "app", 1000L)))
    val advice = CompactionAdvisor.advise(log.layoutReport(), maxFiles = 3)
      .collect().map(r => r.getString(0) -> (r.getString(3), r.getLong(4), r.getString(5))).toMap
    val (webAction, webTarget, webReason) = advice("topic=web")
    assert(webAction == "compact" && webTarget == 1L && webReason == "too many files")
    assert(advice("topic=app")._1 == "ok")
    // execute the advice; the next run reports the partition healthy
    log.compact("web", targetFiles = webTarget.toInt)
    val after = CompactionAdvisor.advise(log.layoutReport(), maxFiles = 3)
      .where(org.apache.spark.sql.functions.col("partition") === "topic=web")
      .collect().head
    assert(after.getString(3) == "ok" && after.getString(5) == "healthy")
  }

  test("compactClustered z-sorts files so time-window scans prune on stats") {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    val mkLog = () => new EventLog(spark, tmpDir("log"))
    // 400 events, 4 types, timestamps interleaved ACROSS appends so a plain
    // compaction leaves every file spanning the full time range
    // ts bin = k·173 mod 400 (a multiplicative shuffle): ANY contiguous
    // slice of ids — an append, or a part-file slice within one — spans
    // nearly the whole time range, so no accidental time-locality survives
    def fill(log: EventLog): Unit = (0 until 8).foreach { a =>
      log.appendRows((0 until 50).map { i =>
        val k = a + i * 8
        row(s"e$k", s"type${k % 4}", "web", 1000L + (k * 173 % 400) * 97L)
      })
    }
    def fileSpans(log: EventLog): Seq[(Long, Long)] = {
      val dir = new java.io.File(log.path, "topic=web")
      dir.listFiles().filter(_.getName.startsWith("part-")).toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(smin(col("timestamp")), smax(col("timestamp"))).head()
        (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
      }
    }
    val plain = mkLog(); fill(plain); plain.compact("web", targetFiles = 4)
    val zed = mkLog(); fill(zed)
    val before = zed.getEventsTyped("web").collect().map(_.id).sorted.toSeq
    zed.compactClustered("web", targetFiles = 4, clusterBy = Seq("timestamp", "type"))
    // contents preserved exactly
    assert(zed.getEventsTyped("web").collect().map(_.id).sorted.toSeq == before)
    // a 10%-of-range window at the start: every plain file straddles it
    // (append order interleaved timestamps), but z-clustered files carry
    // bounded time rectangles, so stats alone skip at least one file
    val (lo, hi) = (1000L, 1000L + 399 * 97L)
    val window = (lo, lo + (hi - lo) / 10)
    def overlapping(spans: Seq[(Long, Long)]) =
      spans.count { case (mn, mx) => mx >= window._1 && mn <= window._2 }
    val pSpans = fileSpans(plain)
    val zSpans = fileSpans(zed)
    assert(pSpans.size == 4 && zSpans.size == 4)
    assert(overlapping(pSpans) == 4, s"plain files should all straddle: $pSpans")
    assert(overlapping(zSpans) < 4, s"z-clustering should bound file time spans: $zSpans")
  }

  test("layoutReport drives compaction: many small files in, one out") {
    val log = new EventLog(spark, tmpDir("log"))
    (1 to 5).foreach(i => log.appendRows(Seq(row(s"e$i", "click", "web", i * 1000L))))
    val before = log.layoutReport().collect()
    val web = before.find(_.getString(0) == "topic=web").get
    assert(web.getLong(1) >= 5, s"five appends should leave >= 5 files, saw ${web.getLong(1)}")
    assert(web.getLong(2) > 0 && web.getLong(3) <= web.getLong(4))
    log.compact("web")
    val after = log.layoutReport().collect().find(_.getString(0) == "topic=web").get
    assert(after.getLong(1) == 1, "compaction collapses the partition to one file")
  }

  test("vacuum removes crashed staging dirs, keeps committed data") {
    val log = seeded()
    // simulate a Spark write job that died before its commit
    val orphan = new java.io.File(log.path, ".staging_topic=web")
    assert(orphan.mkdirs())
    new java.io.File(orphan, "part-00000.parquet").createNewFile()
    // and a flush that died between its write and its rename
    val hidden = new java.io.File(log.path, "topic=web/.part-00000-x.c000.snappy.parquet")
    assert(hidden.createNewFile())
    assert(log.vacuum() == 2)
    assert(!orphan.exists() && !hidden.exists())
    assert(log.vacuum() == 0) // idempotent
    assert(log.getEventsTyped("web").collect().length == 4) // data intact
    assert(visibleFiles(log).size == 2) // one committed file per topic dir
  }

  /** A data file holding `rows`, written by a donor log, planted under
    * `log`'s `dir` as a flush that died between its rename and its record
    * leaves it: visible, named by no manifest record.
    */
  private def plantUnrecorded(log: EventLog, dir: String, rows: Seq[EventRow]): File = {
    val donor = new EventLog(spark, tmpDir("donor"), log.topicBuckets)
    donor.appendRows(rows)
    val planted = new File(log.path, s"$dir/part-00000-planted.c000.snappy.parquet")
    FileUtils.copyFile(new File(donor.path, visibleFiles(donor).head), planted)
    planted
  }

  test("vacuum deletes a committed file the manifest lacks and clears manifest debris") {
    import graft.broker.SubscriptionOptions
    import graft.dlq.InMemoryDeadLetterQueue
    import graft.streaming.StreamingSubscription
    val log = seeded() // manifest record 0: the seed's two files
    val planted = plantUnrecorded(log, "topic=web",
      Seq(row("p1", "click", "web", 7000), row("p2", "click", "web", 8000)))
    // a record torn by a crash mid-write, and hidden debris in the manifest dir
    val manifest = new File(log.path, "_graft_log")
    FileUtils.writeStringToFile(new File(manifest, f"${1}%020d"), "graft-log 1\n+\t", "UTF-8")
    val debris = new File(manifest, ".7.0c5e2b4a.tmp")
    assert(debris.createNewFile())
    assert(log.vacuum() == 3) // the torn record, the planted file, the debris
    assert(!debris.exists() && !planted.exists())
    assert(log.vacuum() == 0) // idempotent
    val seen = scala.collection.mutable.Buffer.empty[String]
    new StreamingSubscription(spark, log.path, tmpDir("ckpt"), e => seen += e.id,
      new InMemoryDeadLetterQueue, Some("web"),
      SubscriptionOptions(receiveHistoricalEvents = true)).runAvailable()
    assert(seen.toSeq == Seq("e1", "e2", "e3", "e5"))
  }

  for ((layout, mk) <- Seq[(String, String => EventLog)](
      "per-topic" -> (p => new EventLog(spark, p)), "bucketed" -> (EventLog.bucketed(spark, _, 4))))
    test(s"$layout layout: a data file no record names is in no read, and vacuum deletes it") {
      import org.apache.spark.sql.types.IntegerType
      import graft.broker.SubscriptionOptions
      import graft.dlq.InMemoryDeadLetterQueue
      import graft.model.Event
      import graft.streaming.StreamingSubscription
      val log = mk(tmpDir("log"))
      log.appendRows(Seq(row("e1", "click", "web", 1000), row("a1", "view", "app", 1000)))
      val dir = visibleFiles(log).map(_.takeWhile(_ != '/')).find(d => d == "topic=web" ||
        d == s"topic_bucket=${log.bucketOf("web")}").get
      val planted = plantUnrecorded(log, dir, Seq(row("p1", "click", "web", 2000)))
      assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e1"))
      assert(log.all.count() == 2L && log.hasEvents("web"))
      // the shape of the listing read the log had before the manifest
      val listed = log.topicBuckets.fold(spark.read.schema(Event.schema).parquet(log.path))(_ =>
        spark.read.schema(Event.schema.add("topic_bucket", IntegerType)).parquet(log.path)
          .drop("topic_bucket"))
      assert(log.all.schema == listed.schema)
      assert(listed.count() == 3L) // a listing takes the planted file
      val seen = scala.collection.mutable.Buffer.empty[String]
      new StreamingSubscription(spark, log.path, tmpDir("ckpt"), e => seen += e.id,
        new InMemoryDeadLetterQueue, Some("web"),
        SubscriptionOptions(receiveHistoricalEvents = true)).runAvailable()
      assert(seen.toSeq == Seq("e1"))
      assert(log.vacuum() == 1 && !planted.exists())
      assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e1"))
    }

  test("a rewrite that died after its record leaves the removed files, and vacuum deletes them") {
    val log = new EventLog(spark, tmpDir("log"))
    (1 to 3).foreach(i => log.appendRows(Seq(row(s"e$i", "click", "web", i * 1000L))))
    val before = new File(log.path, "topic=web").listFiles().filter(_.getName.startsWith("part-"))
    val saved = before.map { f =>
      val copy = new File(tmpDir("saved"), f.getName)
      FileUtils.copyFile(f, copy)
      f -> copy
    }
    assert(log.compact("web") == 2L) // its replace record removes 3 files and adds 1
    // the crash: the record is written, the removed files are not deleted
    saved.foreach { case (f, copy) => FileUtils.copyFile(copy, f) }
    assert(visibleFiles(log).size == 4)
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e1", "e2", "e3"))
    assert(log.vacuum() == 3)
    assert(visibleFiles(log).size == 1)
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e1", "e2", "e3"))
  }

  test("a reader during compact and deleteEvents always reads the committed count") {
    // bucketed, so a retention rewrite of a co-bucketed topic rewrites
    // the files that hold `web` too, and its count must not move
    val log = EventLog.bucketed(spark, tmpDir("log"), 2)
    val other = Iterator.from(0).map(i => s"other$i").find(log.bucketOf(_) == log.bucketOf("web")).get
    (0 until 8).foreach(i => log.appendRows(Seq(row(s"w$i", "click", "web", 1000L + i))))
    val rounds = 6
    log.appendRows((0 until rounds).map(i => row(s"o$i", "click", other, 1000L * (i + 1))))
    val counts = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val raced = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => while (!done.get) {
      try { counts.add(log.getEvents("web").count()); reads.incrementAndGet() }
      catch {
        // the documented scan-vs-delete race: a scan planned before a
        // rewrite's record opening a file the rewrite has deleted
        case e: Exception if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[java.io.FileNotFoundException]) => raced.incrementAndGet()
      }
    })
    reader.start()
    try (1 to rounds).foreach { i =>
      assert(log.compact("web") >= 0L)
      assert(log.deleteEvents(other, olderThanMillis = 1000L * i + 1) == 1L)
    } finally { done.set(true); reader.join() }
    info(s"${reads.get} reads completed, ${raced.get} raced a rewrite's delete")
    assert(counts.size == 1 && counts.contains(8L), s"counts read: $counts ($raced scans raced a delete)")
  }

  /** One publisher thread appends `n` single rows to `web` (timestamps from
    * 10 s on) while this thread runs `sweep` over and over; returns the ids
    * the publisher was told committed and the number of appends that
    * failed.
    */
  private def publishDuring(log: EventLog, n: Int)(sweep: => Unit): (Seq[String], Int) = {
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    val publisher = new Thread(() => (0 until n).foreach { i =>
      try {
        log.appendRows(Seq(row(s"p$i", "click", "web", 10000L + i)))
        acked.add(s"p$i")
      } catch { case _: Exception => failed.incrementAndGet() }
    })
    publisher.start()
    var sweeps = 0
    while (publisher.isAlive || sweeps < 2) {
      sweep
      sweeps += 1
      Thread.sleep(20) // let the publisher in between sweeps
    }
    publisher.join()
    (acked.toArray(Array.empty[String]).toSeq, failed.get())
  }

  test("deleteEvents racing a publisher keeps every acknowledged row") {
    val log = new EventLog(spark, tmpDir("log"))
    log.appendRows((0 until 20).map(i => row(s"old$i", "view", "web", 1000L + i)))
    var next = 0
    val (acked, failed) = publishDuring(log, 40) {
      // one old row per sweep, so every sweep rewrites the partition
      log.appendRows(Seq(row(s"older$next", "view", "web", 2000L + next)))
      next += 1
      log.deleteEvents("web", olderThanMillis = 5000)
    }
    val ids = log.getEventsTyped("web").collect().map(_.id).toSet
    val lost = acked.filterNot(ids)
    assert(failed == 0 && lost.isEmpty, s"$failed of 40 appends failed; " +
      s"${lost.size} of ${acked.size} acknowledged rows lost to a retention rewrite")
    assert(ids == acked.toSet) // and every old row is gone
  }

  test("compact racing a publisher keeps every acknowledged row") {
    val log = new EventLog(spark, tmpDir("log"))
    log.appendRows((0 until 20).map(i => row(s"old$i", "view", "web", 1000L + i)))
    val (acked, failed) = publishDuring(log, 40)(log.compact("web"))
    val ids = log.getEventsTyped("web").collect().map(_.id).toSet
    val lost = acked.filterNot(ids)
    assert(failed == 0 && lost.isEmpty, s"$failed of 40 appends failed; " +
      s"${lost.size} of ${acked.size} acknowledged rows lost to a compaction rewrite")
    assert(ids.size == 60)
  }

  /** Committed data files under a log, as `<partition dir>/<name>`. */
  private def visibleFiles(log: EventLog): Seq[String] =
    new File(log.path).listFiles().filter(_.isDirectory).toSeq.flatMap { d =>
      d.listFiles().map(_.getName).filter(_.startsWith("part-")).map(n => s"${d.getName}/$n")
    }.sorted

  private def footer(file: File) = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
    try in.getFooter.getFileMetaData finally in.close()
  }

  private val RowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  test("direct commit: a flushed file matches a Spark-written one (footer, extension)") {
    val rows = Seq(
      row("e1", "click", "web", 1000).copy(metadata = Map("k" -> "v")),
      row("e2", "view", "web", 2000))
    def onlyFile(log: EventLog): File = {
      val files = visibleFiles(log)
      assert(files.size == 1, files)
      new File(log.path, files.head)
    }
    import spark.implicits._
    for {
      layout <- Seq[String => EventLog](p => new EventLog(spark, p), EventLog.bucketed(spark, _, 4))
      tsType <- Seq("INT96", "TIMESTAMP_MICROS")
    } EngineSession.withConf(spark, "spark.sql.parquet.outputTimestampType" -> tsType) {
      val bySpark = layout(tmpDir("sparklog"))
      bySpark.append(spark.createDataset(rows).coalesce(1))
      val direct = layout(tmpDir("directlog"))
      direct.appendRows(rows)
      val (s, d) = (onlyFile(bySpark), onlyFile(direct))
      val (sm, dm) = (footer(s), footer(d))
      assert(dm.getSchema == sm.getSchema, s"$tsType: ${dm.getSchema} vs ${sm.getSchema}")
      assert(dm.getSchema.toString.contains(if (tsType == "INT96") "int96" else "TIMESTAMP(MICROS"))
      assert(dm.getKeyValueMetaData.get(RowMetadata) == sm.getKeyValueMetaData.get(RowMetadata))
      assert(dm.getKeyValueMetaData.get(RowMetadata) != null)
      def ext(f: File) = f.getName.substring(f.getName.indexOf(".c000"))
      assert(ext(d) == ext(s))
      assert(direct.getEventsTyped("web").collect().toSeq == rows)
    }
  }

  test("direct commit round trip: maps, sub-millisecond timestamps, escaped topics") {
    val topic = "aggregate.user:group=7%x"
    val subMs = new Timestamp(5000L)
    subMs.setNanos(123456000) // 5.123456 s: microseconds survive, as in a Spark write
    val rows = Seq(
      row("n", "t", topic, 1000).copy(metadata = null),
      row("e", "t", topic, 2000),
      row("m", "t", topic, 3000).copy(metadata = Map("a" -> "1", "b" -> "")),
      EventRow("s", "t", topic, subMs, "2.0", """{"x":1}""", Map("c" -> "3")))
    val perTopic = new EventLog(spark, tmpDir("log"))
    for (log <- Seq(perTopic, EventLog.bucketed(spark, tmpDir("blog"), 4))) {
      log.appendRows(rows)
      assert(log.getEventsTyped(topic).collect().toSeq == rows)
      assert(log.all.count() == 4L)
    }
    assert(visibleFiles(perTopic).map(_.takeWhile(_ != '/')) ==
      Seq("topic=aggregate.user%3Agroup%3D7%25x"))
  }

  test("direct commit: one 8-row group over 2 topics leaves exactly 2 visible files") {
    val log = new EventLog(spark, tmpDir("log"))
    val outcomes = GroupCommit.asOneGroup(log, 8) { i =>
      log.appendRows(Seq(row(s"e$i", "click", if (i % 2 == 0) "web" else "app", 1000L + i)))
    }
    assert(outcomes.forall(_.isSuccess))
    assert(log.totalFlushes == 1 && log.totalFlushedRows == 8 && log.totalFilesWritten == 2)
    assert(visibleFiles(log).map(_.takeWhile(_ != '/')) == Seq("topic=app", "topic=web"))
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e0", "e2", "e4", "e6"))
    assert(log.getEventsTyped("app").collect().map(_.id).toSeq == Seq("e1", "e3", "e5", "e7"))
    // no hidden data file is left behind (`.part-….crc` are the local
    // filesystem's checksums of the visible files)
    assert(new File(log.path).listFiles().filter(_.isDirectory).forall(_.listFiles()
      .forall(f => !f.getName.startsWith(".part-") || f.getName.endsWith(".crc"))))
  }

  test("append after delete keeps the log usable") {
    val log = seeded()
    log.deleteEvents("web", 5000) // delete all web
    assert(!log.hasEvents("web"))
    log.appendRows(Seq(row("e6", "click", "web", 6000)))
    assert(log.getEventsTyped("web").collect().map(_.id).toSeq == Seq("e6"))
  }

  test("retention/compaction hit escaped partition dirs (aggregate.<type>.<id> topics)") {
    // Event-sourcing topics are user-controlled and may contain characters
    // Spark Hive-escapes in partition paths; a raw "topic=$topic" dir name
    // would silently rewrite the WRONG directory.
    val log = new EventLog(spark, tmpDir("log"))
    val topic = "aggregate.user:group=7%x"
    log.appendRows(Seq(
      row("e1", "created", topic, 1000),
      row("e2", "updated", topic, 2000),
      row("e3", "updated", topic, 3000)))
    assert(log.deleteEvents(topic, olderThanMillis = 2500) == 2L)
    assert(log.getEventsTyped(topic).collect().map(_.id).toSeq == Seq("e3"))
    assert(log.compact(topic) >= 0L)
    assert(log.getEventsTyped(topic).collect().map(_.id).toSeq == Seq("e3"))
  }

  test("deleteEvents with Long.MaxValue cutoff deletes everything (explicit delete-all)") {
    val log = seeded()
    assert(log.deleteEvents("web", Long.MaxValue) == 4L)
    assert(!log.hasEvents("web"))
    assert(!new File(log.path, "topic=web").exists()) // a dir left with no rows goes
    assert(log.hasEvents("app")) // other topics untouched
  }
}
