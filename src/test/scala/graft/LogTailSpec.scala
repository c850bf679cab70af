package graft

import java.io.{File, IOException, OutputStream}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset

import graft.broker.SubscriptionOptions
import graft.dlq.InMemoryDeadLetterQueue
import graft.model.EventRow
import graft.sources.{EventLog, LogManifest, LogRecord, NioLocalFileSystem}
import graft.streaming.{LogTailSource, StreamingSubscription}

/** Tailing the event log from its commit manifest: maintenance rewrites
  * deliver nothing again, arrival order sets the subscribe boundary, and a
  * micro-batch lists nothing whatever its file count.
  */
class LogTailSpec extends SparkSpec {

  private def row(id: String, topic: String, ms: Long) =
    EventRow(id, "click", topic, new Timestamp(ms), "1.0", "{}", Map.empty)

  private val layouts: Seq[(String, String => EventLog)] = Seq(
    "per-topic" -> (p => new EventLog(spark, p)),
    "bucketed" -> (p => EventLog.bucketed(spark, p, 2)))

  /** A topic that shares `web`'s partition dir in a bucketed log (any other
    * topic in the per-topic layout).
    */
  private def coBucketed(log: EventLog): String =
    Iterator.from(0).map(i => s"other$i").find(log.bucketOf(_) == log.bucketOf("web")).get

  /** A checkpointed, ordered tail of one topic; each [[drain]] runs it to
    * the log's current end and returns what that run delivered.
    */
  private final class Tail(log: EventLog, topic: String, historical: Boolean = true) {
    val seen = mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, log.path, tmpDir("tail-ckpt"),
      e => seen += e.id, new InMemoryDeadLetterQueue, Some(topic),
      SubscriptionOptions(receiveHistoricalEvents = historical))
    def drain(): Seq[String] = {
      val before = seen.size
      sub.runAvailable()
      seen.drop(before).toSeq
    }
  }

  for ((layout, mk) <- layouts; (op, maintain) <- Seq[(String, EventLog => Unit)](
      "compact" -> (log => assert(log.compact("web") > 0L)),
      "deleteEvents" -> (log => assert(log.deleteEvents("web", olderThanMillis = 1500L) == 1L)),
      "enforceMaxEvents" -> (log => assert(log.enforceMaxEvents("web", maxEvents = 2) == 1L))))
    test(s"$layout layout: a checkpointed tail delivers nothing again after $op") {
      val log = mk(tmpDir("log"))
      val other = coBucketed(log)
      val live = new Tail(log, "web", historical = false)
      assert(live.drain().isEmpty) // subscribed before any commit
      (1 to 3).foreach(i => log.appendRows(Seq(row(s"e$i", "web", i * 1000L), row(s"o$i", other, i * 1000L))))
      val web = new Tail(log, "web")
      val oth = new Tail(log, other)
      assert(web.drain() == Seq("e1", "e2", "e3"))
      assert(live.drain() == Seq("e1", "e2", "e3"))
      assert(oth.drain() == Seq("o1", "o2", "o3"))
      maintain(log)
      assert(web.drain().isEmpty && live.drain().isEmpty && oth.drain().isEmpty)
      log.appendRows(Seq(row("e4", "web", 4000L)))
      assert(web.drain() == Seq("e4") && live.drain() == Seq("e4") && oth.drain().isEmpty)
    }

  for ((layout, mk) <- layouts)
    test(s"$layout layout: files replaced before the tail read them deliver their surviving rows") {
      val log = mk(tmpDir("log"))
      val tail = new Tail(log, "web")
      log.appendRows(Seq(row("e1", "web", 1000L), row("e2", "web", 2000L)))
      assert(tail.drain() == Seq("e1", "e2"))
      log.appendRows(Seq(row("e3", "web", 3000L)))
      log.appendRows(Seq(row("e4", "web", 4000L)))
      // e1 and e2 were read; e3 and e4 were not: the compacted file holds
      // all four, so the read ones may come again, and none is lost
      log.compact("web")
      val after = tail.drain()
      assert(Set("e3", "e4").subsetOf(after.toSet) && after.size == after.distinct.size, after)
      assert(after.toSet.subsetOf(Set("e1", "e2", "e3", "e4")), after)
      // a retention rewrite drops e5; the kept e6, never read, is delivered
      log.appendRows(Seq(row("e5", "web", 5000L), row("e6", "web", 6000L)))
      assert(log.deleteEvents("web", olderThanMillis = 5500L) == 5L)
      assert(tail.drain() == Seq("e6"))
    }

  /** The rewrites run on `web` after a backlog: one, or a second that
    * replaces the first one's files in turn.
    */
  private val rewriteChains: Seq[(String, EventLog => Unit)] = Seq(
    "one rewrite" -> (log => log.compact("web")),
    "two rewrites" -> { log =>
      log.compact("web")
      assert(log.deleteEvents("web", olderThanMillis = 1500L) == 1L)
    })

  /** The paths of `web`'s live data files. */
  private def liveFiles(log: EventLog): Seq[String] =
    new File(log.path, "topic=web").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.toURI.getPath).toSeq

  for ((chain, rewrite) <- rewriteChains)
    test(s"a batch whose files $chain removed scans the last rewrite's files") {
      val log = new EventLog(spark, tmpDir("log"))
      log.appendRows(Seq(row("e1", "web", 1000L)))
      log.appendRows(Seq(row("e2", "web", 2000L)))
      rewrite(log) // records 2 on replace the files of records 0 and 1
      val source = new LogTailSource(spark, log.path, None, startAtHead = false)
      // the batch (0, 2] is planned as if before the rewrites: its files are gone
      val scanned = source.getBatch(None, LongOffset(2)).queryExecution.analyzed.collect {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.inputFiles.toSeq
      }.flatten
      val live = liveFiles(log)
      assert(live.size == 1 && scanned.map(new java.net.URI(_).getPath) == live, scanned)
    }

  for ((chain, rewrite) <- rewriteChains)
    test(s"a capped historical drain delivers a backlog that $chain replaced once") {
      val log = new EventLog(spark, tmpDir("log"))
      (1 to 5).foreach(i => log.appendRows(Seq(row(s"e$i", "web", i * 1000L))))
      rewrite(log)
      val kept = (1 to 5).map(i => s"e$i").filterNot(id => chain == "two rewrites" && id == "e1")
      // one record per batch: every add record's file is gone, and only the
      // batch that crosses the rewrites delivers their files
      spark.conf.set(StreamingSubscription.OrderedMaxBytesKey, "1")
      try assert(new Tail(log, "web").drain() == kept)
      finally spark.conf.unset(StreamingSubscription.OrderedMaxBytesKey)
    }

  test("receiveHistoricalEvents=false delivers a post-subscribe append with a lagging timestamp") {
    val log = new EventLog(spark, tmpDir("log"))
    log.appendRows(Seq(row("old", "web", 5000L)))
    val tail = new Tail(log, "web", historical = false)
    assert(tail.drain().isEmpty)
    // a clock-skewed producer or a backfill: committed after the
    // subscribe, event-timestamped before everything already in the log
    log.appendRows(Seq(row("late", "web", 1000L)))
    assert(tail.drain() == Seq("late"))
    assert(new java.io.File(log.path).list().contains("_graft_log"))
  }

  test("a record write that fails leaves its id readable, and a later publish is delivered") {
    val log = new EventLog(spark, tmpDir("log"))
    val tail = new Tail(log, "web")
    log.appendRows(Seq(row("e1", "web", 1000L))) // record 0
    assert(tail.drain() == Seq("e1"))
    // a second writer over the log whose next record write fails (a full disk)
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[LogTailSpec.FailingRecordFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val writer = new LogManifest(new Path(log.path), conf)
    LogTailSpec.failNextRecord.set(true)
    intercept[IOException](writer.append(Nil, Nil))
    assert(!LogTailSpec.failNextRecord.get)
    assert(writer.read(1).contains(LogRecord(Nil, Nil)))
    log.appendRows(Seq(row("e2", "web", 2000L))) // record 2: id 1 is taken
    assert(writer.read(2).exists(_.added.size == 1))
    assert(tail.drain() == Seq("e2"))
  }

  test("vacuum deletes a crashed flush's file and records a lost file as removed") {
    val log = new EventLog(spark, tmpDir("log"))
    log.appendRows(Seq(row("w1", "web", 1000L), row("m1", "mobile", 1000L)))
    val tail = new Tail(log, "mobile")
    assert(tail.drain() == Seq("m1"))
    // web's file is lost, and a flush that died before its record left a
    // visible mobile file: the flush never committed, so its rows are not
    // in the log, and the lost file is recorded as removed
    val webFiles = new File(log.path, "topic=web").listFiles()
    webFiles.foreach(f => assert(f.delete()))
    val donor = new EventLog(spark, tmpDir("donor"))
    donor.appendRows(Seq(row("m2", "mobile", 2000L)))
    val donorFile = new File(donor.path, "topic=mobile").listFiles().find(_.getName.startsWith("part-")).get
    val planted = new File(log.path, "topic=mobile/part-00000-planted.c000.snappy.parquet")
    FileUtils.copyFile(donorFile, planted)
    assert(log.vacuum() == 1 && !planted.exists())
    val manifest = new LogManifest(new Path(log.path), spark.sparkContext.hadoopConfiguration)
    val lost = webFiles.map(_.getName).filter(_.startsWith("part-")).map(n => s"topic=web/$n").toSeq
    assert(manifest.read(manifest.head() - 1).contains(LogRecord(Nil, lost)))
    assert(tail.drain().isEmpty)
    log.appendRows(Seq(row("m3", "mobile", 3000L)))
    assert(tail.drain() == Seq("m3"))
  }

  for ((layout, mk) <- layouts)
    test(s"$layout layout: a bulk append records exactly its own files and leaves no staging dir") {
      import spark.implicits._
      val log = mk(tmpDir("log"))
      val tail = new Tail(log, "web")
      log.appendRows(Seq(row("e1", "web", 1000L)))
      log.append(Seq(row("e2", "web", 2000L), row("m1", "mobile", 2000L)).toDS())
      log.append(Seq(row("e3", "web", 3000L)).toDS())
      val manifest = new LogManifest(new Path(log.path), spark.sparkContext.hadoopConfiguration)
      val recorded = (0L until manifest.head()).flatMap(id => manifest.read(id).get.added)
      val onDisk = manifest.dataFiles().map(s => manifest.relative(s.getPath))
      assert(manifest.head() == 3L && recorded.map(_.path).sorted == onDisk.sorted, recorded)
      assert(recorded.map(_.rows).sum == 4L)
      assert(new File(log.path).list().forall(n => !n.startsWith(".staging")))
      assert(tail.drain() == Seq("e1", "e2", "e3"))
    }

  test("a micro-batch of more than 32 files runs only its delivery job, and the source keeps no checkpoint state") {
    val log = new EventLog(spark, tmpDir("log"))
    (1 to 40).foreach(i => log.appendRows(Seq(row(f"e$i%02d", "web", i * 1000L))))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(job.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    val ckpt = tmpDir("tail-ckpt")
    val seen = mutable.Buffer.empty[String]
    val sub = new StreamingSubscription(spark, log.path, ckpt, e => seen += e.id,
      new InMemoryDeadLetterQueue, Some("web"), SubscriptionOptions(receiveHistoricalEvents = true))
    val q = try {
      val q = sub.start(availableNow = true)
      q.awaitTermination()
      ListenerBusShim.drain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(seen.toSeq == (1 to 40).map(i => f"e$i%02d"))
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.map(_.numInputRows).toSeq == Seq(40L))
    // the stream's jobs carry its run id as their group: one collect, no listing job
    assert(groups.toArray.count(_ == q.runId.toString) == 1, groups)
    // offsets and commits only: the source writes nothing under sources/
    assert(new java.io.File(ckpt).list().sorted.toSeq.filterNot(_.startsWith(".")) ==
      Seq("commits", "metadata", "offsets"))
  }
}

object LogTailSpec {

  /** Arms [[FailingRecordFs]]: its next manifest record write fails. */
  val failNextRecord = new AtomicBoolean(false)

  /** The engine's local file system, except that when armed, the next
    * no-overwrite create in a `_graft_log` dir claims its file and then
    * fails its write, as a full disk would.
    */
  final class FailingRecordFs extends NioLocalFileSystem {
    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
      if (overwrite || f.getParent.getName != LogManifest.DirName || !failNextRecord.getAndSet(false)) out
      else new FSDataOutputStream(new OutputStream {
        override def write(b: Int): Unit = throw new IOException("No space left on device")
        override def write(b: Array[Byte], off: Int, len: Int): Unit = write(0)
        override def close(): Unit = out.close()
      }, null)
    }
  }
}
