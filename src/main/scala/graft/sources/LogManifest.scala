package graft.sources

import java.io.{EOFException, FileNotFoundException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** One committed data file of an [[EventLog]]: its path relative to the
  * log root (`topic=web/part-…` or `topic_bucket=3/part-…`), bytes and rows.
  */
final case class LogFile(path: String, size: Long, rows: Long)

/** One commit of an [[EventLog]], in commit order. An *add* record only
  * adds files (a group flush, a bulk append); a *replace* record removes
  * files and adds the ones that hold their surviving rows (a maintenance
  * [[EventLog]] rewrite of one partition dir).
  */
final case class LogRecord(added: Seq[LogFile], removed: Seq[String]) {
  def isReplace: Boolean = removed.nonEmpty
}

/** The commit manifest of an event log, and the one source of its file
  * set: an append-only sequence of [[LogRecord]]s, one small file each,
  * under `<log>/_graft_log/` (the underscore keeps it out of Parquet
  * listings). A data file is in the log exactly when a record added it and
  * no later record removed it ([[live]]); a file on disk that no record
  * names is not. Record ids are dense from 0; an id is taken by a
  * no-overwrite create of its file, so two writers over one log never share
  * an id (exclusive on HDFS, and on the local file system through
  * [[NioLocalFileSystem]]).
  *
  * A record's last line is `end`. A reader takes a record without it as
  * not yet written: the create makes the file visible before its bytes.
  * A writer whose record write fails (a full disk) rewrites it empty
  * before it rethrows, so readers pass the id; one that dies mid-record
  * leaves it torn, and readers stop there, until [[EventLog.vacuum]]
  * rewrites it empty.
  *
  * Readers find new records by probing ids upward from the last one they
  * read. Nothing here lists the log except on first use: a log that Spark
  * jobs alone wrote (data files, no record 0) gets record 0, an add of
  * every data file, from one listing. Safe to race: the losing seeder's
  * create fails, and readers read the winner's record.
  */
final class LogManifest(root: Path, conf: Configuration) {
  import LogManifest._

  private val fs: FileSystem = root.getFileSystem(conf)
  private val base: Path = fs.makeQualified(root)
  private val dir = new Path(base, DirName)
  private var nextId = -1L // writers' hint: no free id below it; -1 until found (guarded by this)
  @volatile private var seeded = false
  private var cursor = 0L // records below it are folded into `liveFiles` (guarded by this)
  private val liveFiles = mutable.LinkedHashMap.empty[String, LogFile] // guarded by this
  private val written = new AtomicLong(0L)
  private val replaces = new AtomicLong(0L)

  private def recordPath(id: Long): Path = new Path(dir, f"$id%020d")

  /** Record `id`, or None while it is absent or not completely written. */
  def read(id: Long): Option[LogRecord] = {
    seed(Set.empty)
    try {
      val in = fs.open(recordPath(id))
      val text = try new String(IOUtils.readFullyToByteArray(in), UTF_8) finally in.close()
      parse(id, text)
    } catch { case _: FileNotFoundException | _: ChecksumException | _: EOFException => None }
  }

  /** The first id with no record file: a doubling probe, then a binary
    * search over the dense ids, so O(log records) stats and no listing.
    */
  def head(): Long = {
    seed(Set.empty)
    def taken(id: Long) = fs.exists(recordPath(id))
    if (!taken(0)) return 0L
    var hi = 1L
    while (taken(hi)) hi *= 2
    var lo = hi / 2 // taken(lo), !taken(hi)
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (taken(mid)) lo = mid else hi = mid
    }
    hi
  }

  /** The log's live set: every file a record added and no later record
    * removed, in commit order, through the last completely written record.
    * Kept incrementally from this instance's last call, so a call reads
    * only the records written since.
    */
  def live(): Seq[LogFile] = synchronized {
    var r = read(cursor)
    while (r.isDefined) {
      r.get.removed.foreach(liveFiles.remove)
      r.get.added.foreach(f => liveFiles(f.path) = f)
      cursor += 1
      r = read(cursor)
    }
    liveFiles.values.toSeq
  }

  /** Append a record; returns its id. */
  def append(added: Seq[LogFile], removed: Seq[String]): Long = synchronized {
    seed(added.map(_.path).toSet)
    val bytes = format(added, removed).getBytes(UTF_8)
    var id = if (nextId < 0) head() else nextId
    while (!create(id, bytes)) id += 1
    nextId = id + 1
    written.incrementAndGet()
    if (removed.nonEmpty) replaces.incrementAndGet()
    id
  }

  /** Write record `id` unless its id is taken; false if it was. A write
    * that fails once the id is claimed leaves it an empty record, on a
    * best-effort basis, and rethrows: ids stay dense and readable, and
    * the next append takes the id after it.
    */
  private def create(id: Long, bytes: Array[Byte]): Boolean = {
    val out =
      try fs.create(recordPath(id), false)
      catch { case _: FileAlreadyExistsException => return false }
    try {
      try out.write(bytes) finally out.close()
    } catch { case NonFatal(t) =>
      try writeEmpty(id) catch { case NonFatal(e) => t.addSuppressed(e) }
      throw t
    }
    true
  }

  /** Overwrite record `id` with an empty record. */
  private def writeEmpty(id: Long): Unit = {
    val out = fs.create(recordPath(id), true)
    try out.write(format(Nil, Nil).getBytes(UTF_8)) finally out.close()
  }

  /** Seed record 0 once per instance, before its first read or write (see
    * the class doc). A first append's own files, already in place, are
    * `exclude`d: its record adds them.
    */
  private def seed(exclude: Set[String]): Unit = if (!seeded) synchronized {
    if (!seeded && !fs.exists(recordPath(0))) {
      val files = dataFiles().filterNot(s => exclude(relative(s.getPath))).map(fileOf)
      if (files.nonEmpty) create(0, format(files, Nil).getBytes(UTF_8))
    }
    seeded = true
  }

  /** Settle the manifest after a crash (see [[EventLog.vacuum]]): rewrite
    * a torn record as an empty one, write one replace record that removes
    * the recorded files that are gone, and delete hidden debris in the
    * manifest dir. Returns the records repaired and the files deleted. The
    * caller holds the log's monitor, and no other writer is running.
    */
  def reconcile(): Int = synchronized {
    if (!isDir(base)) return 0
    var repaired = 0
    var current = live()
    val n = head()
    while (cursor < n) {
      writeEmpty(cursor)
      repaired += 1
      current = live()
    }
    val gone = current.map(_.path).filterNot(p => fs.exists(resolve(p)))
    if (gone.nonEmpty) append(Nil, gone)
    val records = (0L until head()).map(id => recordPath(id).getName).toSet
    val debris =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath).filter { p =>
        p.getName.startsWith(".") && !records.contains(p.getName.stripPrefix(".").stripSuffix(".crc"))
      }
    repaired + debris.count(fs.delete(_, false))
  }

  /** Records this instance wrote, and how many of them were replaces. */
  def recordsWritten: Long = written.get()
  def replacesWritten: Long = replaces.get()

  /** Every visible data file under the log (or under `dir`, a hidden
    * staging dir in it), as Spark's Parquet listing takes them.
    */
  def dataFiles(dir: Path = base): Seq[FileStatus] = {
    def walk(d: Path): Seq[FileStatus] = fs.listStatus(d).toSeq
      .filterNot(s => isHidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    if (isDir(dir)) walk(dir) else Nil
  }

  /** `status` as a manifest entry; its row count comes from the footer. */
  def fileOf(status: FileStatus): LogFile = {
    val in = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
    try LogFile(relative(status.getPath), status.getLen, in.getRecordCount) finally in.close()
  }

  /** `p`'s path below the log root. */
  def relative(p: Path): String =
    fs.makeQualified(p).toUri.getPath.stripPrefix(base.toUri.getPath).stripPrefix("/")

  /** The absolute path of a manifest entry. */
  def resolve(relativePath: String): Path = new Path(base, relativePath)

  private def isDir(p: Path): Boolean =
    try fs.getFileStatus(p).isDirectory catch { case _: FileNotFoundException => false }
}

object LogManifest {
  /** The manifest's dir under the log root. */
  val DirName = "_graft_log"

  private val Header = "graft-log 1"
  private val End = "end"

  private def isHidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** A record's text: a header, one `+ size rows path` line per added
    * file, one `- path` line per removed file, and `end`. The path is the
    * last field, so it may hold any character a partition dir name does.
    */
  private def format(added: Seq[LogFile], removed: Seq[String]): String =
    (Header +: (added.map(f => s"+\t${f.size}\t${f.rows}\t${f.path}") ++
      removed.map(p => s"-\t$p")) :+ End).mkString("", "\n", "\n")

  private def parse(id: Long, text: String): Option[LogRecord] = {
    val lines = text.split("\n").toSeq
    if (lines.lastOption != Some(End)) None
    else {
      require(lines.head == Header, s"unknown manifest record format in record $id: ${lines.head}")
      val body = lines.slice(1, lines.size - 1).map(_.split("\t", 4))
      Some(LogRecord(
        body.collect { case Array("+", size, rows, path) => LogFile(path, size.toLong, rows.toLong) },
        body.collect { case Array("-", path) => path }))
    }
  }
}
