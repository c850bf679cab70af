package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.sources.NioLocalFileSystem

/** The engine's fork-free local file I/O ([[EngineSession]]): the session's
  * `file:` FileSystem sets permissions through java.nio and its streaming
  * checkpoints rename through `FileSystem.rename`. The file modes must match
  * stock Hadoop's, and a checkpoint write must still refuse to overwrite.
  */
class LocalFsSpec extends SparkSpec {

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** A fresh, uncached `fs` over `conf`. */
  private def init(fs: LocalFileSystem, conf: Configuration): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def unixMode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int]

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** The paths of a created file, its `.crc` and `mkdirs` dirs under `fs`, in `d`. */
  private def create(fs: FileSystem, d: String): Seq[String] = {
    val out = fs.create(new Path(s"$d/f"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(s"$d/a/b")))
    Seq(s"$d/f", s"$d/.f.crc", s"$d/a", s"$d/a/b")
  }

  /** Modes of a created file, its `.crc` and a `mkdirs` dir under `fs`. */
  private def modes(fs: FileSystem): Seq[String] = create(fs, tmpDir("localfs")).map(mode)

  test("the session's file: FileSystem is the java.nio one") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioLocalFileSystem.Raw])
  }

  test("the session's checkpoint manager is FileSystem-based") {
    val fm = CheckpointFileManager.create(new Path(tmpDir("ckpt")), spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager], fm.getClass.getName)
  }

  test("files, .crc files and dirs get stock Hadoop's modes, under either umask") {
    for ((umask, file, dir) <- Seq((None, "rw-r--r--", "rwxr-xr-x"),
        (Some("077"), "rw-------", "rwx------"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stock = modes(init(new LocalFileSystem(), conf))
      val nio = modes(init(new NioLocalFileSystem(), conf))
      assert(nio == stock, s"umask $umask")
      assert(nio == Seq(file, file, dir, dir), s"umask $umask")
    }
  }

  test("setPermission sets every rwx bit and the sticky bit") {
    val fs = init(new NioLocalFileSystem(), new Configuration())
    val d = tmpDir("sticky")
    fs.setPermission(new Path(d), new FsPermission(octal("0751").toShort))
    assert(mode(d) == "rwxr-x--x")
    fs.setPermission(new Path(d), new FsPermission(octal("1777").toShort))
    assert(unixMode(d) == octal("41777"))
  }

  test("under a setgid parent, dirs keep the setgid bit as with stock chmod") {
    val conf = new Configuration()
    def setgidModes(fs: FileSystem): Seq[Int] = {
      val d = tmpDir("setgid")
      Files.setAttribute(Paths.get(d), "unix:mode", Int.box(octal("2775")))
      create(fs, d).map(unixMode)
    }
    val stock = setgidModes(init(new LocalFileSystem(), conf))
    val nio = setgidModes(init(new NioLocalFileSystem(), conf))
    assert(nio == stock)
    assert(nio == Seq("100644", "100644", "42755", "42755").map(octal))
  }

  test("a second no-overwrite checkpoint write of one file fails and keeps the first") {
    val d = tmpDir("ckpt-atomic")
    val fm = CheckpointFileManager.create(new Path(d), spark.sessionState.newHadoopConf())
    val p = new Path(s"$d/0")
    def write(b: Byte): Unit = {
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write(Array(b))
      out.close()
    }
    write(1)
    intercept[FileAlreadyExistsException](write(2))
    assert(Files.readAllBytes(Paths.get(s"$d/0")).toSeq == Seq[Byte](1))
    // the failed write's hidden temp file and its .crc are gone
    assert(new java.io.File(d).list().sorted.toSeq == Seq(".0.crc", "0"))
  }

  test("racing no-overwrite creates of one file: exactly one wins, its bytes stay") {
    val fs = init(new NioLocalFileSystem(), new Configuration())
    for (round <- 0 until 20) {
      val p = new Path(s"${tmpDir("excl")}/sub/$round")
      val start = new java.util.concurrent.CountDownLatch(1)
      val outcomes = (0 until 4).map { i =>
        val f = new java.util.concurrent.FutureTask[Boolean](() => {
          start.await()
          try {
            val out = fs.create(p, false)
            try out.write(Array(i.toByte)) finally out.close()
            true
          } catch { case _: FileAlreadyExistsException => false }
        })
        new Thread(f).start()
        i -> f
      }
      start.countDown()
      val winners = outcomes.collect { case (i, f) if f.get() => i }
      assert(winners.size == 1, s"round $round: ${winners.size} creators won")
      assert(Files.readAllBytes(Paths.get(p.toString)).toSeq == Seq(winners.head.toByte))
    }
  }
}
