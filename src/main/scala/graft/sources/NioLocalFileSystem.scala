package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The engine's `file:` FileSystem: Hadoop's checksummed
  * [[org.apache.hadoop.fs.LocalFileSystem]] over a raw layer that sets
  * permissions in-process.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` runs
  * `chmod %04o` in a child process, and it is called for every file,
  * `.crc` file and directory the local FS creates.
  * [[NioLocalFileSystem.Raw]] makes the same chmod(2) call through the
  * JDK's `unix:mode` attribute (java.nio, as [[graft.operators.ArtifactStore]]
  * and [[graft.operators.Scratch]] already set permissions), so files and
  * dirs get the modes stock Hadoop gives them, umask and sticky bit
  * included: Hadoop applies the umask before it calls `setPermission`.
  * Like GNU `chmod` given a 4-digit numeric mode, it keeps a directory's
  * setuid/setgid bits, so a dir created under a setgid parent keeps the
  * shared group for what is created below it.
  *
  * A create that may not overwrite is exclusive: stock Hadoop checks that
  * the file is absent and then opens it, so two racing creators can both
  * succeed and one's content is lost. [[NioLocalFileSystem.Raw]] claims the
  * name with one `O_EXCL` create first, as HDFS's namenode does, so exactly
  * one creator wins and the others get `FileAlreadyExistsException`.
  * [[LogManifest]] allocates its record ids with it.
  *
  * [[graft.EngineSession]] installs it as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The mode bits an `FsPermission` carries: sticky and rwx. */
  private val PermissionBits = Integer.parseInt("1777", 8)

  /** The setuid/setgid bits `chmod` keeps on a directory. */
  private val SetIdBits = Integer.parseInt("6000", 8)

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val path = pathToFile(p).toPath
      val kept =
        if (Files.isDirectory(path)) Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SetIdBits
        else 0
      Files.setAttribute(path, "unix:mode", Int.box((permission.toShort & PermissionBits) | kept))
    }

    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      if (!overwrite) claim(f)
      super.create(f, permission, true, bufferSize, replication, blockSize, progress)
    }

    override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      if (!overwrite) claim(f)
      super.create(f, true, bufferSize, replication, blockSize, progress)
    }

    /** Create `f` empty, failing if it exists: the no-overwrite check and
      * the create are one `O_EXCL` open.
      */
    private def claim(f: Path): Unit = {
      Option(f.getParent).foreach(p => mkdirs(p))
      try Files.createFile(pathToFile(f).toPath)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"File already exists: $f")
      }
    }
  }
}
