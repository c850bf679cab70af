package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

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
  }
}
