package graft.streaming

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's FileSystem-based checkpoint manager ([[graft.EngineSession]]
  * installs it), except that a rename of a temp file that fails deletes
  * the temp file before it rethrows. Spark's atomic output stream writes a
  * checkpoint file as a hidden `.<name>.<uuid>.tmp` and renames it into
  * place on close; when the rename fails (a no-overwrite write whose file
  * exists: two writers racing on one checkpoint), the stream rethrows
  * without cancelling, and the temp file and its `.crc` would stay in the
  * offsets or commits dir for good.
  */
class TempCleaningCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {

  override def renameTempFile(srcPath: Path, dstPath: Path, overwriteIfPossible: Boolean): Unit =
    try super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    catch { case NonFatal(t) =>
      // a checksummed file system deletes the `.crc` with the file
      try fs.delete(srcPath, false) catch { case NonFatal(e) => t.addSuppressed(e) }
      throw t
    }
}
