package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** Replace a directory's contents by renames, never by deleting the live
  * dir first — how [[graft.dlq.ParquetDeadLetterQueue]] rewrites its table.
  * (The event log needs no swap: its manifest record is its commit point.)
  *
  * A rewrite writes the new contents to [[staging]]; [[swap]] then renames
  * the live dir to [[aside]], renames staging into its place and deletes
  * the aside dir. At every step the old contents exist under the live name
  * or the aside name, so a crash leaves one of three states, which
  * [[recover]] settles:
  *   - live present, no aside dir: nothing to settle (a staging dir, if
  *     any, is debris);
  *   - live missing, aside present: the swap died between its renames; the
  *     aside dir is renamed back and the old contents stand;
  *   - both present: the swap died before its last delete; the new
  *     contents stand and the aside dir is deleted.
  *
  * Both names start with '.', so Spark's file listings skip them. Callers
  * serialize the swaps of one dir, and run [[recover]] before they read it.
  */
private[graft] object DirSwap {
  private val StagingPrefix = ".staging_"
  private val AsidePrefix = ".aside_"

  def staging(live: Path): Path = new Path(live.getParent, StagingPrefix + live.getName)
  def aside(live: Path): Path = new Path(live.getParent, AsidePrefix + live.getName)

  /** Put the staged contents in place of `live`, or, when `keep` is false,
    * remove `live` and discard the staged contents. A failed rename puts
    * the old contents back and throws.
    */
  def swap(fs: FileSystem, live: Path, keep: Boolean): Unit = {
    val (staged, old) = (staging(live), aside(live))
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, old)) throw new IOException(s"could not move $live aside")
    if (keep && !fs.rename(staged, live)) {
      if (hadLive) fs.rename(old, live)
      throw new IOException(s"could not rename $staged to $live")
    }
    if (hadLive) fs.delete(old, true)
    fs.delete(staged, true)
  }

  /** Settle what a crashed [[swap]] of `live` left; true if it acted. */
  def recover(fs: FileSystem, live: Path): Boolean = {
    val old = aside(live)
    fs.exists(old) && (if (fs.exists(live)) fs.delete(old, true) else fs.rename(old, live))
  }
}
