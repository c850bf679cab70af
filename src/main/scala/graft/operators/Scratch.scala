package graft.operators

/** Observable counter of PER-CALL procedural protocol work — scratch
  * fixture staging, checkpointed stream drains, embedded-store sinks —
  * the work the `SparkEntry.proceduralGates` tag declares. Such work
  * runs inside [[Scratch.withDir]] (the streaming-gate drains and the
  * Derby sink gates included), which bumps this counter, so the tag set
  * is no longer hand-trusted: ProceduralGateSpec constructs every query
  * against a cold memo and asserts tag ⟺ marker — a gate author who
  * forgets the tag (or tags a pure derivation) fails CI instead of
  * silently skewing Bench's gate/derivation split.
  */
object ProceduralWork {
  private val count = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Monotonic; diff across a query's construction to attribute work. */
  def touches: Long = count.get()

  def mark(): Unit = { count.incrementAndGet(); () }
}

/** Scratch-directory discipline for the query packs. Two tiers with
  * different bench semantics, and the distinction is load-bearing:
  *
  *   - [[withDir]]: PER-CALL scratch — created, used, deleted inside one
  *     query construction. This is procedural gate work (every bench
  *     pass that reconstructs pays it), so it marks [[ProceduralWork]]
  *     and the calling query must carry the `proceduralGates` tag.
  *   - [[sessionDir]]: session-amortized staging — created once per JVM
  *     (callers memoize the path), reaped on JVM exit. Repeat passes and
  *     warm restarts within the process never re-pay it, so it does NOT
  *     mark — a query whose only side effect is session staging is not a
  *     gate.
  *
  * Query packs must come through here rather than calling
  * `Files.createTempDirectory` directly (ProceduralGateSpec pins that by
  * source scan): the choice of tier IS the declaration of bench
  * semantics, and a direct call would be invisible to the tag audit.
  */
object Scratch {

  /** Headroom the tmpfs tier must show before every allocation: gate
    * fixtures are KB-MB, so 2 GB free is two orders of magnitude of
    * margin — and it is an order of magnitude ABOVE Docker's default
    * 64 MB shm mount, so constrained hosts fall back to the disk tmpdir
    * instead of failing every gate mid-run on ENOSPC (r14 advisor).
    * tmpfs pages also compete with executor memory, which is the other
    * reason a nearly-full shm must not be adopted.
    */
  private[graft] val MinFreeBytes: Long = 2L * 1024 * 1024 * 1024

  /** Adopt `base` (e.g. /dev/shm) as the fast scratch tier, or refuse.
    * Refusal conditions, each falling back to java.io.tmpdir:
    *
    *   - capacity: usable space below `minFree` (see [[MinFreeBytes]]);
    *   - ownership: `createDirectories` happily ADOPTS a pre-existing
    *     `graft-<user>` dir, and sticky-bit /dev/shm lets any local user
    *     pre-create that path — so the resolved dir must be owned by the
    *     current user (r14 advisor; createTempDirectory in the default
    *     tmpdir never trusts an attacker-owned parent, and neither does
    *     this tier);
    *   - permissions: the dir is forced to owner-only (0700) once
    *     ownership is verified — a group/world-writable scratch parent
    *     would let another user swap fixture bytes under a running gate.
    */
  private[graft] def adoptBase(base: java.nio.file.Path,
      minFree: Long = MinFreeBytes): Option[java.nio.file.Path] =
    try {
      if (!java.nio.file.Files.isDirectory(base) ||
          !java.nio.file.Files.isWritable(base)) return None
      val d = java.nio.file.Files.createDirectories(
        base.resolve(s"graft-${System.getProperty("user.name")}"))
      if (java.nio.file.Files.getOwner(d).getName
          != System.getProperty("user.name")) return None
      java.nio.file.Files.setPosixFilePermissions(d,
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
      if (java.nio.file.Files.getFileStore(d).getUsableSpace < minFree) return None
      Some(d)
    } catch { case _: Exception => None }

  /** Preferred scratch base: a RAM-backed tmpfs when the host offers one
    * with headroom (r14; guards r15). Gate scratch is EPHEMERAL protocol
    * state — checkpoints, staged logs, scratch stores — re-created on
    * every cold construction and deleted on exit, so durability is not
    * part of any gate law (a deployment checkpoints to durable storage;
    * the gates re-prove the commit PROTOCOL, not the disk). On hosts
    * where java.io.tmpdir is disk-backed (this container: ext4), the
    * checkpoint WAL's fsyncs were the dominant share of the per-drain
    * floor. `SPARK_GRAFT_SHM=0` opts out entirely.
    */
  private lazy val fastBase: Option[java.nio.file.Path] =
    if (sys.env.get("SPARK_GRAFT_SHM").contains("0")) None
    else adoptBase(java.nio.file.Paths.get("/dev/shm"))

  /** Allocate a scratch dir on the fast tier when it has headroom, the
    * disk tmpdir otherwise. The headroom probe re-runs PER ALLOCATION
    * (not just at adoption): a long-lived session that fills shm starts
    * routing new scratch to disk instead of driving the mount to ENOSPC,
    * and an allocation that still fails on the fast tier (a racing
    * writer ate the headroom) falls back to disk rather than failing
    * the gate. Writes INSIDE an allocated dir stay on their tier — the
    * 2 GB-per-allocation margin vs KB-MB fixtures is the guarantee that
    * they fit.
    */
  private def mkTemp(prefix: String): String = fastBase match {
    case Some(b) if (try java.nio.file.Files.getFileStore(b).getUsableSpace >= MinFreeBytes
        catch { case _: Exception => false }) =>
      try java.nio.file.Files.createTempDirectory(b, prefix).toString
      catch { case _: java.io.IOException =>
        java.nio.file.Files.createTempDirectory(prefix).toString }
    case _ => java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Per-call scratch dir, deleted on exit of `f`. Marks
    * [[ProceduralWork]] — callers are procedural gates by definition.
    */
  def withDir[T](prefix: String)(f: String => T): T = {
    ProceduralWork.mark()
    val base = mkTemp(prefix)
    try f(base)
    finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      ()
    }
  }

  /** Session-lifetime staging dir, reaped on JVM exit. Callers memoize
    * the returned path (once per sf dir); does not mark.
    */
  def sessionDir(prefix: String): String = {
    val base = mkTemp(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))))
    base
  }
}
