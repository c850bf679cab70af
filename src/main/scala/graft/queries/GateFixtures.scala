package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/** Session-amortized staged fixtures for the procedural gates — the r13
  * verdict's "share one scratch base" consolidation.
  *
  * Every streaming gate (q178-q211) stages a small parquet fixture derived
  * from the immutable sf tables, then drains it through a checkpointed
  * streaming query. The DRAIN is per-call gate protocol (it marks
  * [[graft.operators.ProceduralWork]] and re-runs on every cold
  * construction — that is what the gate proves); the FIXTURE is a pure
  * function of the sf dir, so re-writing it 28 times per cold session is
  * protocol waste, not re-proof. This hub stages each fixture ONCE per
  * (JVM, sf dir) on the [[graft.operators.Scratch.sessionDir]] tier
  * (Scratch's documented session-amortized tier: "warm restarts within
  * the process never re-pay it") and hands gates the path. Through r13
  * each gate staged its own copy per construction — the dominant share of
  * the 84 s warm-boot gate tax. q64's DLQ read fixture stages here too:
  * a fixed shared path let two concurrent runs reset each other's copy.
  *
  * Thread-safety: `computeIfAbsent` makes each fixture build exactly-once
  * under concurrent suites sharing the test session.
  */
object GateFixtures {

  private val staged = new ConcurrentHashMap[String, String]()
  private lazy val base = graft.operators.Scratch.sessionDir("graft-gatefix")

  private def slot(dir: String, tag: String): String = {
    // hashCode alone could collide across dirs; a readable suffix makes
    // the slot unique in practice and debuggable on disk
    val safe = dir.replaceAll("[^a-zA-Z0-9.]", "_").takeRight(24)
    s"$base/d${Integer.toHexString(dir.hashCode)}-$safe/$tag"
  }

  /** Stage `build` as a parquet fixture once per (JVM, dir, tag); returns
    * the staged path. `partitions` controls the file count (= micro-batch
    * count under maxFilesPerTrigger=1).
    */
  def parquet(dir: String, tag: String, partitions: Int = 1)(
      build: => DataFrame): String =
    staged.computeIfAbsent(s"$dir#$tag", _ => {
      val p = slot(dir, tag)
      build.repartition(partitions).write.mode("overwrite").parquet(p)
      p
    })

  /** Stage a two-batch fixture: `build` as the main file(s), then
    * `sentinel` as separate file(s) whose modification time is forced
    * STRICTLY later — under `maxFilesPerTrigger=1` the file source
    * (oldest-modified-first) serves the main data as batch 1 and the
    * sentinel as batch 2, so the event-time watermark advances past the
    * main data INSIDE one AvailableNow run and timed-out state flushes in
    * the trailing no-data batch. This replaces the gates' former
    * two-drain pattern (drain, append sentinel, drain again): one stream
    * start instead of two, and the fixture stays immutable so it can be
    * session-amortized.
    */
  def parquetWithSentinel(dir: String, tag: String)(build: => DataFrame)(
      sentinel: => DataFrame): String =
    staged.computeIfAbsent(s"$dir#$tag", _ => {
      val p = slot(dir, tag)
      build.repartition(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p)
      def parts() = f.listFiles().filter(_.getName.endsWith(".parquet")).toSet
      val mainParts = parts()
      val mainMtime = mainParts.map(_.lastModified())
        .maxOption.getOrElse(System.currentTimeMillis())
      sentinel.repartition(1).write.mode("append").parquet(p)
      (parts() -- mainParts).foreach { nf =>
        // force a strict mtime gap: same-millisecond writes would leave
        // the batch order to directory-listing luck. The batch split IS
        // the fixture's semantics (sentinel must be micro-batch 2), so
        // a filesystem that refuses the touch fails loudly here instead
        // of as a scattered late-row hash mismatch downstream.
        if (!nf.setLastModified(mainMtime + 60000L))
          throw new IllegalStateException(
            s"could not force sentinel mtime on $nf — batch order would be undefined")
      }
      p
    })

  /** Stage an arbitrary DIRECTORY fixture once per (JVM, dir, tag):
    * `build` populates the returned path (e.g. the q251 reference-layout
    * JSON tree, the q170/q252 pristine base IVF index). Mutating gates
    * must COPY the fixture into per-call scratch first — the staged tree
    * itself is immutable by contract.
    */
  def dir(dirKey: String, tag: String)(build: String => Unit): String =
    staged.computeIfAbsent(s"$dirKey#$tag", _ => {
      val p = slot(dirKey, tag)
      build(p)
      p
    })

  /** Serializes every session-conf save/mutate/restore window of
    * [[narrow]]. The conf is session-global and the test session is
    * shared across concurrently-running ScalaTest suites, so two
    * UNSERIALIZED save/restore sections can interleave — the second
    * captures the first's narrowed value as its "prior" and the session
    * ends up permanently at width 4 / codegen off, silently degrading
    * every later derivation query (r14 advisor). Reentrant: a narrowed
    * section nested in another re-enters without deadlock.
    */
  private val confLock = new java.util.concurrent.locks.ReentrantLock()

  private def confLocked[T](f: => T): T = {
    confLock.lock()
    try f finally confLock.unlock()
  }

  /** Run `f` with `spark.sql.shuffle.partitions` narrowed to `width` —
    * the streaming-gate drain discipline for gates whose OPERATOR starts
    * its own checkpointed query (IncrementalRollup, StreamingIvfAppend):
    * fixture-sized drains at the session's full width just multiply
    * state-store deltas and task fixed cost per micro-batch. A stream
    * started inside `f` clones the narrowed conf; the session value is
    * restored on exit. Batch jobs inside `f` are fixture-sized and AQE
    * coalesces them regardless.
    *
    * The whole section runs under [[confLocked]]: narrowed sections are
    * SERIAL across threads, so a concurrent narrow can never capture
    * another's in-flight width as its restore value, and a derivation
    * query planned between gates always sees the session's full width.
    * Cost is nil — the 28 gates' drains were already effectively serial
    * on the shared session's scheduler.
    */
  def narrow[T](s: org.apache.spark.sql.SparkSession, width: Int = 4)(f: => T): T = confLocked {
    val key = "spark.sql.shuffle.partitions"
    // openCostInBytes at its 4 MB default turns a many-small-file fixture
    // scan (q251's one-JSON-per-event tree) into hundreds of near-empty
    // splits; 256 KB packs them into a handful. Split packing only — no
    // semantics.
    val costKey = "spark.sql.files.openCostInBytes"
    // whole-stage codegen compiles a fresh janino class per distinct
    // plan shape; the 28 gates' plans are all distinct and their inputs
    // KB-MB, so the per-plan compile dwarfs any execution win (measured
    // ~10% off the gate floor) — interpreted mode is semantically
    // identical, and the headline derivation path keeps codegen
    val cgKey = "spark.sql.codegen.wholeStage"
    graft.EngineSession.withConf(s,
      key -> math.min(s.conf.get(key).toIntOption.getOrElse(width), width).toString,
      costKey -> (256L * 1024).toString,
      cgKey -> "false")(f)
  }

  /** Run `f` once per key for the JVM's lifetime — session-amortized side
    * effects that are pure functions of the sf dir (e.g. loading the
    * embedded JDBC store q65 scans: a restarted deployment connects to a
    * POPULATED database, it does not re-ingest it).
    */
  def once(key: String)(f: => Unit): Unit = {
    staged.computeIfAbsent(s"once#$key", _ => { f; "done" })
    ()
  }
}
