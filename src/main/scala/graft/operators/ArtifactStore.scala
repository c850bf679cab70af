package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Cross-session stored artifacts: the on-disk generalization of the
  * stored-index pattern q95/q96/q98 already use (PQ codebooks written next
  * to the corpus) — applied to every expensive session hub (the corpus
  * term-frequency index, the gram explode, the IVF/Lloyd tower, the PPJoin
  * prefix index, the daily event rollup).
  *
  * Why: [[ResultMemo]] makes a hub build once per BATCH — but a real
  * deployment restarts, and a 100 TB engine cannot re-pay an index build
  * (a full-corpus tokenize + shuffle) on every restart. The artifact
  * store gives those hubs published-artifact semantics across sessions: build once, write parquet + a fingerprint
  * sidecar, and every later session (or bench pass) whose INPUTS are
  * byte-identical loads the stored table instead of re-deriving it.
  *
  * Invalidation is structural, the [[graft.plans.TopicBucketPruning]]
  * sidecar discipline: the sidecar records an md5 over the sorted
  * (relative path, mtime, length) triples of every data file reachable
  * from the inputs — RECURSIVELY, so a `partitionBy("topic")` log layout
  * or any nested directory tree participates file-for-file (a rewritten
  * partition one level down invalidates exactly like a rewritten flat
  * file) — plus the build's parameter string. Rewriting an input under
  * the SAME path changes its (mtime, len) identity, the fingerprint stops
  * matching, and the next load rebuilds — a stale artifact is unreachable,
  * never served (granularity caveat: a same-length rewrite inside one
  * mtime tick of the filesystem is invisible; local FS mtime here is
  * millisecond-grain). A changed build parameter (k-means iteration
  * count, shingle width) invalidates the same way via `params`.
  *
  * Builder-code identity: input identity alone cannot see a CODE change —
  * a regressed builder would silently serve tables derived by the old
  * code. Two layers close this: every fingerprint automatically folds in
  * the ENGINE BUILD's code identity (a CONTENT hash — md5 of the loaded
  * jar's bytes or of the classes tree; never (path, mtime), which drifts
  * per run under launchers that repackage a fresh jar — see
  * `codeIdentity`), so a recompiled build can never read artifacts a
  * different build derived;
  * and every call site additionally folds a builder-version token into
  * `params` (`bv1`, bumped whenever the build closure's SEMANTICS change
  * — the documented-intent layer, and the only guard under classloaders
  * with no readable code source). The store-wide format constant below
  * versions the store itself.
  *
  * Commit protocol (concurrent-writer safe): build into a nonce-suffixed
  * temp dir, write the sidecar into it LAST (sidecar presence == commit
  * marker), then swap: rename any existing artifact ASIDE (a metadata op,
  * never a slow recursive delete at the published path), rename the new
  * dir in, then delete the aside dir. A cross-JVM reader racing the swap
  * sees the old committed artifact or the new one in all but the
  * microsecond metadata window between the two renames; a reader landing
  * in that window (or on any other storage hiccup) finds no committed
  * artifact and falls back to building in-session — correct, merely
  * unmemoized, because the store is a cache tier, never a correctness
  * dependency. A half-written dir is never at the published path. Writers
  * in one JVM serialize per artifact path; a cross-JVM losing writer just
  * rebuilt the same deterministic table and its swap publishes identical
  * content.
  *
  * Trust: the store root must be PRIVATE — artifacts are served as query
  * results, so a world-writable root (or one owned by another user) would
  * let anyone plant rows. On posix filesystems the root is created 0700
  * and verified (owner == current user, no group/other write) before any
  * artifact is trusted; a root that fails the check disables the store
  * for this JVM (fall back to in-session builds).
  *
  * Lifecycle: superseded generations are swapped out in place, but
  * writer crashes leave `.tmp-*` dirs and deleted inputs leave whole
  * orphaned groups. [[vacuum]] is the store's [[graft.sources.EventLog]]
  * `vacuum` equivalent: sweep abandoned temp/aside dirs past an age
  * threshold, uncommitted artifact dirs, and committed artifacts whose
  * recorded inputs are gone (orphaned) or no longer match (stale, would
  * be rebuilt on next access anyway).
  *
  * Opt-in by conf: `spark.graft.artifacts.dir` names the store root
  * (Bench and Verify set it; plan-audit test sessions leave it unset so
  * linters sweep the REAL derivation plans, not a stored-table scan).
  * Unset conf or any storage failure falls back to the in-session build —
  * the store is a cache tier, never a correctness dependency. Determinism
  * contract: `build` must be value-deterministic (every hub here already
  * is — rounded Lloyd averages, md5 hashes, exact decimal sums), because
  * a loaded artifact must hash-match a fresh derivation.
  */
object ArtifactStore {

  val ConfKey = "spark.graft.artifacts.dir"

  /** Store format version, folded into every fingerprint: bumping it
    * invalidates all stored artifacts at once (v2: recursive fingerprint
    * + inputs/params recorded in the sidecar).
    */
  val FormatVersion = "graft-artifact-v2"

  /** Sidecar file inside a committed artifact directory. Underscore-
    * prefixed, so parquet directory listings ignore it (`_SUCCESS`
    * convention).
    */
  val MetaFile = "_graft_artifact.json"

  private val nonce = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-published-path intra-JVM build locks. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build counter per artifact name — observable by specs ("second load
    * did NOT rebuild"; "rewritten input DID").
    */
  private val builds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Store roots already ownership-verified this JVM (or rejected). */
  private val rootTrust =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Builds per store root this JVM — the per-root view of [[builds]],
    * keyed by the conf value the session configured. Exists because
    * [[totalBuilds]] alone cannot distinguish a genuine invalidation of
    * the SESSION's store from the q253 lifecycle gate's builds against
    * its own scratch root (which run every session by design, so the
    * JVM-wide counter has a per-run floor and never reads 0).
    */
  private val rootBuilds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def buildCount(name: String): Long =
    Option(builds.get(name)).map(_.longValue).getOrElse(0L)

  /** Total artifact builds this JVM paid (across all names AND all store
    * roots, gate-scratch roots included — so a bench run that exercises
    * q253 never reads 0 here; see [[buildsUnderRoot]] for the
    * session-root view whose 0 really does mean "fully warm store").
    */
  def totalBuilds: Long = {
    var t = 0L
    builds.values.forEach(v => t += v.longValue)
    t
  }

  /** Artifact builds paid under one specific store root (the trimmed conf
    * value) — 0 over a bench run means every hub under THAT root was
    * served warm; builds against other roots (the q253 gate's scratch
    * store) don't count, so sweep-to-sweep timing differences stay
    * attributable to the session's own store state.
    */
  def buildsUnderRoot(root: String): Long =
    Option(rootBuilds.get(root.trim)).map(_.longValue).getOrElse(0L)

  def root(s: SparkSession): Option[String] =
    s.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty)

  /** Stored-or-built table. `inputs` are the paths (files or directories)
    * the build reads; `params` is any non-path build configuration that
    * must participate in invalidation — INCLUDING a builder-version token
    * (`bv1`), bumped whenever the build closure's semantics change.
    * Returns the published parquet scan when a committed artifact matches
    * the current fingerprint, else runs `build`, publishes it, and
    * returns a scan of the fresh artifact (so hit and miss hand every
    * caller the SAME plan shape — one parquet scan). Every call walks the
    * input tree to fingerprint it; hubs that many queries read wrap this
    * call in [[ResultMemo.getOrCompute]], so the lookup and the `.cache()`
    * on the returned scan happen once per batch.
    */
  def table(s: SparkSession, name: String, inputs: Seq[String],
      params: String = "")(build: => DataFrame): DataFrame =
    tables(s, Seq(name), inputs, params)(Seq(build)).head

  /** [[table]] plus a SERVED flag: true iff the returned frame is a scan
    * of a committed store artifact (hit or fresh publish), false when the
    * store is unset/untrusted/failed and the frame is the in-session
    * build. Callers that change their own treatment based on the store
    * (q122 keeps a cache+count fallback for store-off sessions) must
    * branch on this, not on `root(s).isDefined` — the conf being set does
    * not mean the store actually served (any storage failure falls back
    * mid-call).
    */
  def tableServed(s: SparkSession, name: String, inputs: Seq[String],
      params: String = "")(build: => DataFrame): (DataFrame, Boolean) = {
    var served = true
    val df = tablesImpl(s, Seq(name), inputs, params,
      onFallback = () => served = false)(Seq(build)).head
    (df, served)
  }

  /** Multi-table variant for builds that produce SIBLING tables from one
    * chain (an IVF tower's cells + centroids; PPJoin's sets + prefix
    * rows): `builds` are evaluated only on a miss, all tables publish
    * under one fingerprint, and a partial store (some names committed,
    * some missing/stale) rebuilds the whole group — siblings from
    * different builds must never mix.
    */
  def tables(s: SparkSession, names: Seq[String], inputs: Seq[String],
      params: String = "")(builders: => Seq[DataFrame]): Seq[DataFrame] =
    tablesImpl(s, names, inputs, params, onFallback = () => ())(builders)

  private def tablesImpl(s: SparkSession, names: Seq[String],
      inputs: Seq[String], params: String, onFallback: () => Unit)(
      builders: => Seq[DataFrame]): Seq[DataFrame] = {
    root(s) match {
      case None => onFallback(); builders
      case Some(r) =>
        try {
          val rootPath = new Path(r)
          val fs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
          ensureTrustedRoot(fs, rootPath)
          // ONE input-tree walk per call: both hashes derive from the same
          // listing, so an input rewritten mid-call can never leave the
          // sidecar's fp and inputsFp describing different input states
          // (which would make vacuum misclassify superseded vs stale)
          val (fp, inFp) = fingerprintsFrom(inputIds(s, inputs), params)
          val dirs = names.map(n => new Path(artifactDir(r, inputs, n)))
          val lock = locks.computeIfAbsent(dirs.head.toString, _ => new Object)
          lock.synchronized {
            if (dirs.forall(d => committedMatches(fs, d, fp)))
              dirs.map(d => load(s, fs, d))
            else {
              val built = builders
              require(built.size == names.size,
                s"ArtifactStore.tables: ${names.size} names, ${built.size} builds")
              names.zip(built).zip(dirs).map { case ((n, df), d) =>
                publish(fs, d, n, fp, inFp, inputs, params, df)
                builds.merge(n, 1L, (a, b) => a + b)
                rootBuilds.merge(r.trim, 1L, (a, b) => a + b)
                load(s, fs, d)
              }
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[graft] artifact store unavailable for ${names.mkString(",")}" +
                s" (${e.getMessage}); building in-session")
            onFallback()
            builders
        }
    }
  }

  /** The root must be a private directory owned by the current user: the
    * store serves its contents as query results, so a pre-planted or
    * world-writable root is an injection channel, and concurrent runs as
    * different users must not share one. Created 0700 when missing;
    * verified once per JVM per root (posix filesystems only — elsewhere
    * the scheme's own auth is the boundary). Failure throws, which the
    * caller's fallback turns into "store disabled, build in-session".
    */
  private def ensureTrustedRoot(fs: FileSystem, root: Path): Unit = {
    val key = root.toString
    val cached = rootTrust.get(key)
    if (cached != null) {
      if (!cached.booleanValue)
        throw new SecurityException(s"untrusted artifact root $root")
      return
    }
    val ok =
      try {
        val local = fs.getUri.getScheme == "file"
        if (local) {
          val p = java.nio.file.Paths.get(root.toUri.getPath)
          if (!java.nio.file.Files.exists(p)) {
            java.nio.file.Files.createDirectories(p,
              java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
                java.nio.file.attribute.PosixFilePermissions.fromString("rwx------")))
            // umask may have widened the leaf — pin it
            java.nio.file.Files.setPosixFilePermissions(p,
              java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
            true
          } else {
            val owner = java.nio.file.Files.getOwner(p).getName
            val me = System.getProperty("user.name")
            val perms = java.nio.file.Files.getPosixFilePermissions(p)
            import java.nio.file.attribute.PosixFilePermission._
            val open = perms.contains(GROUP_WRITE) || perms.contains(OTHERS_WRITE)
            java.nio.file.Files.isDirectory(p) && owner == me && !open
          }
        } else {
          if (!fs.exists(root)) fs.mkdirs(root)
          true
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    rootTrust.put(key, java.lang.Boolean.valueOf(ok))
    if (!ok) throw new SecurityException(
      s"untrusted artifact root $root (not owned by current user, or group/other-writable)")
  }

  /** Identity of the ENGINE BUILD itself, folded into every fingerprint:
    * input identity alone cannot see a code change, and the per-call-site
    * `bv` tokens are manual — a forgotten bump after a builder edit must
    * not let the store serve tables derived by the old code (nor let a
    * regressed builder pass verification by reading the previous build's
    * correct artifact). Computed once per JVM as a CONTENT hash of the
    * code source that loaded this class: a jar contributes the md5 of its
    * bytes; a classes directory contributes an md5 over the sorted
    * (relative path, bytes) of every file in the tree. Content, not
    * (path, mtime): launchers that repackage a fresh per-run jar from
    * unchanged classfiles (sbt `runMain` does) must keep the identity
    * stable, while any recompiled classfile changes it. A deployment's
    * fixed jar keeps artifacts warm across restarts; a changed build
    * invalidates them all — the safe default. An unreadable code source
    * (exotic classloaders) degrades to a constant, leaving the `bv`
    * tokens as the only code guard there.
    */
  private lazy val codeIdentity: String =
    try {
      val src = getClass.getProtectionDomain.getCodeSource
      if (src == null || src.getLocation == null) "code:unknown"
      else {
        val p = java.nio.file.Paths.get(src.getLocation.toURI)
        val md = java.security.MessageDigest.getInstance("MD5")
        if (java.nio.file.Files.isRegularFile(p))
          md.update(java.nio.file.Files.readAllBytes(p))
        else {
          val it = java.nio.file.Files.walk(p)
          val files =
            try {
              val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
              it.forEach(f => if (java.nio.file.Files.isRegularFile(f)) b += f)
              b.sortBy(p.relativize(_).toString)
            } finally it.close()
          files.foreach { f =>
            val bytes = java.nio.file.Files.readAllBytes(f)
            // frame each (path, bytes) pair — length-prefixing keeps the
            // concatenated stream unambiguous (bytes absorbing the next
            // path must not hash identically)
            md.update(s"${p.relativize(f)}\n${bytes.length}\n".getBytes("UTF-8"))
            md.update(bytes)
          }
        }
        "code:" + md.digest().map("%02x".format(_)).mkString
      }
    } catch { case scala.util.control.NonFatal(_) => "code:unknown" }

  /** md5 over the sorted identity triples of every data file reachable
    * from `inputs` — RECURSIVELY, each keyed by its path relative to the
    * listed input, so nested layouts (`partitionBy`, bucketed logs)
    * contribute every data file and a moved file changes identity even
    * with equal (mtime, len). Hidden files and directories (`_`/`.`
    * prefixed) are metadata, not data: a rewritten `_SUCCESS` alone must
    * not invalidate. Plus `params`, the store format version, and
    * [[codeIdentity]] (the engine build that ran the builder).
    */
  def fingerprint(s: SparkSession, inputs: Seq[String],
      params: String): String =
    fingerprintsFrom(inputIds(s, inputs), params)._1

  /** The fingerprint WITHOUT the code identity — (inputs, params) only.
    * Recorded in the sidecar so [[vacuum]] can tell a SUPERSEDED artifact
    * (same inputs, different engine build — possibly live for a
    * concurrently running session of that build) from a STALE one (the
    * inputs themselves changed; no build can ever serve it again).
    */
  def inputsFingerprint(s: SparkSession, inputs: Seq[String],
      params: String): String =
    fingerprintsFrom(inputIds(s, inputs), params)._2

  /** Both hashes from ONE input listing — `(full fingerprint,
    * inputs-only fingerprint)`. Callers needing both must use this (or
    * the ids overload) so the two hashes always describe the same input
    * state; calling [[fingerprint]] then [[inputsFingerprint]] walks the
    * input trees twice, and an input rewritten between the walks would
    * leave them describing different states.
    */
  private def fingerprintsFrom(ids: Seq[String],
      params: String): (String, String) =
    (md5Hex((FormatVersion +: codeIdentity +: ids :+ params).mkString("\n")),
      md5Hex((FormatVersion +: ids :+ params).mkString("\n")))

  private def inputIds(s: SparkSession, inputs: Seq[String]): Seq[String] = {
    val conf = s.sessionState.newHadoopConf()
    inputs.sorted.flatMap { in =>
      val p = new Path(in)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(s"${p.getName}:${st.getModificationTime}:${st.getLen}")
      else dataFiles(fs, p).map { case (rel, f) =>
        s"${p.getName}/$rel:${f.getModificationTime}:${f.getLen}"
      }.sorted
    }
  }

  /** Recursive (relativePath, status) listing of the DATA files under
    * `dir`, skipping hidden (`_`/`.`) files and subtrees at every level.
    */
  private def dataFiles(fs: FileSystem, dir: Path,
      prefix: String = ""): Seq[(String, FileStatus)] =
    fs.listStatus(dir).toSeq
      .filterNot(f => f.getPath.getName.startsWith("_") ||
        f.getPath.getName.startsWith("."))
      .flatMap { f =>
        val rel = s"$prefix${f.getPath.getName}"
        if (f.isFile) Seq(rel -> f)
        else dataFiles(fs, f.getPath, s"$rel/")
      }

  private def md5Hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** `<root>/<md5 of the input-path list>/<name>` — keyed by input
    * IDENTITY (the sf dir), not content, so sf0.01 and sf0.1 artifacts
    * coexist; content staleness is the sidecar's job.
    */
  private def artifactDir(root: String, inputs: Seq[String], name: String): String =
    s"${root.stripSuffix("/")}/${md5Hex(inputs.sorted.mkString("\n")).take(12)}/$name"

  private def committedMatches(fs: FileSystem, dir: Path,
      fp: String): Boolean =
    try {
      readMeta(fs, dir).exists(_.fingerprint == fp)
    } catch { case scala.util.control.NonFatal(_) => false }

  private def load(s: SparkSession, fs: FileSystem, dir: Path): DataFrame = {
    // schema comes from the sidecar, not inference: an EMPTY artifact
    // (legal — a hub over an empty slice) has no part files to infer
    // from, and the sidecar DDL also pins column order and types exactly
    // as the build produced them.
    val meta = readMeta(fs, dir).getOrElse(
      throw new IllegalStateException(s"no sidecar in $dir"))
    s.read.schema(StructType.fromDDL(meta.schemaDdl)).parquet(dir.toString)
  }

  private def publish(fs: FileSystem, dir: Path,
      name: String, fp: String, inFp: String, inputs: Seq[String],
      params: String, df: DataFrame): Unit = {
    val tag = s"${System.nanoTime()}-${nonce.incrementAndGet()}"
    val tmp = new Path(dir.getParent, s"${dir.getName}.tmp-$tag")
    df.write.mode("overwrite").parquet(tmp.toString)
    val ddl = df.schema.toDDL
    val inputsJson = inputs.map(i => "\"" + esc(i) + "\"").mkString("[", ",", "]")
    val out = fs.create(new Path(tmp, MetaFile), true)
    try out.write(
      (s"""{"name":"${esc(name)}","fingerprint":"$fp",""" +
        s""""inputsFp":"$inFp",""" +
        s""""inputs":$inputsJson,"params":"${esc(params)}",""" +
        s""""schema":"${esc(ddl)}"}""").getBytes("UTF-8"))
    finally out.close()
    // swap: rename the old generation ASIDE (metadata op), the new one in,
    // then delete the aside dir — a racing reader sees old-or-new except
    // in the between-renames metadata window, where it rebuilds in-session
    // (cache-tier fallback). Never a slow recursive delete at the
    // published path.
    val aside = new Path(dir.getParent, s"${dir.getName}.old-$tag")
    val hadOld = fs.exists(dir) && fs.rename(dir, aside)
    if (!fs.rename(tmp, dir)) {
      // lost a cross-JVM race: the winner published the same deterministic
      // content; discard ours (and restore nothing — the winner's dir is
      // the committed one) and use theirs
      fs.delete(tmp, true)
      if (hadOld) fs.delete(aside, true)
      if (!fs.exists(new Path(dir, MetaFile)))
        throw new IllegalStateException(s"artifact publish failed for $dir")
    } else if (hadOld) fs.delete(aside, true)
  }

  // ---- vacuum -------------------------------------------------------

  final case class VacuumEntry(path: String, kind: String, action: String)

  /** Sweep the store root's orphans — the [[graft.sources.EventLog]]
    * `vacuum` discipline applied to the artifact tier:
    *
    *   - `tmp`: a `.tmp-*` dir abandoned by a writer that died
    *     mid-`df.write` (no sidecar ever committed at the published
    *     path's expense — but the scratch bytes accrete);
    *   - `aside`: a `.old-*` dir left by a swap whose final delete
    *     failed;
    *   - `uncommitted`: an artifact dir with no readable sidecar;
    *   - `orphaned`: a committed artifact whose recorded inputs no
    *     longer exist (the sf dir was deleted) — nothing will ever read
    *     or invalidate it again;
    *   - `stale`: a committed artifact whose recorded INPUTS no longer
    *     match (the sidecar's inputs-only fingerprint) — no build can
    *     ever serve it again; the next access would rebuild over it
    *     anyway, vacuuming just frees the space early;
    *   - `superseded`: inputs still match but the full fingerprint does
    *     not — an artifact another ENGINE BUILD derived. It may be LIVE
    *     for a concurrently running session of that build (which could
    *     have a scan of it memoized), so it is age-gated like `tmp`,
    *     never swept from under a fresh session;
    *   - `live`: fingerprint still matches — always kept;
    *   - `unknown`: a sidecar without recorded inputs (pre-v2 format) —
    *     kept, never guessed at.
    *
    * `tmp`/`aside`/`uncommitted`/`superseded` are age-gated by
    * `maxAgeMs` (a writer may legitimately be mid-publish; another build
    * may legitimately be mid-session); `orphaned`/`stale` are deletable
    * at any age because a racing reader's fallback is the in-session
    * build. Returns the full ledger, one row per entry examined, action
    * `deleted`, `kept`, or `failed` (the filesystem refused the delete —
    * never reported as swept).
    *
    * Fault isolation: classification of one entry can itself fail — a
    * sidecar recording an unparsable input path, an input deleted
    * between the existence check and fingerprinting, a permission
    * error on delete. One bad entry must not abort the sweep and leave
    * every later orphan unswept: such entries ledger as kind `error`,
    * action `kept` (never guessed at, never deleted) and the sweep
    * continues.
    */
  def vacuum(s: SparkSession, rootDir: String,
      maxAgeMs: Long = 3600000L): Seq[VacuumEntry] = {
    val rootPath = new Path(rootDir)
    val fs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return Seq.empty
    val now = System.currentTimeMillis()
    def expired(st: FileStatus): Boolean =
      now - st.getModificationTime >= maxAgeMs
    val out = scala.collection.mutable.ArrayBuffer.empty[VacuumEntry]
    for (group <- fs.listStatus(rootPath).toSeq.filter(_.isDirectory)) {
      // the group itself can vanish between the root listing and this
      // listStatus (a concurrent vacuum swept it empty) — a vanished
      // group is simply not ours to sweep, never an aborted walk
      val entries =
        try fs.listStatus(group.getPath).toSeq
        catch { case scala.util.control.NonFatal(_) =>
          out += VacuumEntry(group.getPath.toString, "error", "kept")
          Seq.empty[FileStatus]
        }
      for (entry <- entries) {
        val p = entry.getPath.toString
        def drop(kind: String, gated: Boolean): Unit = {
          val del = !gated || expired(entry)
          // a false return (RawLocalFileSystem reports most permission
          // failures this way, not by throwing) must never ledger as
          // swept — the entry is still on disk
          val action =
            if (!del) "kept"
            else if (fs.delete(entry.getPath, true)) "deleted"
            else "failed"
          out += VacuumEntry(p, kind, action)
        }
        try {
          classify(s, fs, entry) match {
            case "live" => out += VacuumEntry(p, "live", "kept")
            case "unknown" => out += VacuumEntry(p, "unknown", "kept")
            // orphaned/stale: no build can ever serve them again —
            // deletable at any age. Everything else is age-gated: a
            // writer may be mid-publish (tmp/aside/uncommitted), another
            // engine build's session may hold a scan (superseded).
            case k => drop(k, gated = k != "orphaned" && k != "stale")
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            out += VacuumEntry(p, "error", "kept")
        }
      }
      try {
        if (fs.listStatus(group.getPath).isEmpty) fs.delete(group.getPath, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    out.toSeq
  }

  /** One store entry's lifecycle state — the shared classification both
    * [[vacuum]] (which acts on it) and [[census]] (which reports it)
    * read:
    *
    *   - `tmp` / `aside` / `uncommitted`: publish-protocol debris;
    *   - `orphaned`: committed, but its recorded inputs are gone;
    *   - `live`: full fingerprint matches — servable by this build;
    *   - `superseded`: inputs still match but the engine build differs —
    *     possibly live for a concurrent session of that build. Also every
    *     committed non-live sidecar WITHOUT a recorded inputsFp (the
    *     pre-inputsFp generations): with no inputs-only hash to compare,
    *     old-build-still-live is indistinguishable from input-rewrite,
    *     and the safe default is the age gate;
    *   - `stale`: inputs changed — no build can ever serve it again;
    *   - `unknown`: a sidecar without recorded inputs — never guessed at.
    */
  private def classify(s: SparkSession, fs: FileSystem,
      entry: FileStatus): String = {
    val name = entry.getPath.getName
    if (name.contains(".tmp-")) "tmp"
    else if (name.contains(".old-")) "aside"
    else if (!entry.isDirectory) "uncommitted"
    else readMeta(fs, entry.getPath) match {
      case None => "uncommitted"
      case Some(m) if m.inputs.isEmpty => "unknown"
      case Some(m) =>
        if (!m.inputs.forall(in => fs.exists(new Path(in)))) "orphaned"
        else {
          val (fp, inFp) = fingerprintsFrom(inputIds(s, m.inputs), m.params)
          if (fp == m.fingerprint) "live"
          // no inputsFp recorded (pre-inputsFp sidecar generations): a
          // fingerprint equal to today's inputs-only hash is the
          // code-identity-free era with unchanged inputs — superseded.
          // Any OTHER mismatch is indeterminate: the sidecar may be the
          // code-identity era (its fp folds that build's code hash, so
          // it matches neither of ours even with unchanged inputs) or a
          // genuine input rewrite — we cannot tell without inputsFp, so
          // the safe default is superseded (age-gated), never an
          // ungated sweep from under a possibly-live old-build session.
          else if (m.inputsFp.isEmpty) "superseded"
          else if (m.inputsFp.contains(inFp)) "superseded"
          else "stale"
        }
    }
  }

  // ---- census -------------------------------------------------------

  final case class CensusEntry(group: String, name: String, state: String,
      files: Long, bytes: Long, modifiedMs: Long)

  /** Read-only store inventory — the `layoutReport`/CompactionAdvisor
    * discipline applied to the artifact tier: one row per store entry
    * with its lifecycle state (same classification [[vacuum]] acts on),
    * file/byte footprint and last-modified time, so an operator can see
    * what the stored-hub tier costs and what a sweep would reclaim
    * BEFORE running one. Never deletes, never rebuilds; classification
    * failures report as state `error` rather than aborting the walk.
    */
  def census(s: SparkSession, rootDir: String): Seq[CensusEntry] = {
    val rootPath = new Path(rootDir)
    val fs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[CensusEntry]
    // a group deleted between the root listing and its own listStatus (a
    // concurrent vacuum swept it) reports as ONE error row, never an
    // aborted inventory — the docstring's fault-isolation promise covers
    // the listing itself, not just per-entry classification
    def groupEntries(group: FileStatus): Seq[FileStatus] =
      try fs.listStatus(group.getPath).toSeq
      catch { case scala.util.control.NonFatal(_) =>
        out += CensusEntry(group.getPath.getName, "", "error", 0L, 0L,
          group.getModificationTime)
        Seq.empty
      }
    for (group <- fs.listStatus(rootPath).toSeq.filter(_.isDirectory);
        entry <- groupEntries(group)) {
      val state =
        try classify(s, fs, entry)
        catch { case scala.util.control.NonFatal(_) => "error" }
      val (nFiles, nBytes) =
        try {
          val cs = fs.getContentSummary(entry.getPath)
          (cs.getFileCount, cs.getLength)
        } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }
      out += CensusEntry(group.getPath.getName, entry.getPath.getName,
        state, nFiles, nBytes, entry.getModificationTime)
    }
    out.toSeq
  }

  // ---- sidecar ------------------------------------------------------

  private final case class Meta(fingerprint: String, inputsFp: Option[String],
      inputs: Seq[String], params: String, schemaDdl: String)

  private def readMeta(fs: FileSystem, dir: Path): Option[Meta] = {
    val metaPath = new Path(dir, MetaFile)
    if (!fs.exists(metaPath)) return None
    val in = fs.open(metaPath)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def strField(k: String): Option[String] =
      (s""""$k"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(text)
        .map(m => unesc(m.group(1)))
    val fp = strField("fingerprint")
    val schema = strField("schema")
    val params = strField("params").getOrElse("")
    val inputs = """"inputs"\s*:\s*\[((?:[^\]"]|"(?:[^"\\]|\\.)*")*)\]""".r
      .findFirstMatchIn(text)
      .map(m => """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(1))
        .map(g => unesc(g.group(1))).toSeq)
      .getOrElse(Seq.empty)
    for (f <- fp; sc <- schema)
      yield Meta(f, strField("inputsFp"), inputs, params, sc)
  }

  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"")

  private def unesc(v: String): String =
    v.replace("\\\"", "\"").replace("\\\\", "\\")
}
