package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ArtifactStore

/** Stored-artifact lifecycle laws: build-once, load-forever-while-fresh,
  * rewrite-under-same-path invalidates (the TopicBucketPruning sidecar
  * discipline applied to hub tables), sibling groups publish atomically,
  * and a disabled store is a pure passthrough.
  */
class ArtifactStoreSpec extends SparkSpec {

  /** Each test gets unique artifact names (build counters are JVM-global). */
  private def uniq(n: String) = s"$n-${java.util.UUID.randomUUID().toString.take(8)}"

  private def withStore[T](body: String => T): T = {
    val root = tmpDir("artifacts")
    spark.conf.set(ArtifactStore.ConfKey, root)
    try body(root)
    finally spark.conf.unset(ArtifactStore.ConfKey)
  }

  private def writeInput(dir: String, n: Int): Unit =
    spark.range(n).selectExpr("id", "id * 2 as v")
      .coalesce(1).write.mode("overwrite").parquet(dir)

  test("build once, then serve the stored table (no rebuild)") {
    withStore { _ =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 10)
      val name = uniq("tf")
      def call(): DataFrame = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).groupBy((col("id") % 3).as("k"))
          .agg(sum(col("v")).as("s"))
      }
      val first = call().collect().map(_.toSeq.toList).toSet
      assert(ArtifactStore.buildCount(name) == 1)
      val second = call().collect().map(_.toSeq.toList).toSet
      assert(ArtifactStore.buildCount(name) == 1, "second call must load, not rebuild")
      assert(first == second)
      // schema (names, order, types) survives the store round-trip
      assert(call().schema.map(f => (f.name, f.dataType)) ==
        Seq(("k", org.apache.spark.sql.types.LongType),
          ("s", org.apache.spark.sql.types.LongType)))
    }
  }

  test("rewrite under the SAME path invalidates: stale artifact never served") {
    withStore { _ =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 5)
      val name = uniq("stale")
      def call(): Long = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).agg(count(lit(1)).as("n"))
      }.collect()(0).getLong(0)
      assert(call() == 5L)
      assert(ArtifactStore.buildCount(name) == 1)
      writeInput(in, 7) // same path, new content → new (mtime, len) identity
      assert(call() == 7L, "rewritten input must be re-derived, not served stale")
      assert(ArtifactStore.buildCount(name) == 2)
      assert(call() == 7L) // and the REBUILT artifact is then served
      assert(ArtifactStore.buildCount(name) == 2)
    }
  }

  test("changed build params invalidate (same inputs)") {
    withStore { _ =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 5)
      val name = uniq("params")
      def call(k: Int): Long = ArtifactStore.table(spark, name, Seq(in), s"k=$k") {
        spark.read.parquet(in).where(col("id") < k).agg(count(lit(1)).as("n"))
      }.collect()(0).getLong(0)
      assert(call(3) == 3L)
      assert(call(4) == 4L, "params ride the fingerprint")
      assert(ArtifactStore.buildCount(name) == 2)
    }
  }

  test("sibling group: a missing sibling rebuilds the WHOLE group") {
    withStore { root =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 6)
      val nA = uniq("cells"); val nB = uniq("cent")
      def call(): Seq[DataFrame] = ArtifactStore.tables(spark, Seq(nA, nB), Seq(in)) {
        val base = spark.read.parquet(in)
        Seq(base.select(col("id")), base.agg(max(col("v")).as("m")))
      }
      call().foreach(_.collect())
      assert(ArtifactStore.buildCount(nA) == 1 && ArtifactStore.buildCount(nB) == 1)
      // delete one sibling's directory out from under the store
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      val victims = fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/*/$nB"))
      assert(victims.nonEmpty)
      victims.foreach(v => fs.delete(v.getPath, true))
      val Seq(a2, b2) = call()
      assert(a2.count() == 6 && b2.collect()(0).getLong(0) == 10L)
      assert(ArtifactStore.buildCount(nA) == 2 && ArtifactStore.buildCount(nB) == 2,
        "siblings must never mix builds — partial store rebuilds the group")
    }
  }

  test("empty table round-trips (schema pinned by sidecar, not inference)") {
    withStore { _ =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 4)
      val name = uniq("empty")
      def call(): DataFrame = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).where(col("id") < 0)
          .select(col("id"), col("v").cast("decimal(18,2)").as("d"))
      }
      assert(call().count() == 0)
      val served = call()
      assert(ArtifactStore.buildCount(name) == 1)
      assert(served.schema.toDDL.contains("DECIMAL(18,2)"))
      assert(served.count() == 0)
    }
  }

  test("disabled store (conf unset) is a pure passthrough: builds every call") {
    val in = tmpDir("in") + "/t.parquet"
    writeInput(in, 3)
    val name = uniq("off")
    def call(): Long = ArtifactStore.table(spark, name, Seq(in)) {
      spark.read.parquet(in).agg(count(lit(1)).as("n"))
    }.collect()(0).getLong(0)
    assert(call() == 3L && call() == 3L)
    assert(ArtifactStore.buildCount(name) == 0, "no store root → no publishes")
  }

  test("partitioned input: recursive fingerprint sees files UNDER partition dirs") {
    // the engine's own log layout is partitionBy("topic") — all data
    // files one level down. r10's one-level fingerprint saw ZERO data
    // files there (a rewritten partition silently served the stale
    // artifact); the recursive fingerprint must invalidate.
    withStore { root =>
      val in = tmpDir("in") + "/events"
      spark.range(10)
        .selectExpr("id", "id * 2 as v",
          "CASE WHEN id % 2 = 1 THEN 'p1' ELSE 'p0' END as part")
        .write.partitionBy("part").mode("overwrite").parquet(in)
      val name = uniq("partd")
      def call(): Long = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).agg(sum(col("v")).as("s"))
      }.collect()(0).getLong(0)
      assert(call() == 90L)
      assert(ArtifactStore.buildCount(name) == 1)
      assert(call() == 90L && ArtifactStore.buildCount(name) == 1,
        "unchanged partitioned input must serve the stored artifact")
      // rewrite ONE partition subdirectory: nothing at the top level
      // changes, only files one level down
      spark.range(10).where("id % 2 = 1").selectExpr("id", "id * 100 as v")
        .write.mode("overwrite").parquet(s"$in/part=p1")
      assert(call() == 40L + 2500L,
        "a rewritten partition must be re-derived, not served stale")
      assert(ArtifactStore.buildCount(name) == 2)
      // the swap left no debris at the published tier
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/*/*.tmp-*")).isEmpty)
      assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/*/*.old-*")).isEmpty)
    }
  }

  test("vacuum: mid-write crash debris is age-gated then swept; live artifact kept") {
    withStore { root =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 5)
      val name = uniq("vac")
      def call(): Long = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).agg(count(lit(1)).as("n"))
      }.collect()(0).getLong(0)
      assert(call() == 5L)
      // a writer that died mid-df.write: part file present, no sidecar
      val grp = new java.io.File(root).listFiles().filter(_.isDirectory).head
      val tmp = new java.io.File(grp, s"$name.tmp-123-dead")
      tmp.mkdirs()
      java.nio.file.Files.writeString(tmp.toPath.resolve("part-0.parquet"), "x")
      val gated = ArtifactStore.vacuum(spark, root) // default 1h age gate
      assert(gated.exists(e => e.kind == "tmp" && e.action == "kept"),
        "a FRESH tmp dir may belong to a live writer — age-gated, not swept")
      assert(tmp.exists())
      val swept = ArtifactStore.vacuum(spark, root, maxAgeMs = 0L)
      assert(swept.exists(e => e.kind == "tmp" && e.action == "deleted"))
      assert(!tmp.exists())
      assert(swept.exists(e => e.kind == "live" && e.action == "kept"))
      assert(call() == 5L)
      assert(ArtifactStore.buildCount(name) == 1,
        "vacuum must never touch a live artifact")
    }
  }

  test("vacuum: orphaned (input deleted) and stale (input rewritten) artifacts swept") {
    withStore { root =>
      val inA = tmpDir("in") + "/a.parquet"; writeInput(inA, 3)
      val inB = tmpDir("in") + "/b.parquet"; writeInput(inB, 4)
      val nA = uniq("orph"); val nB = uniq("stal")
      ArtifactStore.table(spark, nA, Seq(inA)) { spark.read.parquet(inA) }.count()
      ArtifactStore.table(spark, nB, Seq(inB)) { spark.read.parquet(inB) }.count()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(inA))
      writeInput(inB, 9) // committed fingerprint no longer matches
      val ledger = ArtifactStore.vacuum(spark, root, maxAgeMs = 0L)
      assert(ledger.exists(e =>
        e.kind == "orphaned" && e.action == "deleted" && e.path.endsWith(nA)))
      assert(ledger.exists(e =>
        e.kind == "stale" && e.action == "deleted" && e.path.endsWith(nB)))
      // stale sweep is an early free, never a correctness event
      val n = ArtifactStore.table(spark, nB, Seq(inB)) {
        spark.read.parquet(inB) }.count()
      assert(n == 9 && ArtifactStore.buildCount(nB) == 2)
    }
  }

  test("vacuum: another build's same-inputs artifact is superseded (age-gated), not stale") {
    // cross-build hazard: an artifact committed by a DIFFERENT engine
    // build fingerprint-mismatches under this build's codeIdentity, but
    // may be live for a concurrently running session of that build (with
    // a scan of it memoized). It must sweep like tmp debris — age-gated —
    // never from under a fresh session. Simulated by hand-planting a
    // sidecar whose full fingerprint is foreign while its inputs-only
    // fingerprint matches the real inputs.
    withStore { root =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 4)
      val inFp = ArtifactStore.inputsFingerprint(spark, Seq(in), "")
      val grp = new java.io.File(root, "feedface0000"); grp.mkdirs()
      val d = new java.io.File(grp, "otherbuild"); d.mkdirs()
      java.nio.file.Files.writeString(
        d.toPath.resolve(ArtifactStore.MetaFile),
        s"""{"name":"otherbuild","fingerprint":"deadbeef","inputsFp":"$inFp",""" +
          s""""inputs":["$in"],"params":"","schema":"id BIGINT"}""")
      val fresh = ArtifactStore.vacuum(spark, root) // default 1h age gate
      assert(fresh.exists(e => e.kind == "superseded" && e.action == "kept"),
        "a fresh other-build artifact may be live for that build's session")
      assert(d.exists())
      val aged = ArtifactStore.vacuum(spark, root, maxAgeMs = 0L)
      assert(aged.exists(e => e.kind == "superseded" && e.action == "deleted"))
      assert(!d.exists())
    }
  }

  test("vacuum: any no-inputsFp sidecar is superseded (age-gated), never swept fresh") {
    // migration-window hazard (r12 advisor finding, widened by review):
    // sidecars without a recorded inputsFp come from TWO older
    // generations — the code-identity-free era (fingerprint EQUALS
    // today's inputs-only hash when inputs are unchanged) and the
    // code-identity era (fingerprint folds THAT build's code hash, so it
    // matches neither of ours even with unchanged inputs). The second is
    // indistinguishable from a genuine input rewrite, so the safe
    // default for every committed non-live no-inputsFp sidecar is the
    // age gate — an ungated sweep could pull a live old-build session's
    // artifact out from under it. Red-bar: both planted artifacts below
    // were `stale`/deleted-ungated before the fix.
    withStore { root =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 4)
      val inFp = ArtifactStore.inputsFingerprint(spark, Seq(in), "")
      val grp = new java.io.File(root, "feedface0001"); grp.mkdirs()
      def plant(name: String, fp: String): java.io.File = {
        val d = new java.io.File(grp, name); d.mkdirs()
        java.nio.file.Files.writeString(
          d.toPath.resolve(ArtifactStore.MetaFile),
          s"""{"name":"$name","fingerprint":"$fp",""" +
            s""""inputs":["$in"],"params":"","schema":"id BIGINT"}""")
        d
      }
      // code-identity-free era, inputs unchanged
      val eraA = plant("prev2-inputsmatch", inFp)
      // code-identity era (fp matches neither hash) OR a true rewrite —
      // indeterminate without inputsFp
      val eraB = plant("prev2-indeterminate", "0123456789abcdef")
      val fresh = ArtifactStore.vacuum(spark, root) // default 1h age gate
      for (n <- Seq("prev2-inputsmatch", "prev2-indeterminate"))
        assert(fresh.exists(e => e.path.endsWith(n) &&
          e.kind == "superseded" && e.action == "kept"),
          s"a fresh no-inputsFp artifact ($n) may be live for an old build's session")
      assert(eraA.exists() && eraB.exists())
      val aged = ArtifactStore.vacuum(spark, root, maxAgeMs = 0L)
      for (n <- Seq("prev2-inputsmatch", "prev2-indeterminate"))
        assert(aged.exists(e => e.path.endsWith(n) &&
          e.kind == "superseded" && e.action == "deleted"))
      assert(!eraA.exists() && !eraB.exists())
    }
  }

  test("concurrent sessions: a held scan survives another build's fresh vacuum") {
    // two stores on one root, the interleaving the superseded age-gate
    // claims is safe: session A memoizes a scan of its artifact; session
    // B — a DIFFERENT engine build — runs vacuum. From B's sweeper the
    // artifact fingerprint-mismatches (B's code identity differs) while
    // its inputs-only hash matches: exactly the state simulated here by
    // rewriting A's sidecar fingerprint to a foreign value in place. A
    // fresh sweep must ledger it superseded/kept — A's held scan still
    // collects the full table afterwards, never a half-swept read — and
    // only an aged sweep (the operator's explicit window) removes it.
    withStore { root =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 12)
      val name = uniq("held")
      val held = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).groupBy((col("id") % 4).as("k"))
          .agg(sum(col("v")).as("s"))
      }
      val before = held.collect().map(_.toSeq.toList).toSet
      // session B's view: same inputs, different build → rewrite the
      // sidecar's full fingerprint, keep inputsFp (which B recomputes
      // identically — it has no code term)
      val grp = new java.io.File(root).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).find(_.getName == name).get
      val metaPath = grp.toPath.resolve(ArtifactStore.MetaFile)
      val meta = java.nio.file.Files.readString(metaPath)
      java.nio.file.Files.writeString(metaPath,
        meta.replaceFirst(""""fingerprint":"[0-9a-f]+"""",
          """"fingerprint":"feedfacefeedface""""))
      // the rewrite bypassed Hadoop's ChecksumFileSystem — drop the stale
      // CRC sidecar (session B would have written through its own fs)
      java.nio.file.Files.deleteIfExists(
        grp.toPath.resolve(s".${ArtifactStore.MetaFile}.crc"))
      val fresh = ArtifactStore.vacuum(spark, root)
      assert(fresh.exists(e => e.path.endsWith(name) &&
        e.kind == "superseded" && e.action == "kept"),
        "another build's fresh vacuum must never sweep a possibly-held artifact")
      assert(held.collect().map(_.toSeq.toList).toSet == before,
        "the held scan must read the intact artifact after the sweep")
      val aged = ArtifactStore.vacuum(spark, root, maxAgeMs = 0L)
      assert(aged.exists(e => e.path.endsWith(name) && e.action == "deleted"))
    }
  }

  test("concurrent sessions: a reader landing mid-swap rebuilds, never serves half-state") {
    // the publish swap's metadata window: the old generation is renamed
    // ASIDE and the new one not yet renamed in. A reader arriving in that
    // window finds no committed artifact at the published path — it must
    // fall back to building (and republishing) rather than serving the
    // aside dir or any half-state, and a later vacuum treats the
    // abandoned aside dir like tmp debris: age-gated, then swept.
    withStore { root =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 9)
      val name = uniq("swap")
      def call(): DataFrame = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      }
      assert(call().collect()(0).getLong(0) == 9L)
      assert(ArtifactStore.buildCount(name) == 1)
      // freeze the swap mid-flight: published dir renamed aside, new dir
      // not yet in place (the other session's writer stalled)
      val dir = new java.io.File(root).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).find(_.getName == name).get
      val aside = new java.io.File(dir.getParentFile, s"$name.old-999-stall")
      assert(dir.renameTo(aside))
      val r = call().collect()(0)
      assert(r.getLong(0) == 9L && !r.isNullAt(1),
        "mid-swap reader must rebuild the real table")
      assert(ArtifactStore.buildCount(name) == 2,
        "no committed artifact at the published path → rebuild, not serve aside")
      val fresh = ArtifactStore.vacuum(spark, root)
      assert(fresh.exists(e => e.kind == "aside" && e.action == "kept"),
        "a fresh aside dir may belong to a swap still completing")
      assert(aside.exists())
      val aged = ArtifactStore.vacuum(spark, root, maxAgeMs = 0L)
      assert(aged.exists(e => e.kind == "aside" && e.action == "deleted"))
      assert(!aside.exists())
    }
  }

  test("tableServed: served=true on hit AND publish-miss, false on fallback") {
    withStore { _ =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 6)
      val name = uniq("served")
      def call(): (DataFrame, Boolean) =
        ArtifactStore.tableServed(spark, name, Seq(in)) {
          spark.read.parquet(in).agg(count(lit(1)).as("n"))
        }
      val (df1, s1) = call()
      assert(s1, "a publish-on-miss still hands back the stored scan")
      assert(df1.collect()(0).getLong(0) == 6L)
      val (_, s2) = call()
      assert(s2, "warm hit is served")
    }
    // conf unset → pure passthrough, and the caller must know
    val in2 = tmpDir("in") + "/t2.parquet"
    writeInput(in2, 3)
    val (df3, s3) = ArtifactStore.tableServed(spark, uniq("off"), Seq(in2)) {
      spark.read.parquet(in2).agg(count(lit(1)).as("n"))
    }
    assert(!s3, "store off → the frame is the in-session build")
    assert(df3.collect()(0).getLong(0) == 3L)
  }

  test("vacuum: one unclassifiable entry never aborts the sweep (fault isolation)") {
    // red bar before the fix: `new Path("")` thrown inside the existence
    // check propagated OUT OF vacuum — the call below failed regardless
    // of enumeration order (the lexicographic naming just also pins that
    // the orphan genuinely sits behind the fault on this FS). The bad
    // entry must ledger as error/kept and the orphan must still sweep.
    withStore { root =>
      val grp = new java.io.File(root, "deadbeef0000"); grp.mkdirs()
      def plant(name: String, inputsJson: String): java.io.File = {
        val d = new java.io.File(grp, name); d.mkdirs()
        java.nio.file.Files.writeString(
          d.toPath.resolve(ArtifactStore.MetaFile),
          s"""{"name":"$name","fingerprint":"ff","inputs":$inputsJson,""" +
            """"params":"","schema":"id BIGINT"}""")
        d
      }
      // listStatus order is lexicographic on the local FS: the bad entry
      // sorts FIRST so the orphan genuinely sits behind the fault
      val bad = plant("a_bad", """[""]""") // empty path: Path ctor throws
      val orph = plant("z_orph", """["/nonexistent/graft-vacuum-spec"]""")
      val ledger = ArtifactStore.vacuum(spark, root, maxAgeMs = 0L)
      assert(ledger.exists(e =>
        e.kind == "error" && e.action == "kept" && e.path.endsWith("a_bad")))
      assert(bad.exists(), "an unclassifiable entry is never deleted")
      assert(ledger.exists(e =>
        e.kind == "orphaned" && e.action == "deleted" && e.path.endsWith("z_orph")))
      assert(!orph.exists(), "entries behind the fault must still be swept")
    }
  }

  test("untrusted root (group/other-writable) disables the store, never serves it") {
    val root = tmpDir("artifacts-open")
    java.nio.file.Files.setPosixFilePermissions(java.nio.file.Paths.get(root),
      java.nio.file.attribute.PosixFilePermissions.fromString("rwxrwxrwx"))
    spark.conf.set(ArtifactStore.ConfKey, root)
    try {
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 3)
      val name = uniq("trust")
      def call(): Long = ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).agg(count(lit(1)).as("n"))
      }.collect()(0).getLong(0)
      assert(call() == 3L && call() == 3L, "fallback builds in-session, correctly")
      assert(ArtifactStore.buildCount(name) == 0,
        "a root another user can write must never be published to or read from")
      assert(new java.io.File(root).listFiles().isEmpty)
    } finally spark.conf.unset(ArtifactStore.ConfKey)
  }

  test("census: read-only inventory reports state and footprint, deletes nothing") {
    withStore { root =>
      val in = tmpDir("in") + "/t.parquet"
      writeInput(in, 8)
      val name = uniq("census")
      ArtifactStore.table(spark, name, Seq(in)) {
        spark.read.parquet(in).agg(sum(col("v")).as("s"))
      }.collect()
      // debris alongside the live artifact: a mid-write tmp dir
      val grp = new java.io.File(root).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).find(_.getName == name).get.getParentFile
      val tmp = new java.io.File(grp, s"$name.tmp-1-census"); tmp.mkdirs()
      java.nio.file.Files.writeString(tmp.toPath.resolve("part-0.parquet"), "x")
      val c = ArtifactStore.census(spark, root)
      val live = c.find(e => e.name == name)
      assert(live.exists(_.state == "live"))
      assert(live.exists(e => e.files > 0 && e.bytes > 0 && e.modifiedMs > 0),
        "footprint must be measured, not zero")
      assert(c.exists(e => e.name.contains(".tmp-") && e.state == "tmp"))
      // read-only: both entries still on disk, and the artifact still serves
      assert(tmp.exists())
      assert(ArtifactStore.buildCount(name) == 1)
      ArtifactStore.table(spark, name, Seq(in)) {
        fail("census must not have invalidated the artifact")
      }.collect()
      assert(ArtifactStore.buildCount(name) == 1)
    }
  }

  test("hub equivalence: stored grams/termFreqs/daily rollup match fresh derivation") {
    // the real integration law behind 'all 249 hashes unchanged': for each
    // migrated hub, derived (store off) and stored (store on, cold + warm)
    // rows are identical. sf0.001 keeps this fast.
    val dir = "/root/testdata/sf0.001"
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    def hubs(): Seq[(String, DataFrame)] = Seq(
      "termFreqs" -> graft.queries.DocProfiles.termFreqs(spark, dir),
      "grams" -> graft.queries.DocProfiles.grams(spark, dir),
      "daily" -> graft.queries.EventStats.dailyTypeAgg(spark, dir))
    val derived = hubs().map { case (n, df) => n -> rows(df) }
    graft.operators.ResultMemo.release(spark)
    withStore { _ =>
      val cold = hubs().map { case (n, df) => n -> rows(df) }
      graft.operators.ResultMemo.release(spark)
      val warm = hubs().map { case (n, df) => n -> rows(df) }
      derived.zip(cold).zip(warm).foreach { case (((n, d), (_, c)), (_, w)) =>
        assert(d == c, s"$n: stored(cold) != derived")
        assert(d == w, s"$n: stored(warm) != derived")
      }
    }
    graft.operators.ResultMemo.release(spark)
  }
}
