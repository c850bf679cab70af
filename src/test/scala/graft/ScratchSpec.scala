package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scratch

/** Guard rails on the tmpfs scratch tier (r14 advisor): capacity check
  * before adoption, ownership verification of a pre-existing base dir,
  * owner-only permissions forced on adoption.
  */
class ScratchSpec extends AnyFunSuite {

  test("adoptBase refuses a base without headroom (Docker's 64MB shm shape)") {
    val base = Paths.get(SparkSpec.tmpDir("scratch-base"))
    // a minFree no filesystem satisfies stands in for the small-shm host
    assert(Scratch.adoptBase(base, minFree = Long.MaxValue).isEmpty)
  }

  test("adoptBase adopts a writable base with headroom and forces 0700") {
    val base = Paths.get(SparkSpec.tmpDir("scratch-base"))
    val adopted = Scratch.adoptBase(base, minFree = 1L)
    assert(adopted.isDefined)
    val d = adopted.get
    assert(d.startsWith(base))
    assert(Files.getOwner(d).getName == System.getProperty("user.name"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(d)) == "rwx------")
  }

  test("adoptBase normalizes a pre-existing group-writable graft dir it owns") {
    val base = Paths.get(SparkSpec.tmpDir("scratch-base"))
    val pre = Files.createDirectories(
      base.resolve(s"graft-${System.getProperty("user.name")}"))
    Files.setPosixFilePermissions(pre, PosixFilePermissions.fromString("rwxrwxrwx"))
    val adopted = Scratch.adoptBase(base, minFree = 1L)
    // owned by us → adopted, but the lax permissions are clamped first
    assert(adopted.contains(pre))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(pre)) == "rwx------")
  }

  test("adoptBase refuses a missing or read-only base") {
    assert(Scratch.adoptBase(Paths.get("/nonexistent-graft-base"), 1L).isEmpty)
    // root bypasses POSIX write bits, so the read-only case is only
    // observable as a non-root user (CI containers often run as root)
    if (System.getProperty("user.name") != "root") {
      val ro = Paths.get(SparkSpec.tmpDir("scratch-ro"))
      Files.setPosixFilePermissions(ro, PosixFilePermissions.fromString("r-x------"))
      try assert(Scratch.adoptBase(ro, 1L).isEmpty)
      finally Files.setPosixFilePermissions(ro, PosixFilePermissions.fromString("rwx------"))
    }
  }

  test("withDir allocates, hands a usable dir, and deletes it on exit") {
    var kept: String = null
    Scratch.withDir("scratch-spec") { dir =>
      kept = dir
      Files.writeString(Paths.get(dir, "probe"), "x")
      assert(Files.exists(Paths.get(dir, "probe")))
    }
    assert(!Files.exists(Paths.get(kept)))
  }
}
