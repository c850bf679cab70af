package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins `SparkEntry.proceduralGates` to OBSERVED behavior instead of hand
  * maintenance (r12 verdict): Bench splits every published total on that
  * tag set (gate_sec vs derivation_sec), so a gate author forgetting the
  * tag — or tagging a pure derivation — would silently skew the split the
  * rounds are judged on. The per-call protocol primitives (Scratch.withDir
  * scratch staging, the streaming-gate checkpointed drain) bump
  * [[graft.operators.ProceduralWork]]; this spec constructs every declared
  * query against a COLD memo and asserts the tag set equals the set of
  * queries that fired a marker, in both directions.
  */
class ProceduralGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("negative control: Scratch.withDir marks, sessionDir does not") {
    val t0 = graft.operators.ProceduralWork.touches
    graft.operators.Scratch.withDir("graft-pgspec-") { base =>
      assert(Files.isDirectory(Paths.get(base)))
    }
    assert(graft.operators.ProceduralWork.touches == t0 + 1,
      "withDir must mark exactly once")
    val staged = graft.operators.Scratch.sessionDir("graft-pgspec-s-")
    assert(Files.isDirectory(Paths.get(staged)))
    assert(graft.operators.ProceduralWork.touches == t0 + 1,
      "sessionDir is session-amortized staging and must NOT mark")
  }

  test("every tagged gate name is a declared query") {
    val ghosts = SparkEntry.proceduralGates -- SparkEntry.queries.keySet
    assert(ghosts.isEmpty, s"proceduralGates names no query declares: $ghosts")
  }

  test("proceduralGates == the queries that fire per-call protocol work") {
    // Cold memo: gates run their drains eagerly inside construction via
    // ResultMemo.getOrCompute, so a warm memo (another suite constructed
    // them first) would hide their markers and flake the tag⇒marker
    // direction.
    graft.operators.ResultMemo.release(spark)
    val marked = try {
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val before = graft.operators.ProceduralWork.touches
        fn(spark, dir)
        if (graft.operators.ProceduralWork.touches > before) Some(name)
        else None
      }.toSet
    } finally graft.operators.ResultMemo.release(spark)
    val tagged = SparkEntry.proceduralGates
    val stale = tagged -- marked
    assert(stale.isEmpty,
      s"tagged as procedural gates but fired no per-call protocol marker " +
        s"(stale tag skews gate_sec upward): $stale")
    val missing = marked -- tagged
    assert(missing.isEmpty,
      s"fired per-call protocol work during construction but carry no " +
        s"proceduralGates tag (gate cost would report as derivation): $missing")
  }

  test("query packs stage scratch only through Scratch (tier choice is the declaration)") {
    // Direct Files.createTempDirectory in a query pack would be invisible
    // to the marker audit above — the tier choice (withDir = per-call
    // gate work, sessionDir = session-amortized staging) must be explicit.
    val packDir = Paths.get("src/main/scala/graft/queries")
    assume(Files.isDirectory(packDir), s"source tree not visible at $packDir")
    val listing = Files.list(packDir)
    val offenders =
      try listing.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("createTempDirectory"))
        .map(_.getFileName.toString).toSeq
      finally listing.close()
    assert(offenders.isEmpty,
      s"direct createTempDirectory in query packs (use Scratch.withDir / " +
        s"Scratch.sessionDir): $offenders")
  }
}
