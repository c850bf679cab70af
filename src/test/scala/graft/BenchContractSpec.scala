package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's output contract, checked on the pure line builders (no Spark
  * session): the positional per_query_ms line, the one-pass regime line,
  * JSON escaping, and what the driver's parse keeps — the last 2000 chars
  * of stdout, of which sbt's trailing "[success]" line takes ~75, parsed
  * as the last bare JSON line.
  */
class BenchContractSpec extends AnyFunSuite {

  private val json = new ObjectMapper()
  private val success = "[success] Total time: 1140 s (19:00), completed Aug 19, 2026, 2:11:21 AM"

  test("per_query_ms: non-qNNN names go to extra, gaps print null, all-failed prints -1") {
    val line = Bench.perQueryLine(Seq("q001_a" -> 0.5, "q003_c" -> -1.0,
      "warmup" -> 0.25, "q001_dup" -> 0.1), total = 0.85)
    val j = json.readTree(line)
    assert(j.get("metric").asText == "per_query_ms")
    assert(j.get("n").asInt == 4)
    assert(j.get("times_ms").toString == "[500,null,-1]")
    assert(j.get("extra").toString == """{"warmup":250,"q001_dup":100}""")
    assert(j.get("total_sec").asDouble == 0.85)
  }

  test("jsonEsc escapes quotes, backslashes and every control character") {
    val raw = "a\"b\\c" + (0 until 32).map(_.toChar).mkString
    val esc = Bench.jsonEsc(raw)
    assert(!esc.exists(_ < ' '))
    assert(esc.startsWith("a\\\"b\\\\c\\u0000\\u0001"))
    assert(json.readTree("\"" + esc + "\"").asText == raw)
  }

  test("regime line: counts, 40 slowest by name, gate split") {
    val secs = (1 to 50).map(i => f"q$i%03d_x" -> i.toDouble).toMap +
      ("q121_incremental_rollup" -> 100.0)
    val p = Bench.Pass(secs, Map("q200_bad" -> "boom"))
    val j = json.readTree(Bench.regimeLine("warm_boot", "a note", p))
    assert(j.get("n").asInt == 51 && j.get("n_errors").asInt == 1)
    assert(j.get("top_ms").size == 40)
    assert(j.get("top_ms").get("q121_incremental_rollup").asLong == 100000L)
    assert(j.get("top_ms").get("q012_x").asLong == 12000L && !j.get("top_ms").has("q011_x"))
    assert(j.get("gate_sec").asDouble == 100.0)
    assert(j.get("derivation_sec").asDouble == 1275.0)
    assert(j.get("total_sec").asDouble == 1375.0)
  }

  /** What the driver keeps of a run whose 255 queries each took `perQuery`
    * seconds: the per_query_ms and regimes lines (every regime number at
    * its widest) followed by sbt's "[success]" line, cut to 2000 chars.
    */
  private def driverTail(perQuery: Double): Seq[String] = {
    val results = (1 to 255).map(i => f"q$i%03d_query" -> perQuery)
    val big = Bench.Pass(Map("q121_incremental_rollup" -> 12345.678), Map.empty)
    val regimes = Bench.regimesLine(headline = 12345.678, headlineGate = 1234.567,
      passTotals = Seq(12345.678, 23456.789, 34567.891), retrySec = Some(23456.789),
      reportTruth = Some(big), warmBoot = Some(big), coldHeadline = Some(big),
      storeBuilds = Some(1234L), storeBuildsAll = 1234L, coldStoreBuilds = 1234L,
      loadThresh = 4.0, loadStart = "[123.45,123.45,123.45]",
      loadEnd = "[123.45,123.45,123.45]")
    val out = s"${Bench.perQueryLine(results, 255 * perQuery)}\n$regimes\n$success\n"
    out.takeRight(2000).split("\n").toSeq
  }

  private def isJsonLine(l: String): Boolean =
    l.startsWith("{") && scala.util.Try(json.readTree(l)).isSuccess

  test("the driver's parse keeps the whole regimes line as the last JSON line") {
    // 5-digit ms per query: the widest per_query_ms line the pack prints
    val jsonLines = driverTail(perQuery = 99.999).filter(isJsonLine)
    assert(json.readTree(jsonLines.last).get("metric").asText == "regimes")
  }

  test("per_query_ms plus regimes fit the driver's tail at 255 queries of 3-digit ms") {
    // 3-digit ms is the headline's measured range (r16: 11-649 ms per
    // query); the two lines then take ~1,750 of the ~1,925 chars sbt's
    // line leaves. At 4 and 5 digits they need ~2,000 and ~2,260, so
    // per_query_ms loses its head while regimes stays whole (test above).
    val tail = driverTail(perQuery = 0.999)
    val metrics = tail.filter(isJsonLine).map(l => json.readTree(l).get("metric").asText)
    assert(metrics.takeRight(2) == Seq("per_query_ms", "regimes"))
    val times = json.readTree(tail.filter(isJsonLine).head).get("times_ms")
    assert(times.size == 255)
  }
}
