package perfbench

import java.io.{File, PrintWriter}

import graft.EngineSession

/** Benchmark driver, launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload pubsub|log_replay --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE [--smoke]
  *
  * Builds the engine's session through `EngineSession.builder`, runs one
  * workload, and writes `{"result": ..., "report": ...}` to FILE: `result`
  * is the line run.py prints last (end-to-end metrics untraced, per-layer
  * metrics traced), `report` the run conditions, checks and extra figures.
  */
object Main {

  /** Per-workload names of the shared end-to-end metrics. */
  val Aliases: Map[String, Map[String, String]] = Map(
    "pubsub" -> Map("op_p50_ms" -> "publish_p50_ms", "op_p90_ms" -> "publish_p90_ms",
      "events_per_s" -> "publish_eps"),
    "log_replay" -> Map("op_p50_ms" -> "read_p50_ms", "op_p90_ms" -> "read_p90_ms",
      "events_per_s" -> "drain_eps", "deliver_p50_ms" -> "drain_wait_p50_ms",
      "deliver_p90_ms" -> "drain_wait_p90_ms"))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts.get("--trace").contains("1")
    val smoke = args.contains("--smoke")
    val work = new File(opts("--work")).getAbsoluteFile
    val outFile = new File(opts("--out"))

    val nproc = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime
    val builder = EngineSession.builder(s"local[$nproc]", nproc.toString)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime - t0) / 1e9
    try {
      val tracer = new Tracer(spark, traced)
      val ctx = Ctx(spark, tracer, seed, seconds, smoke, work, nproc)
      val out = workload match {
        case "pubsub" => PubSub.run(ctx)
        case "log_replay" => LogReplay.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (traced) tracer.write(new File(work, "spans.jsonl"))
      val correct = out.failed == 0 && out.checks.values.forall(_ == "ok")
      val metrics = if (traced) out.perLayer else out.endToEnd
      val result = Map("correct" -> correct, "attempted" -> math.max(out.attempted, 1L),
        "failed" -> out.failed, "metrics" -> metrics.toSeq.toMap)
      val e2e = out.endToEnd.toSeq
      val report = scala.collection.mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "smoke" -> smoke, "nproc" -> nproc, "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "scala_version" -> scala.util.Properties.versionNumberString,
        "session_start_s" -> sessionS,
        "artifact_store_root" -> graft.operators.ArtifactStore.root(spark).getOrElse("none"),
        "artifact_store_builds" -> graft.operators.ArtifactStore.totalBuilds,
        "ops_failed_frac" -> out.failed.toDouble / math.max(out.attempted, 1L),
        "rss_peak_mb" -> Common.rssPeakMb(),
        "end_to_end" -> e2e.toMap,
        "workload_names" -> e2e.flatMap { case (k, m) =>
          Aliases.getOrElse(workload, Map.empty).get(k).map(_ -> m.value) }.toMap,
        "checks" -> out.checks)
      report ++= out.report
      report("workload_s") = (System.nanoTime - t0) / 1e9 - sessionS
      val pw = new PrintWriter(outFile, "UTF-8")
      try pw.println(Stats.json(Map("result" -> result, "report" -> report)))
      finally pw.close()
    } finally spark.stop()
  }
}
