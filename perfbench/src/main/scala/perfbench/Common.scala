package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.model.EventRow
import graft.sourcing.AggregateRoot

/** Fold state of one aggregate: events applied and the sum of their amounts. */
final case class AccountState(events: Int, amount: Long)

/** The benchmark's aggregate: folds `amount` out of each event's payload. */
final class Account(id: String) extends AggregateRoot[AccountState](id, AccountState(0, 0L)) {
  override protected def applyEvent(event: EventRow): Unit =
    state = AccountState(state.events + 1, state.amount + Payload.amount(event.payload))
}

object Payload {
  def apply(seq: Long, user: String, amount: Long): String =
    s"""{"seq":$seq,"user":"$user","amount":$amount}"""

  /** The payload's `amount`, 0 when absent (the schema-invalid payloads). */
  def amount(payload: String): Long = {
    val i = payload.indexOf("\"amount\":")
    if (i < 0) 0L
    else payload.drop(i + 9).takeWhile(c => c == '-' || c.isDigit).toLongOption.getOrElse(0L)
  }

  def seq(payload: String): Long =
    payload.drop(payload.indexOf("\"seq\":") + 6).takeWhile(_.isDigit).toLong
}

/** What a workload gets: the session, the tracer and its generated-input knobs. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
    smoke: Boolean, workDir: File, nproc: Int)

/** A workload's result: operation counts, named output checks, end-to-end
  * metrics (untraced figures; a traced run computes them too, for the
  * tracing-overhead report), per-layer metrics and extra report fields.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, String] // name -> "ok" or what failed
  val endToEnd = new Stats.Metrics
  val perLayer = new Stats.Metrics
  val report = mutable.LinkedHashMap.empty[String, Any]

  /** Record an output check; a failed one counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = if (ok) "ok" else detail.take(300)
    if (!ok) failed += 1
  }
}

/** Shared helpers of the two log workloads. */
object Common {

  def fresh(ctx: Ctx, name: String): String = {
    val d = new File(ctx.workDir, name)
    deleteRecursively(d)
    d.getAbsolutePath
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Data files (`part-*`) under a log root and their total size. */
  def logFiles(spark: SparkSession, root: String): (Long, Long) = {
    val p = new Path(root)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n = 0L; var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        // skip staging/hidden directories inside the log
        val rel = st.getPath.toUri.getPath.stripPrefix(p.toUri.getPath)
        if (st.getPath.getName.startsWith("part-") && !rel.contains("/.")) {
          n += 1; bytes += st.getLen
        }
      }
      (n, bytes)
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime - t0) / 1e9

  /** Poll `cond` every 10 ms until it holds or `timeoutS` passes. */
  def await(timeoutS: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime < deadline) Thread.sleep(10)
    cond
  }

  /** Peak resident set of this process in MB (VmHWM). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The timed window of a workload: its operations and its wall-clock
    * bounds (epoch ms), over which the per-operation Spark work is counted.
    */
  final case class Window(ops: Long, fromMs: Long, toMs: Long)

  /** Per-layer metrics common to both log workloads, from the traced spans.
    * `appendedEvents` is how many events the traced append calls wrote,
    * `logRoots` the logs whose file layout is reported and `rates` the
    * workload's own per-operation counts. Counts are per operation (or per
    * event), so they do not grow with throughput.
    */
  def layerMetrics(ctx: Ctx, out: Outcome, appendedEvents: Long, logRoots: Seq[String],
      logEvents: Long, window: Window, rates: Map[String, Double]): Unit = {
    val t = ctx.tracer
    val m = out.perLayer
    def p50(xs: Seq[Double]) = Stats.orZero(Stats.median(xs))

    val publishes = t.named("broker.publish")
    m.put("broker.publish.self_ms", p50(publishes.map(t.selfMs)), "ms")
    m.put("broker.fanout_ms", p50(publishes.map(t.childMs)), "ms")
    m.put("broker.replay_events_ms", p50(t.named("broker.replayEvents").map(_.ms)), "ms")
    // retries, rejections, dead letters and duplicates per event handled
    Seq("broker.handler_retries", "schema.rejected", "dlq.dead_lettered", "streaming.duplicates")
      .foreach(k => m.put(k, rates.getOrElse(k, 0.0), "1/event"))

    // every traced call that appends to a log: broker.publish,
    // broker.publishBatch, sources.appendRows
    val appends = Seq("broker.publish", "broker.publishBatch", "sources.appendRows")
      .flatMap(t.named).map(t.cost).filter(_.jobs > 0)
    val perEvent = math.max(appendedEvents, 1L).toDouble
    m.put("sources.append.job_ms", p50(appends.map(_.jobMs)), "ms")
    m.put("sources.append.jobs_per_event", appends.map(_.jobs).sum / perEvent, "1/event")
    m.put("sources.append.stages_per_event", appends.map(_.stages).sum / perEvent, "1/event")
    m.put("sources.append.tasks_per_event", appends.map(_.tasks).sum / perEvent, "1/event")
    val layout = logRoots.map(logFiles(ctx.spark, _))
    val events = math.max(logEvents, 1L).toDouble
    m.put("sources.files_per_event", layout.map(_._1).sum / events, "1/event")
    m.put("sources.bytes_per_event", layout.map(_._2).sum / events, "bytes/event")

    val reads = Seq("sources.getEvents", "broker.replayEvents", "sourcing.getById",
      "sourcing.exists", "sourcing.foldAll").flatMap(t.named)
    val readExecs = reads.flatMap(t.execs)
    m.put("sources.get_events_ms", p50(t.named("sources.getEvents").map(_.ms)), "ms")
    m.put("sourcing.get_by_id_ms", p50(t.named("sourcing.getById").map(_.ms)), "ms")
    m.put("sourcing.exists_ms", p50(t.named("sourcing.exists").map(_.ms)), "ms")
    m.put("sourcing.fold_all_ms", p50(t.named("sourcing.foldAll").map(_.ms)), "ms")
    m.put("sources.files_per_scan", p50(readExecs.map(_.files)), "count")
    m.put("sources.listing_ms", p50(readExecs.map(_.metadataMs)), "ms")
    val resultRows = reads.map(_.rows).filter(_ >= 0).sum
    m.put("sources.scan_rows_per_result_row",
      readExecs.map(_.scanRows).sum / math.max(resultRows, 1L).toDouble, "1/row")
    m.put("spark.stages_per_read",
      reads.map(t.cost(_).stages).sum / math.max(reads.size, 1).toDouble, "1/read")

    // the tailing subscription (pubsub) and the drains (log_replay)
    val tail = t.progressOf("streaming.start").filter(_.rows > 0)
    def dur(ps: Seq[Progress], k: String) = p50(ps.map(_.durations.getOrElse(k, 0L).toDouble))
    m.put("streaming.batches", tail.size / math.max(tail.map(_.rows).sum, 1L).toDouble, "1/event")
    m.put("streaming.rows_per_batch", p50(tail.map(_.rows.toDouble)), "count")
    m.put("streaming.latest_offset_ms", dur(tail, "latestOffset"), "ms")
    m.put("streaming.query_planning_ms", dur(tail, "queryPlanning"), "ms")
    m.put("streaming.add_batch_ms", dur(tail, "addBatch"), "ms")
    m.put("streaming.wal_commit_ms", dur(tail, "walCommit"), "ms")
    val drains = t.named("streaming.runAvailable")
    val drainBatches = t.progressOf("streaming.runAvailable").filter(_.rows > 0)
    m.put("streaming.drain_batches", drainBatches.size / math.max(drains.size, 1).toDouble,
      "1/drain")
    m.put("streaming.drain_add_batch_ms", dur(drainBatches, "addBatch"), "ms")

    // Spark work per operation of the timed window, streaming jobs included
    val w = t.costBetween(window.fromMs, window.toMs)
    val ops = math.max(window.ops, 1L).toDouble
    m.put("spark.jobs_per_op", w.jobs / ops, "1/op")
    m.put("spark.stages_per_op", w.stages / ops, "1/op")
    m.put("spark.tasks_per_op", w.tasks / ops, "1/op")
    m.put("spark.task_cpu_ms_per_op", w.taskCpuMs / ops, "ms/op")
    m.put("spark.gc_ms_per_op", w.gcMs / ops, "ms/op")
    val windowSpans = t.all.count { s =>
      val startMs = s.startEpochMs
      startMs >= window.fromMs && startMs <= window.toMs
    }
    m.put("trace.spans_per_op", windowSpans / ops, "1/op")
    m.put("rss_peak_mb", rssPeakMb(), "MB")
  }
}
