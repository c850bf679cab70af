package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer, as seen from the benchmark: `<module>.<function>`,
  * its interval (System.nanoTime), the span that caused it and the request
  * (root span) it belongs to.
  */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
    val thread: String, val start: Long) {
  @volatile var end: Long = -1L
  @volatile var rows: Long = -1L // result rows of a read, when the caller notes them
  val startEpochMs: Long = System.currentTimeMillis
  def group: String = s"perfbench-span-$id"
  def ms: Double = (end - start) / 1e6
}

/** What Spark did on behalf of one span. */
final case class SpanCost(jobs: Int, jobMs: Double, stages: Int, tasks: Int,
    taskCpuMs: Double, gcMs: Double)

/** Scan-side figures of one SQL execution: files and listing time of every
  * file scan, and rows out of the scans.
  */
final case class ExecStat(execId: Long, files: Double, metadataMs: Double, scanRows: Double)

/** A streaming micro-batch's progress report. */
final case class Progress(runId: String, rows: Long, durations: Map[String, Long])

/** Spans recorded around the benchmark's own calls into the engine, plus
  * listeners that attach Spark jobs, stages, tasks, SQL executions and
  * streaming progress to the span that caused them. A span's id is set as
  * the calling thread's Spark job group for the span's duration, so every
  * job carries its span; streaming jobs carry the query's run id, which is
  * mapped to the span that started the query (`starting`). Disabled, `span`
  * is a plain call and no listener is installed.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Span]
  private val spans = new ConcurrentLinkedQueue[Span]()

  private final class JobRec(val group: String, val execId: Long, val start: Long,
      val stages: Seq[Int]) { @volatile var end: Long = -1L }
  private final class StageAgg { var tasks = 0; var cpuMs = 0.0; var gcMs = 0.0
    var completed = false }
  private val jobs = TrieMap.empty[Int, JobRec]
  private val stages = TrieMap.empty[Int, StageAgg]
  private val execStats = new ConcurrentLinkedQueue[ExecStat]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val runToSpan = TrieMap.empty[String, Long]
  /** The span whose body is starting a streaming query. Spark posts
    * QueryStartedEvent from the query's own thread, where `current` is
    * unset, and `start()` returns only after that event was delivered.
    */
  @volatile private var startingSpan: Span = null

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).getOrElse(-1L)
        jobs(e.jobId) = new JobRec(group, exec, e.time, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).synchronized {
          stages(e.stageInfo.stageId).completed = true
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val agg = stages.getOrElseUpdate(e.stageId, new StageAgg)
        val m = e.taskMetrics
        agg.synchronized {
          agg.tasks += 1
          if (m != null) {
            agg.cpuMs += m.executorCpuTime / 1e6
            agg.gcMs += m.jvmGCTime
          }
        }
      }
      // the execution id here is the one the execution's jobs carry
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          PerfbenchSql.queryExecution(end).foreach(qe => execStats.add(execStat(end.executionId, qe)))
        case _ =>
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      // delivered synchronously, before start() returns, on the query's thread
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(startingSpan).foreach(s => runToSpan(e.runId.toString) = s.id)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(p.runId.toString, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  private object PlanHelper extends AdaptiveSparkPlanHelper

  private def execStat(execId: Long, qe: QueryExecution): ExecStat = {
    val scans = PlanHelper.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    def sum(key: String) = scans.flatMap(_.metrics.get(key)).map(_.value.toDouble).sum
    ExecStat(execId, sum("numFiles"), sum("metadataTime"), sum("numOutputRows"))
  }

  /** Open a span under the calling thread's current span (not made current). */
  def begin(name: String): Span = {
    val parent = current.get()
    val id = ids.incrementAndGet()
    new Span(id, name, if (parent == null) 0L else parent.id,
      if (parent == null) id else parent.req, Thread.currentThread.getName, System.nanoTime)
  }

  def finish(s: Span): Unit = { s.end = System.nanoTime; spans.add(s) }

  /** Run `body` with `s` as the thread's current span and Spark job group. */
  def within[T](s: Span)(body: => T): T = {
    val parent = current.get()
    current.set(s)
    sc.setJobGroup(s.group, s.name)
    try body
    finally {
      current.set(parent)
      if (parent == null) sc.clearJobGroup() else sc.setJobGroup(parent.group, parent.name)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = begin(name)
      try within(s)(body) finally finish(s)
    }

  /** Run `body`, which starts one streaming query, inside the open span
    * `s`: the query's jobs (job group = its run id) are attributed to `s`,
    * also after `body` returned. Queries are started one at a time.
    */
  def starting[T](s: Span)(body: => T): T = synchronized {
    startingSpan = s
    try within(s)(body) finally startingSpan = null
  }

  /** `span` for a call that starts a streaming query and waits for it. */
  def streamSpan[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = begin(name)
      try starting(s)(body) finally finish(s)
    }

  /** Note the result row count of the current span (a read). */
  def rows(n: Long): Unit = Option(current.get()).foreach(_.rows = n)

  // ---- read side, after the run ------------------------------------------

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def progressReports: Seq[Progress] = progress.asScala.toSeq

  /** Progress reports of the streaming queries started inside spans named `name`. */
  def progressOf(name: String): Seq[Progress] = {
    val ids = named(name).map(_.id).toSet
    progressReports.filter(p => runToSpan.get(p.runId).exists(ids.contains))
  }

  private lazy val spanOfGroup: Map[String, Long] =
    all.map(s => s.group -> s.id).toMap ++ runToSpan.toMap
  private lazy val jobsBySpan: Map[Long, Seq[JobRec]] =
    jobs.values.toSeq.flatMap(j => spanOfGroup.get(j.group).map(_ -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  private lazy val children: Map[Long, Seq[Span]] = all.groupBy(_.parent)

  /** Spark work whose jobs carried this span's group. */
  def cost(s: Span): SpanCost = costOf(jobsBySpan.getOrElse(s.id, Nil))

  /** Spark work of every traced job that started between two wall-clock
    * instants (epoch ms): what the engine did during a timed window.
    */
  def costBetween(fromMs: Long, toMs: Long): SpanCost = {
    val js = jobsBySpan.values.flatten.filter(j => j.start >= fromMs && j.start <= toMs).toSeq
    costOf(js)
  }

  private def costOf(js: Seq[JobRec]): SpanCost = {
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get).filter(_.completed)
    SpanCost(js.size, js.filter(_.end >= 0).map(j => (j.end - j.start).toDouble).sum,
      st.size, st.map(_.tasks).sum, st.map(_.cpuMs).sum, st.map(_.gcMs).sum)
  }

  /** Time covered by direct child spans. */
  def childMs(s: Span): Double = children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Span time not covered by its Spark jobs or child spans. */
  def selfMs(s: Span): Double = math.max(0.0, s.ms - cost(s).jobMs - childMs(s))

  /** SQL executions whose jobs carried this span's group. */
  def execs(s: Span): Seq[ExecStat] = {
    val ids = jobsBySpan.getOrElse(s.id, Nil).map(_.execId).toSet
    execStats.asScala.toSeq.filter(e => ids.contains(e.execId))
  }

  /** Write every span, with its Spark cost, as JSON lines. */
  def write(file: File): Unit = if (enabled) {
    val out = new PrintWriter(file, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      val c = cost(s)
      out.println(Stats.json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "thread" -> s.thread, "start_ns" -> s.start, "end_ns" -> s.end,
        "ms" -> s.ms, "self_ms" -> selfMs(s), "jobs" -> c.jobs, "job_ms" -> c.jobMs,
        "stages" -> c.stages, "tasks" -> c.tasks)))
    } finally out.close()
  }
}
