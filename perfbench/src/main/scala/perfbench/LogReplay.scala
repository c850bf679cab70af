package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.broker.{EventBroker, SubscriptionOptions}
import graft.dlq.InMemoryDeadLetterQueue
import graft.model.{Event, EventRow}
import graft.sources.{EventLog, ScanOptions}
import graft.sourcing.EventSourcedRepository
import graft.streaming.StreamingSubscription

/** `log_replay`: the read side of the log, with no publish cost. Set-up
  * stages seeded envelope events into a broker topic log (topic = event
  * type, through `Topic.publishBatch`) and into a bucketed aggregate log
  * (topic = `aggregate.user.<id>`, through `EventLog.appendRows`), both in
  * fixed-size batches, so the file layout is the one appends leave behind.
  * The timed loop is one client running blocks of a fixed mix of log
  * scans, replays and event-sourced reads in seed-shuffled order, each
  * block followed by a full drain of the topic log (fresh checkpoint, ~1 %
  * handler faults to the DLQ), after an untimed warm-up of the same loop
  * for a quarter of the window. The window ends on a block boundary, so
  * every run measures the same mix. Every result is checked against the
  * in-memory model.
  */
object LogReplay {

  val Types: IndexedSeq[String] = IndexedSeq("page_view", "click", "search", "add_to_cart",
    "purchase", "refund")
  private val T0 = 1767225600000L // 2026-01-01T00:00:00Z
  private val SpanMs = 30L * 24 * 3600 * 1000
  private val Buckets = 8
  /** One block of the read mix, 12 reads; a drain follows each block. The
    * block's four topic scans take one each of these limits and window
    * widths (shares of the month), so that every block asks for the same
    * amount of work and only where and in which order is drawn.
    */
  private val Mix: Seq[String] = Seq.fill(4)("events_topic") ++ Seq.fill(2)("events_user") ++
    Seq.fill(2)("replay") ++ Seq.fill(2)("get_by_id") ++ Seq("exists", "fold_all")
  private val ScanLimits = Seq(20, 100, 100, 500)
  private val ScanWidths = Seq(0.05, 0.12, 0.2, 0.3)

  /** The seeded input: events in (timestamp, id) order plus the read model. */
  final class Data(seed: Long, n: Int, users: Int) {
    private val rng = new scala.util.Random(seed)
    private val ids = rng.shuffle((0 until n).toIndexedSeq).map(i => f"e$i%07x")
    val events: IndexedSeq[(EventRow, Int)] = (0 until n).map { i =>
      // minute-granular timestamps, so (timestamp, id) ties occur
      val ts = T0 + (rng.nextLong(SpanMs / 60000)) * 60000
      val user = rng.nextInt(users)
      val tp = Types(rng.nextInt(Types.size))
      EventRow(ids(i), tp, tp, new Timestamp(ts), Event.DefaultSchemaVersion,
        Payload(i, s"u$user", 1L + rng.nextInt(1000)), Map.empty) -> user
    }.sortBy { case (e, _) => (e.timestamp.getTime, e.id) }
    val byType: Map[String, IndexedSeq[EventRow]] = events.map(_._1).groupBy(_.`type`)
    val byUser: Map[Int, IndexedSeq[EventRow]] = events.groupBy(_._2).map { case (u, xs) =>
      u -> xs.map { case (e, _) => e.copy(topic = userTopic(u)) }
    }
    val states: Map[String, AccountState] = byUser.map { case (u, xs) =>
      s"u$u" -> AccountState(xs.size, xs.map(e => Payload.amount(e.payload)).sum)
    }
    val faults: Set[String] = events.map(_._1.id).filter(_ => rng.nextDouble() < 0.01).toSet
  }

  def userTopic(u: Int): String = s"aggregate.user.u$u"

  private def window(events: IndexedSeq[EventRow], from: Long, to: Long): IndexedSeq[EventRow] =
    events.filter(e => e.timestamp.getTime >= from && e.timestamp.getTime <= to)

  /** The staged logs of one set-up. */
  private final class Logs(ctx: Ctx, data: Data, rep: Int, batch: Int) {
    val t: Tracer = ctx.tracer
    val topicPath: String = Common.fresh(ctx, s"replay-topics-$rep")
    val broker = new EventBroker(ctx.spark, topicPath)
    val aggLog: EventLog = EventLog.bucketed(ctx.spark, Common.fresh(ctx, s"replay-aggregates-$rep"),
      Buckets)
    val repo = new EventSourcedRepository[Account](aggLog, "user", new Account(_))

    // round-robin over the types, one fixed-size batch at a time
    private val typeBatches = Types.map(tp => data.byType.getOrElse(tp, IndexedSeq.empty)
      .grouped(batch).toIndexedSeq)
    (0 until typeBatches.map(_.size).max).foreach { i =>
      typeBatches.zip(Types).foreach { case (bs, tp) =>
        if (i < bs.size) t.span("broker.publishBatch")(broker.createTopic(tp).publishBatch(bs(i)))
      }
    }
    data.events.map { case (e, u) => e.copy(topic = userTopic(u)) }.grouped(batch)
      .foreach(b => t.span("sources.appendRows")(aggLog.appendRows(b)))
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val (n, users, batch) = if (ctx.smoke) (1200, 60, 200) else (6000, 300, 2000)
    val data = new Data(ctx.seed, n, users)
    val reps = if (ctx.smoke) 2 else 3

    val setups = mutable.ArrayBuffer.empty[Double]
    var logs: Logs = null
    val drains = mutable.ArrayBuffer.empty[Drain]
    val timed = mutable.ArrayBuffer.empty[Drain]
    def drain(record: Boolean): Unit = {
      val d = runDrain(ctx, data, logs, drains.size)
      drains += d
      if (record) timed += d
    }
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime
      logs = new Logs(ctx, data, rep, batch)
      drain(record = false) // a subscriber's catch-up; also warms the read path
      setups += Common.seconds(t0)
    }

    // one client, blocks of the seed-shuffled mix, a drain after each
    // block: first an untimed warm-up (a quarter of the window), then the
    // timed window, each ending with the block under way at its deadline
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    def loop(seconds: Double, timedRun: Boolean): Seq[Double] = {
      val readMs = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime + (seconds * 1e9).toLong
      while (System.nanoTime < deadline) {
        val scans = rng.shuffle(ScanLimits).zip(rng.shuffle(ScanWidths)).iterator
        for (kind <- rng.shuffle(Mix)) {
          val r0 = System.nanoTime
          val ok = try read(ctx, data, logs, kind, rng, scans) catch {
            case e: Exception =>
              out.checks(s"read_error.$kind") = e.toString.take(300)
              false
          }
          readMs += (System.nanoTime - r0) / 1e6
          if (timedRun) out.attempted += 1
          if (!ok) {
            if (timedRun) out.failed += 1
            out.checks.getOrElseUpdate(s"read_mismatch.$kind", "result differs from the model")
          }
        }
        drain(timedRun)
      }
      readMs.toSeq
    }
    loop(ctx.seconds / 4, timedRun = false)
    val windowFromMs = System.currentTimeMillis
    val readMs = loop(ctx.seconds, timedRun = true)
    val windowToMs = System.currentTimeMillis
    out.attempted += timed.size
    val badDrains = drains.filterNot(_.ok)
    out.failed += badDrains.count(timed.contains)
    out.check("drain_delivered_plus_dlq", badDrains.isEmpty,
      s"${badDrains.size} drains: ${badDrains.head.detail}")
    out.check("reads_match_model", !out.checks.keys.exists(_.startsWith("read_")),
      "see the read_* entries")

    val e2e = out.endToEnd
    e2e.put("setup_s", Stats.median(setups), "s")
    e2e.put("op_p50_ms", Stats.median(readMs), "ms")
    e2e.put("op_p90_ms", Stats.quantile(readMs, 0.90), "ms")
    // per-drain figures, then their median across the run's drains
    e2e.put("events_per_s", Stats.median(timed.map(d => d.events / d.seconds)), "events/s")
    e2e.put("deliver_p50_ms", Stats.median(timed.map(d => Stats.median(d.waitMs))), "ms")
    e2e.put("deliver_p90_ms", Stats.median(timed.map(d => Stats.quantile(d.waitMs, 0.9))), "ms")
    out.report ++= Seq("events" -> n, "users" -> users, "batch" -> batch,
      "reads" -> readMs.size, "drain_s" -> timed.map(_.seconds), "drains" -> timed.size, "setup_reps_s" -> setups.toSeq,
      "topic_log_files" -> Common.logFiles(ctx.spark, logs.topicPath)._1,
      "aggregate_log_files" -> Common.logFiles(ctx.spark, logs.aggLog.path)._1)

    if (ctx.tracer.enabled) {
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      val handled = math.max(drains.map(_.events).sum, 1L).toDouble
      Common.layerMetrics(ctx, out, appendedEvents = 2L * n * reps,
        logRoots = Seq(logs.topicPath, logs.aggLog.path), logEvents = 2L * n,
        window = Common.Window(out.attempted, windowFromMs, windowToMs),
        rates = Map("dlq.dead_lettered" -> drains.map(_.deadLettered).sum / handled,
          "broker.handler_retries" -> drains.map(_.retries).sum / handled,
          "streaming.duplicates" -> drains.map(_.duplicates).sum / handled))
    }
    out
  }

  /** One drain's outcome: events handled (delivered plus dead-lettered), the
    * runAvailable wall time, each delivered event's wait from the drain's
    * start, and whether delivered + DLQ equals the log.
    */
  final case class Drain(events: Long, seconds: Double, waitMs: Seq[Double], deadLettered: Long,
      retries: Long, duplicates: Long, ok: Boolean, detail: String)

  /** One drain of the whole topic log from a fresh checkpoint. */
  private def runDrain(ctx: Ctx, data: Data, logs: Logs, k: Int): Drain = {
    val dlq = new InMemoryDeadLetterQueue
    val seen = new ConcurrentHashMap[String, java.lang.Double]()
    val calls = new java.util.concurrent.atomic.AtomicLong(0L)
    val duplicates = new java.util.concurrent.atomic.AtomicLong(0L)
    val faults = data.faults
    var t0 = 0L
    val sub = new StreamingSubscription(ctx.spark, logs.topicPath,
      Common.fresh(ctx, s"replay-ckpt-$k"), e => {
        calls.incrementAndGet()
        if (faults.contains(e.id)) throw new IllegalStateException(s"injected fault on ${e.id}")
        if (seen.putIfAbsent(e.id, (System.nanoTime - t0) / 1e6) != null) duplicates.incrementAndGet()
      }, dlq, None, SubscriptionOptions(name = Some(s"drain-$k"),
        receiveHistoricalEvents = true, maxRetries = 2, retryDelayMillis = 0L))
    t0 = System.nanoTime
    ctx.tracer.streamSpan("streaming.runAvailable")(sub.runAvailable())
    val secs = Common.seconds(t0)
    val dead = dlq.getEvents().map(_.event.id).toSet
    val all = data.events.map(_._1.id).toSet
    val delivered = seen.keySet.asScala.toSet
    // a faulted event is tried maxRetries (2) times before dead-lettering
    Drain(delivered.size.toLong + dead.size, secs, seen.values.asScala.map(_.doubleValue).toSeq,
      dead.size, calls.get - delivered.size - dead.size, duplicates.get,
      ok = dead == faults && delivered == all -- faults,
      detail = s"delivered ${delivered.size} + dead-lettered ${dead.size} for ${all.size} events")
  }

  /** One read of the mix; true when it equals the model. */
  private def read(ctx: Ctx, data: Data, logs: Logs, kind: String,
      rng: scala.util.Random, scans: Iterator[(Int, Double)]): Boolean = {
    val t = ctx.tracer
    kind match {
      case "events_topic" =>
        val tp = Types(rng.nextInt(Types.size))
        val (limit, width) = scans.next()
        val from = T0 + (rng.nextDouble() * SpanMs * 0.7).toLong
        val to = from + (SpanMs * width).toLong
        val got = t.span("sources.getEvents") {
          val rows = logs.broker.log.getEventsTyped(tp,
            ScanOptions(Some(from), Some(to), Nil, Some(limit))).collect()
          t.rows(rows.length); rows.map(_.id).toSeq
        }
        got == window(data.byType.getOrElse(tp, IndexedSeq.empty), from, to).take(limit).map(_.id)
      case "events_user" =>
        val u = rng.nextInt(data.byUser.size)
        val types = rng.shuffle(Types).take(2)
        val got = t.span("sources.getEvents") {
          val rows = logs.aggLog.getEventsTyped(userTopic(u),
            ScanOptions(eventTypes = types, limit = Some(10))).collect()
          t.rows(rows.length); rows.map(_.id).toSeq
        }
        got == data.byUser.getOrElse(u, IndexedSeq.empty).filter(e => types.contains(e.`type`))
          .take(10).map(_.id)
      case "replay" =>
        val tp = Types(rng.nextInt(Types.size))
        val from = T0 + (rng.nextDouble() * SpanMs * 0.9).toLong
        val to = from + (SpanMs * 0.05).toLong
        val got = mutable.ArrayBuffer.empty[String]
        t.span("broker.replayEvents") {
          t.rows(logs.broker.replayEvents(tp, e => t.span("handler.replay")(got += e.id),
            ScanOptions(Some(from), Some(to))))
        }
        got == window(data.byType.getOrElse(tp, IndexedSeq.empty), from, to).map(_.id)
      case "get_by_id" =>
        val id = s"u${rng.nextInt(data.byUser.size)}"
        val got = t.span("sourcing.getById") {
          val a = logs.repo.getById(id)
          t.rows(a.fold(0L)(_.getVersion.toLong)); a.map(_.getState)
        }
        got == data.states.get(id)
      case "exists" =>
        val id = if (rng.nextInt(3) == 0) s"absent${rng.nextInt(100)}"
          else s"u${rng.nextInt(data.byUser.size)}"
        t.span("sourcing.exists")(logs.repo.exists(id)) == data.states.contains(id)
      case "fold_all" =>
        import ctx.spark.implicits._
        val got = t.span("sourcing.foldAll") {
          val rows = logs.repo.foldAll(ctx.spark)(a =>
            (a.id, a.getState.events, a.getState.amount)).collect()
          t.rows(rows.length)
          rows.map { case (id, c, amt) => id -> AccountState(c, amt) }.toMap
        }
        got == data.states
    }
  }
}
