package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.broker.{EventBroker, PublishResult, SubscriptionOptions, TopicOptions}
import graft.schema.SchemaRegistry
import graft.sources.ScanOptions
import graft.sourcing.EventSourcedRepository
import graft.streaming.StreamingSubscription

/** `pubsub`: P publisher threads in a closed loop call `EventBroker.publish`
  * for single events across four account topics. The first topic validates
  * payloads against a schema; one publish in 40 sends it a payload that
  * lacks a required field. Every topic has two sync subscribers: one takes
  * only `deposit` events, the other throws on one event in 25 (maxRetries 2,
  * no delay), which dead-letters it. One ordered
  * StreamingSubscription tails the whole log and records publish→deliver lag
  * from the broker's timestamp. Publishes of the untimed warm-up before the
  * window are checked like the window's, but not measured.
  */
object PubSub {

  val Topics: IndexedSeq[String] = (0 until 4).map(i => s"aggregate.account.a$i")
  val Types: IndexedSeq[String] = IndexedSeq("deposit", "withdraw", "note")
  val FilterType = "deposit"
  private val SchemaJson =
    """{"type":"object","required":["seq","user","amount"],
      |"properties":{"seq":{"type":"integer"},"user":{"type":"string"},
      |"amount":{"type":"integer"}}}""".stripMargin

  val InvalidEvery = 40
  val FaultEvery = 25

  /** The seeded publish plan: what publish number `seq` sends. Each block of
    * `InvalidEvery` publishes holds one schema-invalid payload for the schema
    * topic (topic 0) and each block of `FaultEvery` one event the faulty
    * subscriber throws on, at seeded positions, so that every run (about a
    * hundred publishes) carries several of both.
    */
  final class Plan(seed: Long, size: Int) {
    private val rng = new scala.util.Random(seed)
    private def oneIn(block: Int): Array[Boolean] = {
      val at = Array.fill((size + block - 1) / block)(rng.nextInt(block))
      Array.tabulate(size)(i => i % block == at(i / block))
    }
    val invalid: Array[Boolean] = oneIn(InvalidEvery)
    val fault: Array[Boolean] = oneIn(FaultEvery)
    val topic: Array[Int] = Array.tabulate(size)(i => if (invalid(i)) 0 else rng.nextInt(Topics.size))
    val eventType: Array[Int] = Array.fill(size)(rng.nextInt(Types.size))
    val amount: Array[Long] = Array.fill(size)(1L + rng.nextInt(1000))
    def payload(seq: Int): String =
      if (invalid(seq)) s"""{"seq":$seq,"user":"u$seq"}"""
      else Payload(seq, s"u$seq", amount(seq))
  }

  /** One broker with its subscribers, as set up before the timed window. */
  private final class Rig(ctx: Ctx, plan: Plan, rep: Int) {
    val t: Tracer = ctx.tracer
    val logPath: String = Common.fresh(ctx, s"pubsub-log-$rep")
    val broker = new EventBroker(ctx.spark, logPath)
    val filtered = new ConcurrentHashMap[String, AtomicInteger]()
    val faultyCalls = new AtomicLong(0L)
    val streamSeen = new ConcurrentHashMap[String, AtomicInteger]()
    val lagMs = new ConcurrentHashMap[String, java.lang.Long]()
    val results = new ConcurrentHashMap[Int, PublishResult]()
    val latencyMs = new ConcurrentHashMap[Int, java.lang.Double]()
    val next = new AtomicInteger(0)
    private var stream: StreamingSubscription = _
    private var streamSpan: Span = _

    private val registry = new SchemaRegistry
    Types.foreach(registry.registerSchema(_, SchemaJson, "1.0"))
    Topics.zipWithIndex.foreach { case (name, i) =>
      broker.createTopic(name,
        TopicOptions(schemaRegistry = if (i == 0) Some(registry) else None))
      broker.subscribe(name, e => t.span("handler.filtered") {
        filtered.computeIfAbsent(e.id, _ => new AtomicInteger()).incrementAndGet()
      }, SubscriptionOptions(name = Some(s"filtered-$i"), eventTypes = Seq(FilterType)))
      broker.subscribe(name, e => t.span("handler.faulty") {
        faultyCalls.incrementAndGet()
        if (plan.fault(Payload.seq(e.payload).toInt))
          throw new IllegalStateException(s"injected fault on ${e.id}")
      }, SubscriptionOptions(name = Some(s"faulty-$i"), maxRetries = 2, retryDelayMillis = 0L))
    }

    /** Publish the next planned event; the call is timed and traced. */
    def publishNext(): Int = {
      val seq = next.getAndIncrement()
      val topic = Topics(plan.topic(seq))
      val payload = plan.payload(seq)
      val t0 = System.nanoTime
      val r = t.span("broker.publish") {
        broker.publish(topic, Types(plan.eventType(seq)), payload)
      }
      latencyMs.put(seq, (System.nanoTime - t0) / 1e6)
      results.put(seq, r)
      seq
    }

    def startStream(): Unit = {
      stream = new StreamingSubscription(ctx.spark, logPath, Common.fresh(ctx, s"pubsub-ckpt-$rep"),
        e => {
          val now = System.currentTimeMillis()
          if (streamSeen.computeIfAbsent(e.id, _ => new AtomicInteger()).incrementAndGet() == 1)
            lagMs.put(e.id, now - e.timestamp.getTime)
        }, broker.dlq, None,
        SubscriptionOptions(name = Some("tail"), receiveHistoricalEvents = true,
          maxRetries = 2, retryDelayMillis = 0L))
      if (t.enabled) {
        // open until stopStream: the query's micro-batches belong to it
        streamSpan = t.begin("streaming.start")
        t.starting(streamSpan)(stream.start())
      } else stream.start()
    }

    def stopStream(): Unit = {
      stream.stop()
      if (streamSpan != null) t.finish(streamSpan)
    }

    def acknowledged: Seq[(Int, PublishResult)] =
      results.asScala.toSeq.filter(_._2.success).sortBy(_._1)
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val publishers = ctx.nproc
    val plan = new Plan(ctx.seed, 200000)
    val reps = if (ctx.smoke) 2 else 3

    // set-up, repeated: broker + topics + subscribers, concurrent warm-up
    // publishes, then the tailing stream until it has delivered them
    val setups = mutable.ArrayBuffer.empty[Double]
    var rig: Rig = null
    for (rep <- 1 to reps) {
      if (rig != null) rig.stopStream()
      val t0 = System.nanoTime
      rig = new Rig(ctx, plan, rep)
      val r = rig
      parallel(publishers)(_ => { r.publishNext(); r.publishNext() })
      r.startStream()
      val ok = Common.await(60)(r.streamSeen.size >= r.acknowledged.size)
      setups += Common.seconds(t0)
      out.check(s"setup_$rep.stream_caught_up", ok, "stream did not deliver the warm-up events")
    }
    val r = rig

    // closed loop, one outstanding publish per publisher: an untimed
    // warm-up for a quarter of the window (throughput still climbs through
    // the first seconds of a fresh JVM), then the timed window
    def loop(seconds: Double): Unit = {
      val deadline = System.nanoTime + (seconds * 1e9).toLong
      parallel(publishers)(_ => while (System.nanoTime < deadline) r.publishNext())
    }
    loop(ctx.seconds / 4)
    val windowStart = r.next.get
    val t0 = System.nanoTime
    val windowFromMs = System.currentTimeMillis
    loop(ctx.seconds)
    val windowS = Common.seconds(t0)
    val windowToMs = System.currentTimeMillis
    val windowSeqs = (windowStart until r.next.get).toSet
    val acked = r.acknowledged
    val ackedIds = acked.map(_._2.eventId).toSet
    val caughtUp = Common.await(60)(ackedIds.forall(r.streamSeen.containsKey))
    val catchUpS = Common.seconds(t0) - windowS
    r.stopStream()
    val checksT0 = System.nanoTime

    // operations: every window publish; a publish fails when its outcome
    // differs from the plan (success exactly when the payload is valid)
    out.attempted = windowSeqs.size
    val published = r.results.asScala.toSeq
    val wrong = published.filter { case (seq, res) => res.success == plan.invalid(seq) }
    out.failed += wrong.count(x => windowSeqs.contains(x._1))
    out.check("publish_outcomes", wrong.isEmpty,
      s"${wrong.size} publishes disagree with the plan, e.g. ${wrong.head}")
    checks(ctx, out, r, plan, acked)
    out.check("stream_saw_every_event", caughtUp,
      s"${ackedIds.count(!r.streamSeen.containsKey(_))} acknowledged events never streamed")

    val windowAcked = acked.filter(x => windowSeqs.contains(x._1))
    val pubMs = windowSeqs.toSeq.map(s => r.latencyMs.get(s).doubleValue)
    val lags = windowAcked.flatMap(x => Option(r.lagMs.get(x._2.eventId))).map(_.doubleValue)
    val e2e = out.endToEnd
    e2e.put("setup_s", Stats.median(setups), "s")
    e2e.put("op_p50_ms", Stats.median(pubMs), "ms")
    e2e.put("op_p90_ms", Stats.quantile(pubMs, 0.90), "ms")
    e2e.put("events_per_s", windowAcked.size / windowS, "events/s")
    e2e.put("deliver_p50_ms", Stats.median(lags), "ms")
    e2e.put("deliver_p90_ms", Stats.quantile(lags, 0.90), "ms")
    out.report ++= Seq("publishers" -> publishers, "publishes" -> pubMs.size,
      "rejected" -> published.count(!_._2.success), "dead_lettered" -> r.broker.dlq.getEvents().size,
      "deliver_samples" -> lags.size, "setup_reps_s" -> setups.toSeq,
      "window_s" -> windowS, "catch_up_s" -> catchUpS, "checks_s" -> Common.seconds(checksT0))

    if (ctx.tracer.enabled) {
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      val streamDeliveries = r.streamSeen.values.asScala.map(_.get).sum
      val perAcked = math.max(acked.size, 1).toDouble
      Common.layerMetrics(ctx, out, appendedEvents = acked.size, logRoots = Seq(r.logPath),
        logEvents = acked.size,
        window = Common.Window(windowSeqs.size, windowFromMs, windowToMs), rates = Map(
          "schema.rejected" -> published.count(!_._2.success) / math.max(published.size, 1).toDouble,
          "dlq.dead_lettered" -> r.broker.dlq.getEvents().size / perAcked,
          // the faulty subscriber sees every event once, a faulted one twice
          "broker.handler_retries" -> (r.faultyCalls.get - acked.size) / perAcked,
          "streaming.duplicates" ->
            (streamDeliveries - r.streamSeen.size) / math.max(r.streamSeen.size, 1).toDouble))
    }
    out
  }

  /** The output checks: log readback, filtered delivery, DLQ contents and
    * the event-sourced fold over the same log.
    */
  private def checks(ctx: Ctx, out: Outcome, r: Rig, plan: Plan,
      acked: Seq[(Int, PublishResult)]): Unit = {
    val t = ctx.tracer
    val log = r.broker.log
    val byTopic = acked.groupBy(x => Topics(plan.topic(x._1)))
    val rejectedIds = r.results.asScala.values.filter(!_.success).map(_.eventId).toSet

    val readBack = Topics.map { topic =>
      topic -> t.span("sources.getEvents") {
        val rows = log.getEventsTyped(topic).collect()
        t.rows(rows.length)
        rows.map(_.id).toSeq
      }
    }.toMap
    val all = readBack.values.flatten.toSeq
    val missing = Topics.flatMap(tp =>
      byTopic.getOrElse(tp, Nil).map(_._2.eventId).filterNot(readBack(tp).contains))
    out.check("log_readback_exactly_once",
      missing.isEmpty && all.size == all.distinct.size && all.size == acked.size,
      s"missing ${missing.size}, duplicates ${all.size - all.distinct.size}, " +
        s"read ${all.size} for ${acked.size} acknowledged")
    out.check("rejected_absent", !all.exists(rejectedIds.contains),
      s"${all.count(rejectedIds.contains)} rejected events are in the log")

    val expectFiltered = acked.filter(x => Types(plan.eventType(x._1)) == FilterType)
      .map(_._2.eventId).toSet
    val seenFiltered = r.filtered.asScala
    out.check("filtered_exactly_once",
      seenFiltered.keySet == expectFiltered && seenFiltered.values.forall(_.get == 1),
      s"filtered subscriber saw ${seenFiltered.size}, expected ${expectFiltered.size}")
    val replayed = mutable.ArrayBuffer.empty[String]
    Topics.foreach { topic =>
      t.span("broker.replayEvents") {
        val n = r.broker.replayEvents(topic, e => t.span("handler.replay")(replayed.synchronized {
          replayed += e.id
        }), ScanOptions(eventTypes = Seq(FilterType)))
        t.rows(n)
      }
    }
    out.check("replay_filtered", replayed.toSet == expectFiltered && replayed.size == expectFiltered.size,
      s"replay returned ${replayed.size}, expected ${expectFiltered.size}")

    val expectDlq = acked.filter(x => plan.fault(x._1)).map(_._2.eventId).toSet
    val dlqIds = r.broker.dlq.getEvents().map(_.event.id).toSet
    out.check("dlq_equals_faults", dlqIds == expectDlq,
      s"DLQ holds ${dlqIds.size}, the plan injected ${expectDlq.size}")

    val repo = new EventSourcedRepository[Account](log, "account", new Account(_))
    val model = byTopic.map { case (topic, xs) =>
      topic.stripPrefix("aggregate.account.") ->
        AccountState(xs.size, xs.map(x => plan.amount(x._1)).sum)
    }
    // one aggregate by id (foldAll below covers every aggregate)
    val folded = model.keys.toSeq.sorted.take(1).map { id =>
      id -> t.span("sourcing.getById") {
        val a = repo.getById(id)
        t.rows(a.fold(0L)(_.getVersion.toLong))
        a.map(_.getState)
      }
    }
    out.check("get_by_id_state", folded.forall { case (id, s) => s.contains(model(id)) },
      s"fold differs: ${folded.filterNot { case (id, s) => s.contains(model(id)) }.take(2)}")
    val existsOk = t.span("sourcing.exists")(repo.exists(model.keys.head)) &&
      !t.span("sourcing.exists")(repo.exists("absent"))
    out.check("exists", existsOk, "exists disagrees with the published topics")
    import ctx.spark.implicits._
    val all2 = t.span("sourcing.foldAll") {
      val rows = repo.foldAll(ctx.spark)(a => (a.id, a.getState.events, a.getState.amount)).collect()
      t.rows(rows.length)
      rows.map { case (id, n, amt) => id -> AccountState(n, amt) }.toMap
    }
    out.check("fold_all_state", all2 == model, s"foldAll gave ${all2.size} aggregates")
  }

  /** Run `body(i)` on n threads and wait for all; rethrows the first failure. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val th = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) },
        s"perfbench-publisher-$i")
      th.start(); th
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}
