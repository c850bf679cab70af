package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.model.EventRow
import graft.sourcing.{AggregateRoot, EventSourcedRepository}
import graft.sources.EventLog

/** The event-sourcing fixture of FIXTURES.md §A / reference README.md:225-246:
  * a User aggregate folding `user.created` then `user.email.updated`.
  */
object SourcingSpec {
  final case class UserState(username: String, email: String)

  final class UserAggregate(id: String)
      extends AggregateRoot[UserState](id, UserState("", "")) {
    @transient private lazy val mapper = new ObjectMapper()

    override protected def applyEvent(event: EventRow): Unit = {
      val p = mapper.readTree(event.payload)
      event.`type` match {
        case "user.created" =>
          state = UserState(p.get("username").asText(), p.get("email").asText())
        case "user.email.updated" =>
          state = state.copy(email = p.get("email").asText())
        case _ => // unknown events ignored, state unchanged
      }
    }

    def create(username: String, email: String): Unit =
      recordEvent("user.created", s"""{"username":"$username","email":"$email"}""")
    def updateEmail(email: String): Unit =
      recordEvent("user.email.updated", s"""{"email":"$email"}""")
  }
}

class SourcingSpec extends SparkSpec {
  import SourcingSpec._

  private def repo(log: EventLog) =
    new EventSourcedRepository[UserAggregate](log, "user", id => new UserAggregate(id))

  test("fold law: create + update in order; version == event count (sourcing.ts:41-62)") {
    val agg = new UserAggregate("u1")
    agg.create("alice", "a@old.com")
    agg.updateEmail("a@new.com")
    assert(agg.getState == UserState("alice", "a@new.com"))
    assert(agg.getVersion == 2)
    assert(agg.getUncommittedEvents.size == 2)
    // metadata stamps pre-apply version (sourcing.ts:94-118)
    assert(agg.getUncommittedEvents.map(_.metadata("aggregateVersion")) == Seq("0", "1"))
    assert(agg.getUncommittedEvents.forall(_.metadata("aggregateId") == "u1"))
  }

  test("save + getById round-trip through the log (sourcing.ts:167-219)") {
    val log = new EventLog(spark, tmpDir("log"))
    val r = repo(log)
    val agg = new UserAggregate("u1")
    agg.create("bob", "b@x.com")
    agg.updateEmail("b@y.com")
    r.save(agg)
    assert(agg.getUncommittedEvents.isEmpty) // markEventsAsCommitted (sourcing.ts:123-132)

    val loaded = r.getById("u1")
    assert(loaded.isDefined)
    assert(loaded.get.getState == UserState("bob", "b@y.com"))
    assert(loaded.get.getVersion == 2)

    assert(r.getById("missing").isEmpty) // empty scan ⇒ None (sourcing.ts:203-205)
    assert(r.exists("u1") && !r.exists("missing"))
  }

  test("rehydrate resets state before re-applying (sourcing.ts:53-62)") {
    val agg = new UserAggregate("u1")
    agg.create("carol", "c@x.com")
    val events = agg.getUncommittedEvents
    agg.updateEmail("c@y.com")
    assert(agg.getVersion == 2)
    agg.rehydrate(events)
    assert(agg.getVersion == 1)
    assert(agg.getState == UserState("carol", "c@x.com"))
  }

  test("foldAllStreaming maintains aggregate projections incrementally across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val log = new EventLog(spark, tmpDir("stream-src-log"))
    val r = repo(log)
    val ckpt = tmpDir("stream-src-ckpt")
    val a1 = new UserAggregate("u1"); a1.create("ann", "a@x.com"); r.save(a1)

    val emitted = scala.collection.mutable.Buffer.empty[(String, Int, String)]
    def run(): Unit = {
      import spark.implicits._
      val q = r.foldAllStreaming(spark)(a => (a.id, a.getVersion, a.getState.email))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Int, String)], _: Long) =>
          b.collect().foreach(emitted += _); ()
        }
        .start()
      q.awaitTermination()
    }
    run()
    assert(emitted.toSeq == Seq(("u1", 1, "a@x.com")))

    // new events for u1 + a new aggregate: u1's fold CONTINUES from state
    emitted.clear()
    val a1b = r.getById("u1").get; a1b.updateEmail("a@new.com"); r.save(a1b)
    val a2 = new UserAggregate("u2"); a2.create("bo", "b@x.com"); r.save(a2)
    run()
    assert(emitted.sortBy(_._1).toSeq ==
      Seq(("u1", 2, "a@new.com"), ("u2", 1, "b@x.com")))

    // compacting a folded aggregate's topic folds nothing again
    emitted.clear()
    log.compact("aggregate.user.u1")
    run()
    assert(emitted.isEmpty)
  }

  test("LatestPayloadAggregator (typed UDAF) agrees with max_by under any partitioning") {
    import java.sql.Timestamp
    import spark.implicits._
    val events = (1 to 100).map { i =>
      EventRow(f"e$i%03d", "t", s"top${i % 7}", new Timestamp(1000L + (i % 13) * 100), "1.0",
        s"""{"i":$i}""", Map.empty)
    }
    val ds = spark.createDataset(events).repartition(8)
    val typed = ds.groupByKey(_.topic)
      .agg(graft.functions.LatestPayloadAggregator.toColumn.name("latest"))
      .collect().toMap
    val viaMaxBy = ds.groupBy($"topic")
      .agg(org.apache.spark.sql.functions.max_by($"payload",
        org.apache.spark.sql.functions.struct($"timestamp", $"id")).as("latest"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(typed == viaMaxBy)
    assert(typed.size == 7)
  }

  test("foldAll rebuilds every aggregate in one distributed pass (SURVEY.md §3.3)") {
    val log = new EventLog(spark, tmpDir("log"))
    val r = repo(log)
    for (i <- 1 to 5) {
      val agg = new UserAggregate(s"u$i")
      agg.create(s"user$i", s"u$i@x.com")
      if (i % 2 == 0) agg.updateEmail(s"u$i@y.com")
      r.save(agg)
    }
    // Sub-millisecond order: u6 is created 100 µs and updated 900 µs into
    // ONE millisecond, with ids running against time — the fold must
    // apply the full timestamp first, as getById's log order does.
    def at(micros: Int) = {
      val ts = new java.sql.Timestamp(1700000000000L); ts.setNanos(micros * 1000); ts
    }
    log.appendRows(Seq(
      EventRow("b", "user.created", "aggregate.user.u6", at(100), "1.0",
        """{"username":"user6","email":"u6@x.com"}""", Map("aggregateId" -> "u6")),
      EventRow("a", "user.email.updated", "aggregate.user.u6", at(900), "1.0",
        """{"email":"u6@y.com"}""", Map("aggregateId" -> "u6"))))
    import spark.implicits._
    val states = r.foldAll(spark)(a => (a.id, a.getVersion, a.getState.email))
      .collect().sortBy(_._1)
    assert(states.length == 6)
    assert(states.map(_._2).toSeq == Seq(1, 2, 1, 2, 1, 2))
    assert(states(1)._3 == "u2@y.com")
    assert(states(5)._3 == "u6@y.com", "foldAll must fold u6 in full-timestamp order")
    assert(r.getById("u6").get.getState.email == "u6@y.com")
  }

  test("RepositoryFactory mints repositories over one shared log (sourcing.ts:281-302)") {
    val log = new EventLog(spark, tmpDir("factory-log"))
    val factory = new graft.sourcing.RepositoryFactory(log)
    val users = factory.createRepository[UserAggregate](
      id => new UserAggregate(id), "user")
    val admins = factory.createRepository[UserAggregate](
      id => new UserAggregate(id), "admin")
    val u = new UserAggregate("u1"); u.create("dora", "d@x.com"); users.save(u)
    val a = new UserAggregate("u1"); a.create("root", "r@x.com"); admins.save(a)
    // same id, different aggregate types → distinct topics in the SHARED log
    assert(users.getById("u1").get.getState.username == "dora")
    assert(admins.getById("u1").get.getState.username == "root")
    assert(log.getEvents("aggregate.user.u1").count() == 1)
    assert(log.getEvents("aggregate.admin.u1").count() == 1)
  }
}
