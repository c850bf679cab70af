package graft.dlq

import java.sql.{Connection, SQLException, Timestamp}
import java.util.Properties

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{DeadLetterRow, EventRow}

/** Relational DLQ — the reference's `PostgresDeadLetterQueue`
  * (reference: src/deadletter.ts:240-519) on any JDBC database.
  *
  * Upsert semantics match the reference's
  * `INSERT … ON CONFLICT (event_id) DO UPDATE SET attempts = attempts + 1`
  * (reference: src/deadletter.ts:315-340): re-adding a failed event bumps
  * its attempt counter and refreshes error/timestamp instead of duplicating
  * the row. `ON CONFLICT` is PostgreSQL-only, so the upsert is spelled
  * UPDATE-then-INSERT under the queue's single-writer discipline (the broker
  * is the only writer, as in the reference where one process owns the pool).
  *
  * One deliberate divergence: the reference filters on JSONB expressions
  * (`event_data->>'topic'`) backed by expression indexes
  * (reference: src/deadletter.ts:300-305); JSON operators are not portable
  * SQL, so `topic` and `type` are denormalized into real indexed columns at
  * write time — the filters the reference runs through an expression index
  * become plain pushed-down column predicates. The full event still travels
  * verbatim in `event_data` JSON.
  */
final class JdbcDeadLetterQueue(
    spark: SparkSession,
    url: String,
    table: String = "events_dlq",
    user: Option[(String, String)] = None) extends DeadLetterQueue {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def connProps: Properties = {
    val p = new Properties()
    user.foreach { case (u, pw) => p.setProperty("user", u); p.setProperty("password", pw) }
    p
  }

  /** Pooled driver-side connections — `addEvent` runs on the delivery
    * failure path per event (reference parity: persistence.ts:253's pool).
    */
  private val pool = new graft.sources.ConnectionPool(url, connProps)

  private def withConn[T](f: Connection => T): T = pool.withConnection(f)

  /** Physical connections opened so far (spec observable for reuse). */
  private[graft] def connectionsOpened: Int = pool.openedCount

  /** Release pooled connections (queue lifecycle end). */
  def close(): Unit = pool.close()

  def initialize(): this.type = {
    def tolerant(c: Connection)(ddl: String): Unit =
      try { c.createStatement().executeUpdate(ddl); () }
      catch {
        case e: SQLException
            if e.getSQLState == "X0Y32" || Option(e.getMessage).exists(_.contains("already exists")) => ()
      }
    withConn { c =>
      tolerant(c)(
        s"""CREATE TABLE $table (
           |  "event_id" VARCHAR(64) NOT NULL PRIMARY KEY,
           |  "topic" VARCHAR(512) NOT NULL,
           |  "type" VARCHAR(256) NOT NULL,
           |  "event_data" CLOB NOT NULL,
           |  "error" VARCHAR(4096) NOT NULL,
           |  "subscription" VARCHAR(256) NOT NULL,
           |  "timestamp" BIGINT NOT NULL,
           |  "attempts" INT NOT NULL
           |)""".stripMargin)
      val prefix = table.toLowerCase.replaceAll("[^a-z0-9_]", "_")
      tolerant(c)(s"""CREATE INDEX ${prefix}_topic_idx ON $table ("topic")""")
      tolerant(c)(s"""CREATE INDEX ${prefix}_type_idx ON $table ("type")""")
      tolerant(c)(s"""CREATE INDEX ${prefix}_ts_idx ON $table ("timestamp")""")
      tolerant(c)(s"""CREATE INDEX ${prefix}_sub_idx ON $table ("subscription")""")
    }
    this
  }

  private def eventJson(e: EventRow): String = {
    val n = mapper.createObjectNode()
    n.put("id", e.id)
    n.put("type", e.`type`)
    n.put("topic", e.topic)
    n.put("timestamp", e.timestamp.getTime)
    n.put("schemaVersion", e.schemaVersion)
    n.set[com.fasterxml.jackson.databind.JsonNode]("payload", mapper.readTree(e.payload))
    val meta = mapper.createObjectNode()
    e.metadata.foreach { case (k, v) => meta.put(k, v) }
    n.set[com.fasterxml.jackson.databind.JsonNode]("metadata", meta)
    mapper.writeValueAsString(n)
  }

  private def parseEvent(json: String): EventRow = {
    val n = mapper.readTree(json)
    EventRow(
      id = n.get("id").asText(),
      `type` = n.get("type").asText(),
      topic = n.get("topic").asText(),
      timestamp = new Timestamp(n.get("timestamp").asLong()),
      schemaVersion = n.get("schemaVersion").asText(),
      payload = mapper.writeValueAsString(n.get("payload")),
      metadata = {
        val it = n.get("metadata").properties().iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
        b.result()
      })
  }

  /** Upsert: first failure inserts with attempts = 1; a repeat failure of
    * the same event bumps attempts and refreshes error + timestamp
    * (reference: src/deadletter.ts:315-340).
    */
  override def addEvent(event: EventRow, error: String, subscriptionId: String): Unit =
    withConn { c =>
      val upd = c.prepareStatement(
        s"""UPDATE $table SET "attempts" = "attempts" + 1, "error" = ?, "timestamp" = ?
           |WHERE "event_id" = ?""".stripMargin)
      upd.setString(1, error.take(4096))
      upd.setLong(2, System.currentTimeMillis())
      upd.setString(3, event.id)
      if (upd.executeUpdate() == 0) {
        val ins = c.prepareStatement(
          s"""INSERT INTO $table
             |  ("event_id", "topic", "type", "event_data", "error", "subscription", "timestamp", "attempts")
             |VALUES (?, ?, ?, ?, ?, ?, ?, 1)""".stripMargin)
        ins.setString(1, event.id)
        ins.setString(2, event.topic)
        ins.setString(3, event.`type`)
        ins.setString(4, eventJson(event))
        ins.setString(5, error.take(4096))
        ins.setString(6, subscriptionId)
        ins.setLong(7, System.currentTimeMillis())
        ins.executeUpdate()
      }
      ()
    }

  /** The queue as a Spark DataFrame (flat relational shape) — topic/type
    * predicates applied downstream push into the database's SQL.
    */
  def toDF: DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(user.map { case (u, _) => "user" -> u }.toMap)
      .options(user.map { case (_, p) => "password" -> p }.toMap)
      .load()

  override def getEvents(topic: Option[String], eventType: Option[String],
      limit: Option[Int]): Seq[DeadLetterRow] = {
    var df = toDF
    topic.foreach(t => df = df.where($"topic" === t))
    eventType.foreach(t => df = df.where($"type" === t))
    df = df.orderBy($"timestamp".desc, $"event_id".desc)
    limit.filter(_ > 0).foreach(n => df = df.limit(n))
    df.select($"event_data", $"error", $"subscription", $"timestamp", $"attempts")
      .collect().toSeq
      .map(r => DeadLetterRow(
        event = parseEvent(r.getString(0)),
        error = r.getString(1),
        subscription = r.getString(2),
        timestamp = new Timestamp(r.getLong(3)),
        attempts = r.getInt(4)))
  }

  override def retryEvent(eventId: String,
      retryCallback: (EventRow, String) => Boolean): Boolean = {
    val entry = withConn { c =>
      val ps = c.prepareStatement(
        s"""SELECT "event_data", "subscription", "attempts" FROM $table WHERE "event_id" = ?""")
      ps.setString(1, eventId)
      val rs = ps.executeQuery()
      if (rs.next()) Some((parseEvent(rs.getString(1)), rs.getString(2), rs.getInt(3))) else None
    }
    entry match {
      case None => false
      case Some((event, subscription, _)) =>
        val (succeeded, newError) =
          try { (retryCallback(event, subscription), None) }
          catch { case e: Exception =>
            (false, Some(Option(e.getMessage).getOrElse(e.toString)))
          }
        if (succeeded) { removeEvent(eventId); true }
        else {
          withConn { c =>
            val ps = c.prepareStatement(
              s"""UPDATE $table SET "attempts" = "attempts" + 1, "timestamp" = ?
                 |${newError.map(_ => """, "error" = ?""").getOrElse("")}
                 |WHERE "event_id" = ?""".stripMargin)
            ps.setLong(1, System.currentTimeMillis())
            newError match {
              case Some(err) => ps.setString(2, err.take(4096)); ps.setString(3, eventId)
              case None => ps.setString(2, eventId)
            }
            ps.executeUpdate()
          }
          false
        }
    }
  }

  override def removeEvent(eventId: String): Boolean = withConn { c =>
    val ps = c.prepareStatement(s"""DELETE FROM $table WHERE "event_id" = ?""")
    ps.setString(1, eventId)
    ps.executeUpdate() > 0
  }
}
