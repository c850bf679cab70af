package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ledger
import graft.sources.Tables

/** Queries expressing the reference's own operator surface (SURVEY.md §2)
  * over the driver's `events` table: scan/filter/sort/limit (getEvents),
  * retention counting, DLQ ordering, exists, the event-sourcing fold, and
  * the version counter. Each has a DuckDB oracle.
  *
  * Determinism rules used throughout the query packs:
  *   - every query ends in a total ORDER BY (ties broken by a unique key);
  *   - double sums go through DECIMAL casts (exact, order-insensitive), but
  *     the final projection re-casts to DOUBLE via round(CAST(.. AS DOUBLE), n)
  *     on both sides — DECIMAL trailing-zero scale is not representation-stable
  *     across engines and never leaves a query;
  *   - integer sums are final-cast to BIGINT on the DuckDB side (its sum()
  *     widens to HUGEINT);
  *   - averages are round(exact_sum::double / count, 6).
  */
object CoreQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1+F2+O1+O3 — the reference's getEvents scan: ts-range + type-set →
    // sort asc → limit (reference: src/persistence.ts:37-68). Plans as
    // parquet scan w/ pushed filters + TakeOrderedAndProject.
    "q02_events_scan" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .where($"event_type".isin("click", "purchase") &&
          $"ts" >= lit("2024-01-05").cast("timestamp") &&
          $"ts" <= lit("2024-01-10").cast("timestamp"))
        .orderBy($"ts".asc, $"event_id".asc)
        .limit(100)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    }),

    // F2/F5 — type routing fan-out counts (topic.ts:122-129 analog).
    "q03_type_counts" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("total_value"))
        .transform(Ledger.sorted(5)($"event_type"))
    }),

    // S5/A4 — retention: deleted = count(ts < cutoff), kept = rest
    // (reference: src/persistence.ts:74-93 returns initial − remaining).
    "q04_retention_counts" -> ((s, dir) => {
      import s.implicits._
      val cutoff = lit("2024-01-15").cast("timestamp")
      Tables.events(s, dir).agg(
        count(lit(1)).as("total"),
        count(when($"ts" < cutoff, 1)).as("deleted"),
        count(when($"ts" >= cutoff, 1)).as("kept"))
    }),

    // O2+O3 — DLQ ordering: newest-first + limit
    // (reference: src/deadletter.ts:62-68).
    "q05_dlq_recent" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .where($"event_type" === "error")
        .orderBy($"ts".desc, $"event_id".desc)
        .limit(50)
        .select($"event_id", $"ts", $"user_id", $"value")
    }),

    // A6 — exists / any-match per group (reference: src/sourcing.ts:227-231).
    "q06_exists" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg((count(when($"value" > 400, 1)) > 0).as("has_large"))
        .transform(Ledger.sorted(5)($"event_type"))
    }),

    // A1 — event-sourcing fold per aggregate id (reference: src/sourcing.ts:53-62):
    // version = event count, last state = value of latest event, plus an
    // order-insensitive fold (sum). max_by(ts) is the order-sensitive part.
    "q07_fold_state" -> ((s, dir) => {
      import s.implicits._
      // r16: rides the user-clustered range hub — the groupBy(user_id) is
      // satisfied by the hub's clustering and the final orderBy(user_id)
      // by its range prefix, so the fold plans with ZERO exchanges (the
      // raw-scan spelling paid the agg shuffle plus the sort's range
      // exchange and its sampling re-run of the agg). max_by is keyed on
      // (ts, event_id) — q08's version order — so per-user ts ties pick
      // the same row on any data and any partitioning; rows with a null
      // ts still never win (the key is null for them, as before).
      EventStats.byUser(s, dir)
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("version"),
          max_by($"value", when($"ts".isNotNull, struct($"ts", $"event_id")))
            .as("last_value"),
          round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("total_value"))
        .orderBy($"user_id")
    }),

    // A2 — aggregateVersion stamping = row_number per aggregate ordered by
    // event time (reference: src/sourcing.ts:94-118; SURVEY.md §2.6).
    "q08_versions" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      EventStats.byUser(s, dir) // user-clustered cache
        .withColumn("version", row_number().over(w))
        .select($"event_id", $"user_id", $"version")
        .orderBy($"event_id")
    }),

    // X2 — JSON payload access (reference JSON-stringifies payloads,
    // src/persistence.ts:144; JSONB path filters, deadletter.ts:366-378).
    "q09_json_payload" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(
          sum($"k").as("sum_k"),
          round(sum($"k").cast("double") / count($"k"), 6).as("avg_k"))
        .transform(Ledger.sorted(5)($"event_type"))
    }),

    // T7 — replay count: ordered ranged replay returns the delivered count
    // (reference: src/broker.ts:144-161).
    "q10_replay_count" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .where($"ts" >= lit("2024-01-10").cast("timestamp") &&
          $"ts" <= lit("2024-01-20").cast("timestamp") &&
          $"event_type".isin("signup", "error"))
        .agg(count(lit(1)).as("replayed"))
    }),

    // F4/S6 — the DLQ read path END TO END (reference: src/deadletter.ts:39-72):
    // a deterministic failure fixture derived from `events` is bulk-ingested
    // through ParquetDeadLetterQueue, then read back via getEventsDF
    // (topic+type filter on the NESTED event struct, newest-first, limit) —
    // the oracle recomputes the same derivation in SQL. This replaces the
    // flat q05 proxy with the real nested-struct DLQ plan.
    "q64_dlq_scan" -> ((s, dir) => {
      import s.implicits._
      val eid = lpad($"event_id".cast("string"), 10, "0")
      val fixture = Tables.events(s, dir)
        .where($"event_type" === "error")
        .select(
          struct(
            eid.as("id"),
            $"event_type".as("type"),
            concat(lit("orders-"), ($"user_id" % 4).cast("string")).as("topic"),
            $"ts".as("timestamp"),
            lit("1.0").as("schemaVersion"),
            coalesce($"props", lit("{}")).as("payload"),
            typedLit(Map.empty[String, String]).as("metadata")).as("event"),
          concat(lit("delivery failed for "), eid).as("error"),
          concat(lit("sub-"), ($"user_id" % 2).cast("string")).as("subscription"),
          $"ts".as("timestamp"),
          (lit(1) + ($"user_id" % 3)).cast("int").as("attempts"))
        .as[graft.model.DeadLetterRow]
      // staged once per (JVM, sf dir) on the session tier, so concurrent
      // runs never share (or reset) one fixture path
      val path = GateFixtures.dir(dir, "dlq_fixture") { p =>
        new graft.dlq.ParquetDeadLetterQueue(s, p).addEvents(fixture)
      }
      new graft.dlq.ParquetDeadLetterQueue(s, path)
        .getEventsDF(topic = Some("orders-1"), eventType = Some("error"), limit = Some(40))
        .select($"event.id".as("event_id"), $"event.topic".as("topic"),
          $"error", $"subscription", $"timestamp".as("dlq_ts"), $"attempts")
    }),

    // S3/F1/F2/O1/O3 THROUGH THE RELATIONAL STORE — the full JDBC round
    // trip under the oracle gate: a deterministic subset of `events` is
    // bulk-loaded into an embedded-Derby JdbcEventStore (distributed JDBC
    // write), then read back via getEventsDF's topic/ts-range/type-filtered
    // pushdown scan (reference: src/persistence.ts:325-404). Timestamps
    // cross the store as epoch millis (the reference's BIGINT column), so
    // the output exposes ts_ms and the oracle truncates the same way.
    "q65_jdbc_scan" -> ((s, dir) => {
      import s.implicits._
      val eid = lpad($"event_id".cast("string"), 10, "0")
      val subset = Tables.events(s, dir)
        .where($"event_type" === "purchase" && $"user_id" % 20 === 0)
        .select(
          eid.as("id"),
          $"event_type".as("type"),
          concat(lit("jdbc-"), ($"user_id" % 3).cast("string")).as("topic"),
          $"ts".as("timestamp"),
          lit("1.0").as("schemaVersion"),
          coalesce($"props", lit("{}")).as("payload"),
          typedLit(Map.empty[String, String]).as("metadata"))
        .as[graft.model.EventRow]
      val db = "q65_" + math.abs(dir.hashCode).toString
      val store = new graft.sources.JdbcEventStore(s, s"jdbc:derby:memory:$db;create=true")
      // the store LOAD is session-amortized (r14): a restarted deployment
      // connects to a POPULATED database, it does not re-ingest it — the
      // in-memory Derby db outlives cold-session sweeps within the JVM.
      // The pushdown SCAN below (the S3 operator under test) still runs
      // per pass.
      GateFixtures.once(s"q65jdbc:$db") {
        store.dropTable()
        store.initialize()
        store.saveEvents(subset)
      }
      store.getEventsDF("jdbc-1", graft.sources.ScanOptions(
          fromTimestamp = Some(1704412800000L), // 2024-01-05, inclusive ms
          toTimestamp = Some(1735689599000L),
          eventTypes = Seq("purchase"),
          limit = Some(200)))
        .select($"id".as("event_id"), $"topic",
          unix_millis($"timestamp").as("ts_ms"), $"payload")
    }),

    // JSONL ingest with corrupt-line quarantine, END TO END through the
    // real [[graft.sources.JsonlImporter]]: the documents table is
    // serialized once per sf dir as newline-delimited JSON with a
    // deterministic corruption (every doc_id ≡ 0 mod 37 loses its final
    // byte — an unterminated object), re-imported through the PERMISSIVE
    // schema-validated parse, and rolled up: per-lang valid counts +
    // char mass, plus the quarantine row. The oracle recomputes the same
    // law directly from `documents` — the import is exactly lossless on
    // valid lines and exactly quarantines the corrupted ones, or the
    // hash fails. Scale shape: splittable text scan, narrow per-line
    // parse, no shuffle before the rollup.
    "q129_jsonl_import" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val src = jsonlFixture(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      // one cached parse serves both sides; the batch-boundary release
      // frees it
      val imp = graft.sources.JsonlImporter.read(s, src, schema)
      val perLang = imp.valid.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      val quarantined = imp.corrupt
        .agg(count(lit(1)).as("n_docs"))
        .select(lit("__corrupt__").as("lang"), $"n_docs",
          lit(null).cast("long").as("sum_chars"))
      perLang.unionAll(quarantined).transform(Ledger.sorted(5 + 1)($"lang"))
    })
  )

  /** q129's JSONL fixture, built ONCE per sf dir and memoized for the
    * session: `documents` serialized as newline-delimited JSON
    * (deterministic field order via to_json(struct)), with every
    * doc_id ≡ 0 mod 37 line truncated by one byte — an unterminated
    * object, reliably malformed. Temp dir reaped on JVM exit.
    */
  private val jsonlDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def jsonlFixture(s: SparkSession, dir: String): String =
    jsonlDirs.computeIfAbsent(dir, { _ =>
      import s.implicits._
      // session-amortized staging (Scratch.sessionDir), not gate work
      val base = graft.operators.Scratch.sessionDir("graft-jsonl-")
      Tables.documents(s, dir)
        .select($"doc_id",
          to_json(struct($"doc_id", $"lang", $"n_chars")).as("l"))
        .select(when($"doc_id" % 37 === 0,
            $"l".substr(lit(1), length($"l") - 1))
          .otherwise($"l").as("value"))
        .write.mode("overwrite").text(s"$base/docs")
      s"$base/docs"
    })

  def oracles: Map[String, String] = Map(
    "q129_jsonl_import" ->
      """WITH v AS (SELECT lang, CAST(count(*) AS BIGINT) n_docs,
        |            CAST(sum(n_chars) AS BIGINT) sum_chars
        |          FROM documents WHERE doc_id % 37 <> 0 GROUP BY lang),
        |c AS (SELECT '__corrupt__' lang, CAST(count(*) AS BIGINT) n_docs,
        |        CAST(NULL AS BIGINT) sum_chars
        |      FROM documents WHERE doc_id % 37 = 0)
        |SELECT * FROM v UNION ALL SELECT * FROM c ORDER BY lang""".stripMargin,
    "q02_events_scan" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE event_type IN ('click','purchase')
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-10 00:00:00'
        |ORDER BY ts ASC, event_id ASC LIMIT 100""".stripMargin,
    "q03_type_counts" ->
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q04_retention_counts" ->
      """SELECT count(*) AS total,
        |  count(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS deleted,
        |  count(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS kept
        |FROM events""".stripMargin,
    "q05_dlq_recent" ->
      """SELECT event_id, ts, user_id, value FROM events
        |WHERE event_type = 'error'
        |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin,
    "q06_exists" ->
      """SELECT event_type,
        |  count(CASE WHEN value > 400 THEN 1 END) > 0 AS has_large
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q07_fold_state" ->
      """SELECT user_id, count(*) AS version,
        |  arg_max(value, ts) AS last_value,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q08_versions" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS INT) AS version
        |FROM events ORDER BY event_id""".stripMargin,
    "q09_json_payload" ->
      """SELECT event_type,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q10_replay_count" ->
      """SELECT count(*) AS replayed FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND event_type IN ('signup','error')""".stripMargin,
    "q64_dlq_scan" ->
      """WITH dlq AS (
        |  SELECT lpad(CAST(event_id AS VARCHAR), 10, '0') AS eid,
        |    'orders-' || CAST(user_id % 4 AS VARCHAR) AS topic,
        |    'delivery failed for ' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS error,
        |    'sub-' || CAST(user_id % 2 AS VARCHAR) AS subscription,
        |    ts AS dlq_ts,
        |    CAST(1 + user_id % 3 AS INT) AS attempts
        |  FROM events WHERE event_type = 'error')
        |SELECT eid AS event_id, topic, error, subscription, dlq_ts, attempts
        |FROM dlq WHERE topic = 'orders-1'
        |ORDER BY dlq_ts DESC, eid DESC LIMIT 40""".stripMargin,
    "q65_jdbc_scan" ->
      """WITH sub AS (
        |  SELECT lpad(CAST(event_id AS VARCHAR), 10, '0') AS event_id,
        |    'jdbc-' || CAST(user_id % 3 AS VARCHAR) AS topic,
        |    epoch_ms(ts) AS ts_ms,
        |    coalesce(props, '{}') AS payload
        |  FROM events WHERE event_type = 'purchase' AND user_id % 20 = 0)
        |SELECT event_id, topic, ts_ms, payload FROM sub
        |WHERE topic = 'jdbc-1' AND ts_ms >= 1704412800000 AND ts_ms <= 1735689599000
        |ORDER BY ts_ms, event_id LIMIT 200""".stripMargin
  )
}
