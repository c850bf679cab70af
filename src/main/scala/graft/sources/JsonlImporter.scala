package graft.sources

import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.dlq.ParquetDeadLetterQueue
import graft.model.{DeadLetterRow, EventRow}

/** Schema-validated JSONL (newline-delimited JSON) ingest with
  * corrupt-line quarantine — the reference's dead-letter philosophy
  * (reference: src/deadletter.ts:39-72 — failures are ROUTED, never
  * dropped and never fatal) applied to the ingest edge, where a 100 TB
  * crawl delivery always contains some malformed lines and one bad byte
  * must not kill a thousand-executor job.
  *
  * Spark-native mechanics: the built-in JSON datasource in PERMISSIVE
  * mode parses each line against the declared schema in one distributed
  * pass; a line that fails to parse (or whose fields mismatch the schema
  * types) lands with the raw text in the `columnNameOfCorruptRecord`
  * column and nulls elsewhere. The scan is cached before splitting:
  * Spark refuses a query whose only referenced column is the internal
  * corrupt-record column (it would never parse the data fields at all),
  * and the cache also makes valid/corrupt two reads of ONE parse, not
  * two parses. Columns beyond the declared schema are simply pruned —
  * schema evolution on read.
  *
  * Scale shape: text-splittable input → narrow per-line parse, no
  * shuffle; the valid side inherits the schema for pushdown-friendly
  * downstream plans; the corrupt side is a bounded quarantine batch
  * routed to the DLQ as ONE distributed append ([[quarantine]]).
  */
object JsonlImporter {

  val CorruptCol = "_corrupt_record"

  /** Both sides of one parse pass. `parsed` is the shared cached scan
    * both sides filter — callers either `release()` it when both sides
    * are consumed or leave it to the batch-boundary `ResultMemo.release`.
    */
  final case class Imported(valid: DataFrame, corrupt: DataFrame, parsed: DataFrame) {
    def release(): Unit = { parsed.unpersist(blocking = false); () }
  }

  /** One distributed parse of `path` against `schema`: valid rows with
    * the declared columns, corrupt lines as (line STRING).
    */
  def read(spark: SparkSession, path: String, schema: StructType): Imported = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not declare $CorruptCol")
    val raw = spark.read
      .schema(schema.add(CorruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)
      .cache()
    Imported(
      valid = raw.where(col(CorruptCol).isNull).drop(CorruptCol),
      corrupt = raw.where(col(CorruptCol).isNotNull)
        .select(col(CorruptCol).as("line")),
      parsed = raw)
  }

  /** Route the corrupt lines of an import into the parquet DLQ as one
    * bulk append and return how many were quarantined. Each line becomes
    * a dead-lettered envelope: deterministic content-derived id (re-runs
    * of the same file dedupe by id downstream), the raw line preserved
    * VERBATIM as a JSON-string payload (the same exactness law as
    * [[FileStoreImporter]] — quarantined data must survive byte-for-byte
    * for later repair-and-replay via the DLQ's retry path).
    */
  def quarantine(imported: Imported, dlq: ParquetDeadLetterQueue,
      source: String): Long = {
    val spark = imported.corrupt.sparkSession
    import spark.implicits._
    val ingestTs = new Timestamp(System.currentTimeMillis())
    val rows = imported.corrupt.select($"line").as[String].mapPartitions { lines =>
      val mapper = new ObjectMapper() // one escaper per partition
      lines.map { line =>
        DeadLetterRow(
          EventRow(
            id = java.util.UUID.nameUUIDFromBytes(line.getBytes("UTF-8")).toString,
            `type` = "jsonl.corrupt",
            topic = source,
            timestamp = ingestTs,
            schemaVersion = "1.0",
            payload = mapper.writeValueAsString(line), // raw line as JSON string
            metadata = Map("importer" -> "jsonl")),
          error = "malformed JSONL record",
          subscription = source,
          timestamp = ingestTs,
          attempts = 1)
      }
    }.persist()
    try {
      val n = rows.count()
      dlq.addEvents(rows)
      n
    } finally { rows.unpersist(blocking = false); () }
  }
}
