package graft

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamingCuration

/** Streaming curation laws: the quality gate matches the batch law
  * document-for-document, duplicates collapse to first arrival ACROSS
  * micro-batches, and the pipeline is one continuous streaming query.
  */
class StreamingCurationSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // rich + stopword-heavy → passes the 0.5 bar; "x y" → fails hard
  private val good =
    "the quick brown fox jumps over the lazy dog and runs to the river " * 4
  private val bad = "x y"

  private def writeBatch(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)

  test("gates on quality and dedups content across micro-batches") {
    val dir = tmpDir("cur")
    writeBatch(dir, Seq((1L, good), (2L, bad)))
    writeBatch(dir, Seq((3L, good), (4L, good + "extra tail"))) // 3 = dup of 1

    val out = StreamingCuration.curate(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
      textCol = "text", minQuality = 0.5)
    val q = out.writeStream.format("memory").queryName("curated")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val kept = spark.sql("SELECT doc_id FROM curated ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    // 2 fails quality; 3 is a byte-identical dup of 1; 4 survives (new body)
    assert(kept == Seq(1L, 4L))
  }

  test("stream gate agrees with the batch quality law") {
    val docs = Seq((1L, good), (2L, bad)).toDF("doc_id", "text")
    val streamQ = docs.withColumn("q", StreamingCuration.quality($"text"))
      .select($"doc_id", $"q").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamQ(1L) >= 0.5 && streamQ(2L) < 0.5)
  }
}
