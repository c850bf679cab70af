package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.operators.{BloomPrefilter, SnapshotDiff}
import graft.sources.JsonlImporter
import graft.streaming.StreamingCuration

/** End-to-end composition of the round-6 ingest surface — the path a new
  * corpus drop actually takes:
  *
  *   JSONL batch → schema-validated parse (corrupt lines quarantined,
  *   never poisoning the batch) → bloom ANTI-join against the existing
  *   corpus (only genuinely new documents continue; filter-rejected rows
  *   never touch the join) → quality gate → snapshot delta describing
  *   exactly what the drop changes.
  *
  * Each operator is spec'd alone elsewhere; this pins that they compose —
  * schemas line up, laws survive chaining, and the end state equals the
  * obvious from-scratch computation.
  */
class IngestPipelineSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val goodText =
    "the quick brown fox jumps over the lazy dog and runs to the river " * 4

  test("jsonl → quarantine → bloom anti-dedup → quality gate → delta") {
    val base = tmpDir("graft-ingest")
    try {
      // existing corpus: docs 1 and 2
      val corpus = Seq((1L, goodText + "one"), (2L, goodText + "two"))
        .toDF("doc_id", "text")

      // incoming drop: 3 is new+good, 1 is a re-send (dup), 4 is junk
      // quality, 5 is a corrupt line
      val lines = Seq(
        s"""{"doc_id": 3, "text": "${goodText}three"}""",
        s"""{"doc_id": 1, "text": "${goodText}one"}""",
        """{"doc_id": 4, "text": "x y"}""",
        """{"doc_id": 5, "text": "unterminated""")
      Files.writeString(java.nio.file.Paths.get(s"$base/drop.jsonl"),
        lines.mkString("\n"))

      val imported = JsonlImporter.read(spark, s"$base/drop.jsonl", schema)
      assert(imported.corrupt.count() == 1, "corrupt line must quarantine")
      assert(imported.valid.count() == 3)

      // dedup against the corpus by doc_id: only 3 and 4 are new
      val fresh = BloomPrefilter.antiJoin(
        imported.valid.select($"doc_id", $"text"), corpus, "doc_id", 1024)
      assert(fresh.select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(3L, 4L))

      // quality gate drops 4
      val accepted = fresh.where(StreamingCuration.quality($"text") >= 0.5)
      assert(accepted.select($"doc_id").collect().map(_.getLong(0)).toSeq
        == Seq(3L))

      // the drop's net effect on the corpus is exactly "+doc 3"
      val v2 = corpus.unionByName(accepted)
      val d = SnapshotDiff.delta(corpus, v2, "doc_id", "text")
      val statuses = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(statuses == Map(3L -> "added"))

      // and applying the delta reconverges
      val rebuilt = SnapshotDiff.applyDelta(corpus, d, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rebuilt == v2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)

      imported.release()
    } finally {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
