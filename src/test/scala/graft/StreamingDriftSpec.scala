package graft

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamingDrift

/** StreamingDrift laws on a file-fed stream (one file per micro-batch):
  * the reference freezes on the first refN values, a same-distribution
  * batch scores near zero, a shifted batch alerts, and the TVD is the
  * hand-computed histogram distance.
  */
class StreamingDriftSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("src", StringType), StructField("len", DoubleType)))

  private def writeBatch(dir: String, rows: Seq[(String, Double)]): Unit =
    rows.toDF("src", "len").coalesce(1).write.mode("append").parquet(dir)

  private def run(dir: String, refN: Long, threshold: Double) = {
    val out = StreamingDrift.monitor(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
      keyCol = "src", valueCol = "len",
      nBuckets = 4, bucketWidth = 100.0, refN = refN, threshold = threshold)
    val name = s"drift_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).as[StreamingDrift.DriftReport].collect().toSeq
  }

  test("stable source scores ~0, shifted source alerts, TVD is exact") {
    val dir = tmpDir("drift")
    // batch 1: reference for both sources — 4 low + 4 high values each
    val ref = Seq.fill(4)(50.0) ++ Seq.fill(4)(350.0)
    writeBatch(dir, ref.map("stable" -> _) ++ ref.map("shifty" -> _))
    // batch 2: stable repeats the reference shape; shifty collapses to
    // one bucket → TVD hand-computed: ref shares (.5, 0, 0, .5) vs
    // (1, 0, 0, 0) → (|1-.5| + .5)/2 = 0.5
    writeBatch(dir, ref.map("stable" -> _) ++ Seq.fill(8)("shifty" -> 10.0))

    val reports = run(dir, refN = 8, threshold = 0.2)
    val stable = reports.filter(_.key == "stable")
    val shifty = reports.filter(_.key == "shifty")
    assert(stable.nonEmpty && shifty.nonEmpty)
    assert(stable.forall(r => r.tvd == 0.0 && !r.alert),
      s"stable source must not drift: $stable")
    assert(shifty.forall(r => r.tvd == 0.5 && r.alert),
      s"shifted source must alert at TVD 0.5: $shifty")
    assert(reports.forall(_.n == 8), "each report covers its batch's rows")
  }

  test("no report until the reference is frozen") {
    val dir = tmpDir("drift2")
    writeBatch(dir, Seq.fill(4)("s" -> 50.0)) // refN=8 → still building
    val reports = run(dir, refN = 8, threshold = 0.2)
    assert(reports.isEmpty, "reference still building — nothing to score")
  }

  test("a batch that both completes the reference and overflows scores only the overflow") {
    val dir = tmpDir("drift3")
    // one batch of 12: first 8 (sorted fold order) build the reference,
    // the remaining 4 are scored against it
    writeBatch(dir, Seq.fill(12)("s" -> 50.0))
    val reports = run(dir, refN = 8, threshold = 0.2)
    assert(reports.length == 1)
    assert(reports.head.n == 4 && reports.head.tvd == 0.0 && !reports.head.alert)
  }
}
