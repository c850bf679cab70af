package graft

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingAnomaly

/** Laws for the prequential streaming anomaly detector: spike detection
  * after warm-up, cold-start suppression, state survival across restart,
  * and batching-invariance (one feed, two different batch splits, same
  * emissions).
  */
class StreamingAnomalySpec extends SparkSpec {

  private def writeBatch(dir: String, rows: Seq[(String, Long, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("key", "ms", "value")
      .selectExpr("key", "timestamp_millis(ms) AS ts", "value")
      .repartition(1)
      .write.mode("append").parquet(dir)
  }

  private def drain(dir: String, ckpt: String): Seq[StreamingAnomaly.Anomaly] = {
    val out = scala.collection.mutable.Buffer.empty[StreamingAnomaly.Anomaly]
    val stream = spark.readStream
      .schema("key STRING, ts TIMESTAMP, value DOUBLE")
      .parquet(dir)
    val q = StreamingAnomaly.detect(stream, "key", "ts", "value",
        threshold = 3.0, minObservations = 5)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingAnomaly.Anomaly], _: Long) =>
        out.synchronized { out ++= b.collect() }; ()
      }
      .start()
    q.awaitTermination()
    out.toSeq
  }

  // 20 warm-up points oscillating 9/10/11 (mean 10, sd ≈ 0.86), then one
  // spike — z ≈ 104, far over any threshold
  private def feed(key: String): Seq[(String, Long, Double)] =
    (0 until 20).map(i => (key, 1000L + i * 1000, 9.0 + i % 3)) :+
      (key, 30000L, 100.0)

  test("detects the spike, suppresses the cold-start window") {
    val dir = tmpDir("anom")
    writeBatch(dir, feed("typeA"))
    val got = drain(dir, tmpDir("anom-ck"))
    assert(got.map(_.value) == Seq(100.0), s"expected exactly the spike, got $got")
    val a = got.head
    assert(a.key == "typeA" && a.nSeen == 20 && a.z > 50)
  }

  test("state survives restart: spike in a LATER batch is judged against history") {
    val dir = tmpDir("anom2")
    val ckpt = tmpDir("anom2-ck")
    val all = feed("typeB")
    writeBatch(dir, all.take(20)) // warm-up only
    assert(drain(dir, ckpt).isEmpty)
    writeBatch(dir, all.drop(20)) // the spike arrives after a full restart
    val got = drain(dir, ckpt)
    assert(got.map(_.value) == Seq(100.0))
    assert(got.head.nSeen == 20, "restart must not reset the Welford state")
  }

  test("batching-invariant: split feeds emit the same anomalies as one batch") {
    val oneDir = tmpDir("anom3a")
    writeBatch(oneDir, feed("typeC"))
    val one = drain(oneDir, tmpDir("anom3a-ck"))

    val splitDir = tmpDir("anom3b")
    val ckpt = tmpDir("anom3b-ck")
    feed("typeC").grouped(7).foreach { g =>
      writeBatch(splitDir, g)
    }
    // files land as separate micro-batch inputs but AvailableNow may still
    // group them; either way the emissions must match the single-batch run
    val split = drain(splitDir, ckpt)
    assert(split.map(a => (a.key, a.value, a.nSeen)) ==
      one.map(a => (a.key, a.value, a.nSeen)))
  }
}
