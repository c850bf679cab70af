package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingAsOfEnrich

/** The streaming as-of law: for every left row the watermark has passed,
  * the streaming enrichment emits EXACTLY what the batch
  * [[graft.plans.AsOf]] operator computes on the same data — including
  * out-of-order arrivals inside the watermark delay — with state bounded
  * by the in-flight window plus one compacted right per key.
  */
class StreamingAsOfEnrichSpec extends SparkSpec {

  private def writeBatch(dir: String, rows: Seq[(String, Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "ms", "p")
      .selectExpr("k", "timestamp_millis(ms) AS ts", "p")
      .repartition(1)
      .write.mode("append").parquet(dir)
  }

  private def drain(ldir: String, rdir: String, ckpt: String,
      strict: Boolean): Seq[StreamingAsOfEnrich.Enriched] = {
    val out = scala.collection.mutable.Buffer.empty[StreamingAsOfEnrich.Enriched]
    def src(dir: String) = spark.readStream
      .schema("k STRING, ts TIMESTAMP, p STRING").parquet(dir)
      .withWatermark("ts", "2 seconds")
    val q = StreamingAsOfEnrich.enrich(src(ldir), src(rdir), "k", "ts", "p", strict)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingAsOfEnrich.Enriched], _: Long) =>
        out.synchronized { out ++= b.collect() }; ()
      }
      .start()
    q.awaitTermination()
    out.toSeq
  }

  /** The batch oracle over the same rows, sentinel key excluded. */
  private def batchLaw(lrows: Seq[(String, Long, String)],
      rrows: Seq[(String, Long, String)], strict: Boolean): Set[(String, Long, String, Option[Long], Option[String])] = {
    import spark.implicits._
    def df(rows: Seq[(String, Long, String)], pre: String): DataFrame =
      rows.toDF("k", "ms", "p")
        .selectExpr(s"k AS ${pre}k", s"timestamp_millis(ms) AS ${pre}ts", s"p AS ${pre}p")
    val joined = graft.plans.AsOf.join(
      df(lrows, ""), df(rrows, "r_"),
      key = ("k", "r_k"), time = ("ts", "r_ts"), tie = ("p", "r_p"),
      strict = strict)
    joined.collect().map { r =>
      (r.getAs[String]("k"), r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[String]("p"),
        Option(r.getAs[java.sql.Timestamp]("r_ts")).map(_.getTime),
        Option(r.getAs[String]("r_p")))
    }.filterNot(_._1 == "zz").toSet
  }

  private def got(rows: Seq[StreamingAsOfEnrich.Enriched]): Set[(String, Long, String, Option[Long], Option[String])] =
    rows.map(e => (e.key, e.ts.getTime, e.payload,
      e.matched_ts.map(_.getTime), e.matched_payload)).filterNot(_._1 == "zz").toSet

  test("streaming output equals the batch as-of join, out-of-order included") {
    val ldir = tmpDir("ase-l")
    val rdir = tmpDir("ase-r")
    val ckpt = tmpDir("ase-ck")
    // rights: state changes for users a/b; lefts: facts to enrich.
    val l1 = Seq(("a", 5000L, "fact-a1"), ("b", 6000L, "fact-b1"))
    val r1 = Seq(("a", 1000L, "st-a1"), ("a", 4000L, "st-a2"), ("b", 7000L, "st-b1"))
    writeBatch(ldir, l1)
    writeBatch(rdir, r1)
    drain(ldir, rdir, ckpt, strict = true) // watermark still behind the facts
    // batch 2: a LATE right inside the delay (t=4500 < a's fact at 5000)
    // must still win the match for fact-a1 when it finalizes; plus new
    // facts, one with no prior state (c)
    val l2 = Seq(("a", 9000L, "fact-a2"), ("c", 9000L, "fact-c1"))
    val r2 = Seq(("a", 4500L, "st-a3"))
    writeBatch(ldir, l2)
    writeBatch(rdir, r2)
    drain(ldir, rdir, ckpt, strict = true)
    // batch 3: sentinels push the watermark (12s - 2s) past every fact
    val lz = Seq(("zz", 30000L, "zz"))
    val rz = Seq(("zz", 30000L, "zz"))
    writeBatch(ldir, lz)
    writeBatch(rdir, rz)
    val emitted = drain(ldir, rdir, ckpt, strict = true)
    val want = batchLaw(l1 ++ l2 ++ lz, r1 ++ r2 ++ rz, strict = true)
    assert(got(emitted) == want,
      s"streaming != batch:\n got ${got(emitted)}\nwant $want")
    // spot-check the interesting rows: late st-a3 wins fact-a1;
    // b's only state is AFTER its fact (null); c never had state
    val byFact = got(emitted).map(t => t._3 -> t._5).toMap
    assert(byFact("fact-a1") == Some("st-a3"))
    assert(byFact("fact-b1") == None)
    assert(byFact("fact-c1") == None)
    assert(byFact("fact-a2") == Some("st-a3"))
  }

  test("strict vs non-strict at a shared timestamp match the batch law") {
    val ldir = tmpDir("ase2-l")
    val rdir = tmpDir("ase2-r")
    // identical (time, tie) pair on both sides: the ONLY case where
    // strict and non-strict diverge under the pairwise law
    val l1 = Seq(("k", 5000L, "fact"))
    val r1 = Seq(("k", 5000L, "fact"), ("k", 2000L, "earlier"))
    val lz = Seq(("zz", 30000L, "zz"))
    val rz = Seq(("zz", 30000L, "zz"))
    for (strict <- Seq(true, false)) {
      val ckpt = tmpDir(s"ase2-ck-$strict")
      val (ld, rd) = (s"$ldir/$strict", s"$rdir/$strict")
      writeBatch(ld, l1); writeBatch(rd, r1)
      drain(ld, rd, ckpt, strict)
      writeBatch(ld, lz); writeBatch(rd, rz)
      val emitted = drain(ld, rd, ckpt, strict)
      assert(got(emitted) == batchLaw(l1 ++ lz, r1 ++ rz, strict),
        s"strict=$strict diverged from batch")
      val m = got(emitted).head._5
      assert(m == Some(if (strict) "earlier" else "fact"))
    }
  }

  test("a quiet key's pending fact still flushes via the event-time timeout") {
    val ldir = tmpDir("ase3-l")
    val rdir = tmpDir("ase3-r")
    val ckpt = tmpDir("ase3-ck")
    writeBatch(ldir, Seq(("solo", 5000L, "fact")))
    writeBatch(rdir, Seq(("solo", 1000L, "st")))
    drain(ldir, rdir, ckpt, strict = true)
    // watermark moves ONLY on another key; solo's group sees no new rows,
    // so only the armed timeout can finalize its facts
    writeBatch(ldir, Seq(("zz", 30000L, "zz")))
    writeBatch(rdir, Seq(("zz", 30000L, "zz")))
    val emitted = drain(ldir, rdir, ckpt, strict = true)
    val solo = got(emitted).filter(_._1 == "solo")
    assert(solo.nonEmpty, "pending facts must flush on timeout")
    assert(solo.forall(_._5 == Some("st")))
  }
}
