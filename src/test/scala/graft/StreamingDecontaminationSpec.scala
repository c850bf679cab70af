package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingDecontamination

/** Laws of the streaming decontamination gate:
  *
  *   1. SPLIT COMPLETENESS — certainClean ∪ suspects = the input, disjoint;
  *   2. CLEAN-PATH SOUNDNESS — no certainClean doc shares a gram with the
  *      test set (Bloom's no-false-negative guarantee, asserted exactly);
  *   3. END-TO-END EQUALITY — certainClean ∪ settle(suspects) equals the
  *      one-shot batch law (docs sharing no 5-gram with the test set);
  *   4. BATCHING INVARIANCE — the same verdicts in one wave or three;
  *   5. the fast path dominates: suspects ≪ corpus on a disjoint fixture.
  */
class StreamingDecontaminationSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Train candidates = pct < 0.8 docs; test grams = the pct >= 0.9 set
    * (the q56/q71 split law), PLUS planted contamination: copies of test
    * docs re-labeled as arrivals.
    */
  private def fixture(): (DataFrame, DataFrame) = {
    val prof = graft.queries.DocProfiles.profiled(spark, dir)
      .select($"doc_id", $"pct", $"text")
    val testGrams = graft.queries.DocProfiles.testGrams(spark, dir)
    val arrivals = prof.where($"pct" < 0.8).select($"doc_id", $"text")
      .unionAll(prof.where($"pct" >= 0.9).limit(5)
        .select(($"doc_id" + 5000L).as("doc_id"), $"text"))
    (arrivals.cache(), testGrams)
  }

  private def drainFlag(slices: Seq[String], ckpt: String,
      bloom: Array[Byte]): Seq[(Long, Boolean)] = {
    val out = scala.collection.mutable.Buffer.empty[(Long, Boolean)]
    val stage = tmpDir("sdc-stage")
    slices.foreach { s =>
      spark.read.parquet(s).write.mode("append").parquet(stage)
      val src = spark.readStream.schema("doc_id LONG, text STRING").parquet(stage)
      val q = StreamingDecontamination.flag(src, "text", bloom)
        .select($"doc_id", $"suspect")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          out.synchronized {
            out ++= b.collect().map(r => (r.getLong(0), r.getBoolean(1)))
          }; ()
        }
        .start()
      q.awaitTermination()
    }
    out.toSeq
  }

  test("split is complete and sound; settle closes the exact law; invariant to batching") {
    val (arrivals, testGrams) = fixture()
    val bloom = graft.operators.BloomPrefilter.build(testGrams, "gh", 1L << 17)

    val sliceDir = tmpDir("sdc-sl")
    def slice(name: String, df: DataFrame): String = {
      val d = s"$sliceDir/$name"
      df.repartition(1).write.mode("overwrite").parquet(d); d
    }
    val one = Seq(slice("all", arrivals))
    val three = Seq(
      slice("a", arrivals.where($"doc_id" % 3 === 0)),
      slice("b", arrivals.where($"doc_id" % 3 === 1)),
      slice("c", arrivals.where($"doc_id" % 3 === 2)))

    val got1 = drainFlag(one, tmpDir("sdc-ck1"), bloom)
    val got3 = drainFlag(three, tmpDir("sdc-ck3"), bloom)
    // 1+4: complete (every arrival has exactly one verdict), invariant
    assert(got1.map(_._1).sorted == arrivals.select($"doc_id").as[Long].collect().toSeq.sorted)
    assert(got1.toSet == got3.toSet, "verdicts invariant to arrival batching")

    // 2: Bloom-negative docs provably share no gram with the test set
    val flagged = StreamingDecontamination.flag(arrivals, "text", bloom)
    val clean = StreamingDecontamination.certainClean(flagged)
    val trueHitIds = StreamingDecontamination
      .flag(arrivals, "text", bloom) // reuse ghs law
      .select($"doc_id", explode($"ghs").as("gh"))
      .join(testGrams, Seq("gh"), "left_semi")
      .select($"doc_id").distinct().as[Long].collect().toSet
    val cleanIds = clean.select($"doc_id").as[Long].collect().toSet
    assert(cleanIds.intersect(trueHitIds).isEmpty, "no false negatives")

    // 3: end-to-end equality with the one-shot batch law
    val settled = StreamingDecontamination
      .settle(StreamingDecontamination.suspects(flagged), testGrams)
      .select($"doc_id").as[Long].collect().toSet
    val all = arrivals.select($"doc_id").as[Long].collect().toSet
    assert(cleanIds ++ settled == all -- trueHitIds,
      "clean ∪ settled == exact decontaminated set")
    assert((cleanIds & settled).isEmpty)

    // EMPTY TEST SET law: a null Bloom (BloomPrefilter.build over zero
    // grams) means every doc is provably clean — nothing may be dropped.
    val flaggedEmpty = StreamingDecontamination.flag(arrivals, "text", null)
    assert(StreamingDecontamination.certainClean(flaggedEmpty).count() ==
      arrivals.count(), "null bloom (empty test set) keeps every doc")
    assert(StreamingDecontamination.suspects(flaggedEmpty).count() == 0L)

    // planted copies of test docs must be caught
    val planted = (all.filter(_ >= 5000L))
    assert(planted.nonEmpty && planted.subsetOf(trueHitIds),
      "planted test-doc copies are contaminated by construction")

    // 5: the fast path dominates on the disjoint bulk
    val nSuspect = got1.count(_._2)
    assert(nSuspect < all.size / 2,
      s"suspect residue should be the minority, got $nSuspect/${all.size}")
    graft.operators.ResultMemo.release(spark)
  }
}
