package graft

import org.apache.spark.sql.functions._

import graft.operators.BpeTrainer

/** Laws of the iterative BPE trainer:
  *
  *   1. DETERMINISM — two trainings on the same dictionary learn the same
  *      merge list (ties break lexicographically);
  *   2. FIRST MERGE — equals the most frequent adjacent pair of the raw
  *      dictionary (the quantity q142 gates through the driver oracle);
  *   3. LOSSLESSNESS — every word's symbols concatenate back to the word
  *      after any number of merges;
  *   4. VOCAB GROWTH — each merge adds at most one new symbol type, and
  *      the merged symbol is the concatenation of its parts;
  *   5. ENCODE == TRAIN — applying the learned merges afresh reproduces
  *      the trainer's internal final segmentation;
  *   6. COMPRESSION — total symbol count never increases with merges.
  */
class BpeTrainerSpec extends SparkSpec {

  import spark.implicits._

  private def dict() = BpeTrainer.wordDict(
    graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"), "text")
    .cache()

  test("deterministic merges; first merge is the q142 top pair") {
    val d = dict()
    val m1 = BpeTrainer.train(d, 6)
    val m2 = BpeTrainer.train(d, 6)
    assert(m1.merges == m2.merges, "training is deterministic")
    assert(m1.merges.size == 6)
    // q142's law: most frequent adjacent CHARACTER pair of the dictionary
    val top = d.as[(String, Long)]
      .flatMap { case (w, n) => w.sliding(2).map(p => (p, n)) }
      .toDF("pair", "n").groupBy($"pair").agg(sum($"n").as("cnt"))
      .orderBy($"cnt".desc, $"pair".asc).limit(1)
      .collect()(0).getString(0)
    assert(m1.merges.head._1 + m1.merges.head._2 == top,
      s"first merge ${m1.merges.head} must be the corpus top pair $top")
  }

  test("lossless, bounded vocab growth, encode reproduces training state") {
    val d = dict()
    val model = BpeTrainer.train(d, 8)
    val seg = BpeTrainer.segment(d, model).cache()
    // 3: concatenation reproduces the word
    assert(seg.where(concat_ws("", $"symbols") =!= $"w").count() == 0)
    // 4: the symbol universe is chars + prefixes of the merge list, each
    // merge's output the concat of its parts
    val allowed = ('a' to 'z').map(_.toString).toSet ++
      model.merges.map { case (a, b) => a + b }
    val used = seg.select(explode($"symbols").as("s"))
      .distinct().as[String].collect().toSet
    assert(used.subsetOf(allowed), s"unexpected symbols: ${used -- allowed}")
    // 5: encode == the incremental training state, word for word
    val reEnc = d.as[(String, Long)].collect().map { case (w, _) =>
      w -> model.encode(w)
    }.toMap
    seg.as[(String, Seq[String], Long)].collect().foreach { case (w, syms, _) =>
      assert(syms == reEnc(w), s"segmentation mismatch for $w")
    }
    // 6: merges only ever shrink the total symbol count
    val n0 = d.as[(String, Long)].collect().map { case (w, n) => w.length * n }.sum
    val nF = seg.as[(String, Seq[String], Long)].collect()
      .map { case (_, s, n) => s.size * n }.sum
    assert(nF <= n0, "total symbol mass never grows")
    graft.operators.ResultMemo.release(spark)
  }
}
