package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Iterative BPE merge training (Sennrich, Haddow & Birch 2016,
  * arXiv:1508.07909) — the full loop whose FIRST step q142 gates through
  * the driver oracle: start from the corpus word-frequency DICTIONARY
  * (never the corpus — the Sennrich scale shape: after one corpus pass,
  * every iteration is dictionary-sized), represent each word as a symbol
  * sequence (initially characters), and repeatedly (a) count adjacent
  * symbol pairs weighted by word frequency, (b) merge the most frequent
  * pair everywhere (ties break lexicographically, so training is
  * DETERMINISTIC), until `nMerges` merges are learned.
  *
  * Scale shape: the corpus is touched once ([[wordDict]]'s one explode +
  * one (word) shuffle); each merge round is a flatMap + one small shuffle
  * over the vocab-sized dictionary plus a single-row argmax collect, and
  * the dictionary re-caches per round with its lineage cut (an iterative
  * operator must not accrete a 2·N-deep plan — the ConnectedComponents
  * discipline). [[encode]] applies the learned merges to any word,
  * driver-side or in executors.
  *
  * Laws (BpeTrainerSpec): determinism; merge #1 equals q142's oracle-
  * gated top pair; symbols always concatenate back to the word
  * (losslessness); vocab grows by at most one new symbol per merge;
  * re-encoding the training words with the learned merge list reproduces
  * the trainer's final segmentation exactly.
  */
object BpeTrainer {

  final case class BpeModel(merges: Seq[(String, String)]) {
    /** Apply the merge list, in learned order, to one word. */
    def encode(word: String): Seq[String] = {
      var syms = word.map(_.toString)
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.Buffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toIndexedSeq
      }
      syms
    }
  }

  /** The corpus word dictionary under q142's law: lowercase whitespace
    * tokens, alphabetic, length >= 2, with frequencies. One corpus pass.
    */
  def wordDict(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .where(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** A learned merge with its selection-time pair count. */
  final case class Merge(mergeNo: Int, a: String, b: String, count: Long)

  /** Learn `nMerges` merges from a (w, n) dictionary. Stops early when no
    * adjacent pair remains (fully merged vocabulary).
    */
  def train(dict: DataFrame, nMerges: Int): BpeModel =
    BpeModel(trainLog(dict, nMerges).map(m => (m.a, m.b)))

  /** [[train]], returning the full merge log (pair counts included) —
    * the table q171 gates through the driver oracle.
    */
  def trainLog(dict: DataFrame, nMerges: Int): Seq[Merge] = {
    val spark = dict.sparkSession
    import spark.implicits._
    val merges = scala.collection.mutable.Buffer.empty[Merge]
    val d: Dataset[(Seq[String], Long)] = dict
      .select(col("w"), col("n"))
      .as[(String, Long)]
      .map { case (w, n) => (w.map(_.toString): Seq[String], n) }
    var cached = d.cache()
    cached.count() // materialize round 0
    for (round <- 1 to nMerges) {
      val best = cached.flatMap { case (syms, n) =>
        syms.iterator.zip(syms.iterator.drop(1)).map(p => (p._1, p._2, n))
      }.toDF("a", "b", "n")
        .groupBy($"a", $"b").agg(sum($"n").as("cnt"))
        .orderBy($"cnt".desc, $"a".asc, $"b".asc)
        .limit(1).collect()
      if (best.nonEmpty) {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(round, a, b, best(0).getLong(2))
        val prev = cached
        val merged = prev.map { case (syms, n) =>
          val out = scala.collection.mutable.Buffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toSeq, n)
        }
        // cut lineage every round: an N-merge train must not carry an
        // N-deep map chain into round N+1 (the CC checkpoint discipline)
        cached = merged.localCheckpoint(eager = true).cache()
        cached.count()
        prev.unpersist(blocking = false)
      }
    }
    cached.unpersist(blocking = false)
    merges.toSeq
  }

  /** The trainer's final segmentation of the dictionary — exposed so the
    * encode-equals-train law is checkable from outside.
    */
  def segment(dict: DataFrame, model: BpeModel): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    dict.select(col("w"), col("n")).as[(String, Long)]
      .map { case (w, n) => (w, model.encode(w), n) }
      .toDF("w", "symbols", "n")
  }
}
