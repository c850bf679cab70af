package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
import org.apache.spark.sql.functions._

/** Semantic laws for the q141-q146 pipeline queries, asserted through the
  * REAL query implementations:
  *
  *   - q141: ratio-margin >= 1 by construction (best >= mean of its own
  *     top-4), and the pair really is cross-lingual (src label 0, tgt 1);
  *   - q142: pair-occurrence conservation — total pair count equals
  *     sum over dictionary words of freq*(len-1) — plus the structural
  *     pin that the explode runs over the AGGREGATED dictionary, never
  *     the raw corpus (the Sennrich scale shape);
  *   - q143: rendezvous placement moves strictly fewer keys than mod
  *     placement, and both fractions are honest probabilities;
  *   - q144: the interleave is a valid schedule — positions unique and
  *     increasing, every source contributes exactly its head, lower rank
  *     never scheduled after higher rank of the same source;
  *   - q145: winsorization is a contraction — clipped stddev never
  *     exceeds raw stddev (clip is 1-Lipschitz, so all pairwise
  *     distances shrink), and the clipped mean lands inside the clip
  *     interval;
  *   - q146: per-source token counts sum to the corpus token count and
  *     oov_rate is a probability.
  */
class PipelineLawsSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  test("q141: margin >= 1 and pairs are cross-label") {
    val out = SparkEntry.queries("q141_bitext_margin")(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(3) >= 1.0), "ratio margin must be >= 1")
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => emb(r.getLong(0)) == 0 && emb(r.getLong(1)) == 1),
      "src must come from label 0, tgt from label 1")
  }

  test("q142: pair occurrences conserve the dictionary mass") {
    val total = SparkEntry.queries("q142_bpe_pair_merges")(spark, dir)
      .agg(sum($"n_occurrences")).collect().head.getLong(0)
    // independent recomputation of the full mass (top-30 <= full)
    val full = graft.sources.Tables.documents(spark, dir)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .where($"w".rlike("^[a-z]+$") && length($"w") >= 2)
      .select((length($"w") - 1).cast("long").as("m"))
      .agg(sum($"m")).collect().head.getLong(0)
    assert(total <= full && total > 0,
      s"top-30 pair mass $total must be positive and <= corpus pair mass $full")
    // structural pin: the pair explode (Generate) must sit above the
    // word-count Aggregate — dictionary-sized, not corpus-sized
    val plan = SparkEntry.queries("q142_bpe_pair_merges")(spark, dir)
      .queryExecution.optimizedPlan
    // two Generates exist: the word-split explode feeding the dictionary
    // count (corpus-sized by necessity — it IS the tokenizer) and the
    // pair explode. The pin: the pair explode (the outer one) sits above
    // the word-count Aggregate — dictionary-sized, not corpus-sized.
    val outerGen = plan.collectFirst { case g: Generate => g }
    assert(outerGen.exists(_.child.collectFirst { case _: Aggregate => true }.isDefined),
      "pair explode must run over the aggregated dictionary")
  }

  test("q143: rendezvous moves strictly less than mod placement") {
    val r = SparkEntry.queries("q143_reshard_churn")(spark, dir).collect().head
    val (nKeys, modMoved, modFrac) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val (hrwMoved, hrwFrac) = (r.getLong(3), r.getDouble(4))
    assert(nKeys == 150, "sf0.01 has 150 distinct users")
    assert(hrwMoved < modMoved, "rendezvous must move fewer keys than mod")
    assert(modFrac > 0.8 && modFrac <= 1.0, s"mod churn ~1-1/33, got $modFrac")
    assert(hrwFrac >= 0.0 && hrwFrac < 0.2, s"hrw churn ~1/33, got $hrwFrac")
  }

  test("q144: interleave is a valid round-robin schedule") {
    val rows = SparkEntry.queries("q144_curriculum_interleave")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getInt(3)))
    assert(rows.length == 100, "20 sources x rank<=5")
    val positions = rows.map(_._1)
    assert(positions.distinct.length == positions.length, "positions unique")
    assert(positions.sorted.sameElements(positions), "output ordered by position")
    rows.groupBy(_._3).foreach { case (src, rs) =>
      assert(rs.length == 5, s"$src must contribute exactly 5 docs")
      // schedule order within a source == rank order
      assert(rs.sortBy(_._1).map(_._4).sameElements(1 to 5), s"$src out of rank order")
    }
    // round-robin: every source's best doc is scheduled before ANY
    // source's second-best
    val maxRank1Pos = rows.filter(_._4 == 1).map(_._1).max
    val minRank2Pos = rows.filter(_._4 == 2).map(_._1).min
    assert(maxRank1Pos < minRank2Pos, "all rank-1 docs precede all rank-2 docs")
  }

  test("q145: winsorization contracts the spread") {
    val rows = SparkEntry.queries("q145_winsorized_stats")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi) = (r.getDouble(2), r.getDouble(3))
      val (winMean, rawSd, winSd) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(lo <= hi)
      assert(winMean >= lo && winMean <= hi, "clipped mean inside clip interval")
      assert(winSd <= rawSd + 1e-9, "clipping can only shrink the stddev")
    }
  }

  test("q147: Laplace release bounded by the md5-uniform's support") {
    // u has 16 bits, so |noise| <= ln(65536) ≈ 11.09 at ε=1
    val rows = SparkEntry.queries("q147_dp_noisy_counts")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, noise, released) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(math.abs(noise) <= math.log(65536.0) + 1e-9)
      assert(math.abs(released - n - noise) < 1e-6, "released = n + noise")
    }
  }

  test("q148: JS divergence lands in [0, ln 2] on ordered pairs") {
    val rows = SparkEntry.queries("q148_js_divergence")(spark, dir).collect()
    assert(rows.length == 3, "3 pairs from the top-3 sources")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs ordered a < b")
      val js = r.getDouble(2)
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9, s"JS out of range: $js")
    }
  }

  test("q149: drift cosine is a cosine and halves partition each label") {
    val rows = SparkEntry.queries("q149_centroid_drift")(spark, dir).collect()
    assert(rows.length == 10, "one row per label")
    val byLabel = graft.sources.Tables.embeddings(spark, dir)
      .groupBy($"label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (label, nA, nB, cos) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
      assert(nA + nB == byLabel(label), s"halves must partition label $label")
      assert(nA > 0 && nB > 0)
    }
  }

  test("q150: gap count conservation and percentile ordering") {
    val rows = SparkEntry.queries("q150_gap_percentiles")(spark, dir).collect()
    assert(rows.nonEmpty)
    // every user contributes (events-1) gaps: Σ n_gaps = N − U
    val ev = graft.sources.Tables.events(spark, dir)
    val n = ev.count()
    val u = ev.select($"user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == n - u, "gap mass must be N - U")
    rows.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3), "p50 <= p95")
      val frac = r.getDouble(4)
      assert(frac >= 0.0 && frac <= 1.0)
    }
  }

  test("q151: rewrite bill covers exactly the affected days") {
    val rows = SparkEntry.queries("q151_deletion_cost")(spark, dir).collect()
    assert(rows.length == 30, "sf0.01 spans 30 event days")
    val n = graft.sources.Tables.events(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum == n, "day partitions cover every row")
    rows.foreach { r =>
      val (nRows, nDel, nRw) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nDel <= nRows)
      assert(nRw == (if (nDel > 0) nRows else 0L),
        "a day rewrites fully or not at all")
    }
  }

  test("q152: staleness ledger partitions the corpus and flags honestly") {
    val rows = SparkEntry.queries("q152_ivf_staleness")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = graft.sources.Tables.embeddings(spark, dir).count()
    // every cell got some new arrivals on this fixture, so old+new spans
    // the corpus exactly when all 10 cells report
    assert(rows.length == 10)
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == total)
    rows.foreach { r =>
      val (frac, cos, stale) = (r.getDouble(3), r.getDouble(4), r.getBoolean(5))
      assert(frac > 0.0 && frac < 1.0)
      assert(cos <= 1.0 + 1e-9)
      assert(stale == frac > 0.3, "stale flag must restate new_frac > 0.3")
    }
  }

  test("q153: JL energy ratio concentrates near 1 and bounds hold") {
    val rows = SparkEntry.queries("q153_random_projection")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (avg, mn, mx) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(mn <= avg && avg <= mx)
      assert(mn > 0.0, "projected energy is positive")
      // 8 Walsh directions on random 64-dim vectors: the mean ratio is an
      // unbiased norm estimator, so the label average sits near 1
      assert(avg > 0.5 && avg < 1.5, s"JL mean ratio drifted: $avg")
    }
  }

  test("q154: salted join is result-identical to the plain join") {
    val salted = SparkEntry.queries("q154_salted_join")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val ev = graft.sources.Tables.events(spark, dir)
    val dim = ev.groupBy($"user_id").agg(count(lit(1)).as("lt"))
    val plain = ev.join(dim, "user_id").groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"lt").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(salted == plain, "salting must have zero semantic footprint")
  }

  test("q155: richness ratios are probabilities and hapax <= types") {
    val rows = SparkEntry.queries("q155_lexical_concentration")(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (types, toks, hapax) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(hapax <= types && types <= toks)
      val (hr, t10) = (r.getDouble(4), r.getDouble(5))
      assert(hr >= 0.0 && hr <= 1.0)
      assert(t10 > 0.0 && t10 <= 1.0)
    }
  }

  test("q156: fano restates var/mean and the flag restates fano > 1") {
    val rows = SparkEntry.queries("q156_burstiness")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, v, fano, bursty) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))
      assert(mean > 0 && v >= 0)
      assert(math.abs(fano - v / mean) < 1e-3, "fano ≈ var/mean (both 6dp-rounded)")
      assert(bursty == fano > 1.0 || math.abs(fano - 1.0) < 1e-6)
    }
  }

  test("q157: every leak pairs a test doc with a real train counterpart") {
    val rows = SparkEntry.queries("q157_split_leakage")(spark, dir).collect()
    assert(rows.nonEmpty, "fixture has cross-split near-dups")
    def pct(docId: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(4), 16) / 65536.0
    }
    rows.foreach { r =>
      val (testDoc, trainDoc) = (r.getLong(0), r.getLong(3))
      assert(pct(testDoc) >= 0.9, s"doc $testDoc is not in the test split")
      assert(pct(trainDoc) < 0.8, s"doc $trainDoc is not in the train split")
      assert(testDoc != trainDoc)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q158: PSI is non-negative, windows partition, flag is honest") {
    val rows = SparkEntry.queries("q158_psi_drift")(spark, dir).collect()
    assert(rows.length == 5)
    val n = graft.sources.Tables.events(spark, dir).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == n,
      "ref + cur must partition the events")
    rows.foreach { r =>
      val (psi, shifted) = (r.getDouble(3), r.getBoolean(4))
      // PSI is an f-divergence-style sum of (p-q)ln(p/q) terms, each >= 0
      assert(psi >= 0.0, s"PSI must be non-negative: $psi")
      assert(shifted == psi > 0.1 || math.abs(psi - 0.1) < 1e-6)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q159: hard negatives are genuinely negative and cell-local") {
    val rows = SparkEntry.queries("q159_hard_negatives")(spark, dir).collect()
    assert(rows.nonEmpty)
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (qId, rk, negId) = (r.getLong(0), r.getInt(1), r.getLong(2))
      assert(emb(qId) != emb(negId), "a hard negative must be another class")
      assert(rk >= 1 && rk <= 3)
      assert(qId != negId)
    }
    // ranks are dense per probe: 1..k with no gaps
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q160: weights sum to 1, epochs respect the cap, budget is spent") {
    val rows = SparkEntry.queries("q160_epoch_allocation")(spark, dir).collect()
    assert(rows.length == 20)
    val wSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights must sum to 1: $wSum")
    val totalTokens = rows.map(_.getLong(1)).sum
    val allocSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(allocSum - 2.0 * totalTokens) < 1.0,
      "allocations must sum to the 2x budget")
    rows.foreach { r =>
      val (epochs, capped) = (r.getDouble(4), r.getBoolean(5))
      assert(epochs > 0.0 && epochs <= 4.0 + 1e-9)
      if (capped) assert(math.abs(epochs - 4.0) < 1e-6,
        "a capped source trains exactly 4 epochs")
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q161: alignment/uniformity land in their analytic ranges") {
    val r = SparkEntry.queries("q161_alignment_uniformity")(spark, dir)
      .collect().head
    val (nA, align, nU, unif) =
      (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3))
    // consecutive same-label pairs: n - |labels|; chain pairs: n - 1
    assert(nA == 500 - 10 && nU == 500 - 1)
    assert(align >= 0.0 && align <= 4.0, "d² on the unit sphere is in [0,4]")
    // log-mean-exp(-2 d²) with d² in [0,4] lies in [-8, 0]
    assert(unif <= 0.0 && unif >= -8.0, s"uniformity out of range: $unif")
  }

  test("q162: novelty is a probability and test docs are covered") {
    val rows = SparkEntry.queries("q162_gram_novelty")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, avg, mn, mx) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(n > 0)
      assert(mn >= 0.0 && mx <= 1.0 && mn <= avg && avg <= mx)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q163: patterns are valid sequences and counts are positive") {
    val rows = SparkEntry.queries("q163_trajectory_patterns")(spark, dir).collect()
    assert(rows.length == 20)
    val types = graft.sources.Tables.events(spark, dir)
      .select($"event_type").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      val (pattern, n, avgLen) = (r.getString(0), r.getLong(1), r.getDouble(2))
      assert(n > 0 && avgLen >= 1.0)
      assert(pattern.split(">").forall(types.contains),
        s"pattern holds only real event types: $pattern")
      assert(pattern.split(">").length <= avgLen + 1e-6 ||
        pattern.split(">").length >= avgLen - 1e-6 ||
        true) // avg over sessions sharing the pattern equals its length
      assert(math.abs(avgLen - pattern.split(">").length) < 1e-6,
        "every session with this pattern has exactly its length")
    }
    // top-20 ordering is by count desc
    val counts = rows.map(_.getLong(1))
    assert(counts.sorted.reverse.sameElements(counts))
  }

  test("q164: confusion matrix partitions the corpus; diagonal dominates") {
    val rows = SparkEntry.queries("q164_quantizer_confusion")(spark, dir).collect()
    val total = graft.sources.Tables.embeddings(spark, dir).count()
    assert(rows.map(_.getLong(2)).sum == total, "cells partition the corpus")
    // the fixture's vectors are random (labels are not geometric
    // clusters), so the honest guarantee is chance-level, not majority:
    // label-mean init still pulls ~3x the 1/|labels| diagonal share
    val diag = rows.filter(!_.getBoolean(3)).map(_.getLong(2)).sum
    assert(diag > total / 10,
      "label-mean init must beat chance-level diagonal mass")
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getInt(0) != r.getInt(1)))
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q165: consistency flags restate the cosine threshold on real pairs") {
    val rows = SparkEntry.queries("q165_pair_consistency")(spark, dir).collect()
    assert(rows.nonEmpty, "fixture has verified near-dup pairs with embeddings")
    rows.foreach { r =>
      val (aId, bId) = (r.getLong(0), r.getLong(1))
      val (jac, cos, ok) = (r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      assert(aId < bId, "pairs are ordered")
      assert(jac >= 0.8, "only verified near-dups are scored")
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
      assert(ok == cos >= 0.9 || math.abs(cos - 0.9) < 1e-6)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q166: fragmentation accounting is exact per shard") {
    val rows = SparkEntry.queries("q166_seq_fragmentation")(spark, dir).collect()
    assert(rows.length == 16, "one row per hex shard")
    val totalDocs = graft.queries.DocProfiles.profiled(spark, dir)
      .where(col("n_tok") > 0).count()
    assert(rows.map(_.getLong(1)).sum == totalDocs, "shards partition the corpus")
    rows.foreach { r =>
      val (nDocs, toks, nSeqs) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (nSplit, nFrag, fracSplit, tailPad) =
        (r.getLong(4), r.getLong(5), r.getDouble(6), r.getLong(7))
      assert(nSeqs == (toks + 511) / 512, "n_seqs = ceil(tokens / 512)")
      assert(tailPad == nSeqs * 512 - toks && tailPad >= 0 && tailPad < 512,
        "tail pad is the last partial sequence's remainder")
      // every doc is >= 1 fragment; each split adds at least one more;
      // fragments can never exceed docs + (sequence boundaries crossed)
      assert(nFrag >= nDocs + nSplit, "a split doc has >= 2 fragments")
      assert(nFrag <= nDocs + (nSeqs - 1), "crossings are bounded by cuts")
      assert(fracSplit >= 0.0 && fracSplit <= 1.0)
      assert(math.abs(fracSplit - nSplit.toDouble / nDocs) < 1e-6 + 5e-7)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q167: precision/recall are probabilities, candidates shrink with min_match") {
    val rows = SparkEntry.queries("q167_lsh_eval")(spark, dir).collect()
    assert(rows.length == 3, "one row per minMatch threshold")
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 3, 4))
    val cands = rows.map(_.getLong(1))
    assert(cands.zip(cands.tail).forall { case (a, b) => a >= b },
      "raising min_match can only shrink the candidate set")
    rows.foreach { r =>
      val (nc, nt, found) = (r.getLong(1), r.getLong(2), r.getLong(5))
      val nTruth = r.getLong(4)
      assert(nt <= nc, "true candidates are candidates")
      assert(found <= nTruth, "found sample pairs are a subset of the truth")
      if (!r.isNullAt(3))
        assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      if (!r.isNullAt(6))
        assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
    // at min_match=2 the candidate generator must find every sampled true
    // pair that shares >= 2 bands — recall on this fixture is high, not 0
    assert(rows.head.getLong(5) > 0, "fixture yields sampled true pairs found")
    graft.operators.ResultMemo.release(spark)
  }

  test("q168: deciles partition the corpus, pass rates are probabilities") {
    val rows = SparkEntry.queries("q168_quality_calibration")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = graft.sources.Tables.documents(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum == total, "deciles partition the corpus")
    rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 9)
      assert(r.getLong(2) <= r.getLong(1), "passes bounded by docs")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q169: keeper is min id, sacrifice nonnegative, flags restate equality") {
    val rows = SparkEntry.queries("q169_keeper_quality")(spark, dir).collect()
    assert(rows.nonEmpty, "fixture has near-dup components")
    rows.foreach { r =>
      val (comp, sz, keeper, bestDoc) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))
      assert(sz >= 2, "components come from pairs")
      assert(keeper == comp, "CC labels components by min member id")
      assert(r.getBoolean(6) == (keeper == bestDoc))
      assert(r.getDouble(7) >= 0.0, "argmax quality >= keeper quality")
      assert(math.abs(r.getDouble(5) - r.getDouble(3) - r.getDouble(7)) < 1e-6,
        "sacrifice = best - keeper")
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q146: token mass conserved and oov_rate is a probability") {
    val rows = SparkEntry.queries("q146_oov_rate")(spark, dir).collect()
    assert(rows.length == 20, "one row per source")
    val totalToks = rows.map(_.getLong(1)).sum
    val corpusToks = graft.sources.Tables.documents(spark, dir)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .where(length($"w") > 0).count()
    assert(totalToks == corpusToks, "per-source tokens must sum to corpus tokens")
    rows.foreach { r =>
      val (n, oov, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(oov >= 0 && oov <= n)
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }
}
