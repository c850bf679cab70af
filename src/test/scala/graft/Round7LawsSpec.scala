package graft

import org.apache.spark.sql.functions._

/** Semantic laws for the round-7 streaming gate queries (q178-q180),
  * asserted through the REAL query builders (which run their streaming
  * drains — memoized per session, so each drain executes once here).
  * The deep batch-equivalence proofs live in StreamingNearDupSpec /
  * StreamingDecontaminationSpec / StreamingQuantileSpec; these laws pin
  * the gate FIXTURES' semantics:
  *
  *   - q178: hits exist (the planted near-identical copies collide);
  *     every hit's keeper strictly precedes the flagged doc; at least one
  *     planted copy (+100000 ids) reaches the >=2-band quarantine verdict;
  *   - q179: kept is a subset of the arrival id space; the planted
  *     test-doc copies are NOT kept (they share every gram with the test
  *     split); genuine train docs survive;
  *   - q180: exactly |groups|x3 rows; per group the estimates are
  *     monotone p50 <= p95 <= p99 and n equals the group's row count.
  */
class Round7LawsSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  test("q178: keeper precedes doc; planted copies quarantine") {
    val hits = SparkEntry.queries("q178_streaming_neardup_gate")(spark, dir)
      .collect()
    assert(hits.nonEmpty, "planted copies must produce band hits")
    hits.foreach { r =>
      assert(r.getLong(2) < r.getLong(0), "bucket keeper precedes the hit")
    }
    val flagged = graft.streaming.StreamingNearDup.quarantine(
        hits.toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .toDF("doc_id", "band", "first_doc"))
      .select($"doc_id").as[Long].collect().toSet
    assert(flagged.exists(_ >= 100000L),
      s"at least one planted near-identical copy quarantines, got $flagged")
  }

  test("q179: planted test copies dropped, train bulk kept") {
    val kept = SparkEntry.queries("q179_streaming_decontamination_gate")(spark, dir)
      .as[Long].collect().toSet
    assert(kept.nonEmpty, "train bulk must survive decontamination")
    // planted ids are test-doc copies re-keyed +100000: every gram is a
    // test gram, so any planted doc long enough to gram must be dropped
    val plantedKept = kept.filter(_ >= 100000L)
    assert(plantedKept.isEmpty,
      s"planted test-doc copies must not be kept, got $plantedKept")
    // kept ids come from the train split (pct < 0.8)
    val trainIds = graft.queries.DocProfiles.profiled(spark, dir)
      .where($"pct" < 0.8).select($"doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(trainIds))
    graft.operators.ResultMemo.release(spark)
  }

  test("q181: every token yields >= 1 symbol; ledger covers the corpus") {
    val rows = SparkEntry.queries("q181_bpe_fertility")(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, dir)
    assert(rows.map(_.getLong(2)).sum == docs.count(), "n_docs covers the corpus")
    rows.foreach { r =>
      val (ws, bpe, perTok) = (r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(bpe >= ws, "each whitespace token yields at least one BPE symbol")
      assert(perTok >= 1.0 && math.abs(perTok - bpe * 1.0 / ws) < 1e-6)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q182: dedup restores the original per-type counts exactly") {
    val got = SparkEntry.queries("q182_streaming_dedup_gate")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.sources.Tables.events(spark, dir)
      .groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "planted redeliveries collapse to the original log")
  }

  test("q183: kept hashes unique; planted re-publications double their candidate count") {
    val rows = SparkEntry.queries("q183_streaming_curation_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(_._1).distinct.length == rows.length, "one row per kept hash")
    // every passing doc_id < 30 was re-published once → its hash counts 2
    val planted = graft.sources.Tables.documents(spark, dir)
      .where($"doc_id" < 30 &&
        graft.streaming.StreamingCuration.quality($"text") >= 0.5)
      .select(md5($"text".cast("binary"))).as[String].collect().toSet
    assert(planted.nonEmpty)
    val byHash = rows.toMap
    planted.foreach(ch => assert(byHash(ch) == 2L, s"$ch must count original + replant"))
  }

  test("q184: observation window is count-refN; tvd is a distance") {
    val rows = SparkEntry.queries("q184_streaming_drift_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val counts = graft.sources.Tables.events(spark, dir)
      .groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (key, batch, n, tvd, alert) =>
      assert(batch == 0L, "single staged file = single micro-batch")
      assert(n == counts(key) - 100L, "reference freezes the first 100")
      assert(tvd >= 0.0 && tvd <= 1.0)
      assert(alert == (tvd > 0.2))
    }
  }

  test("q185: exact-when-possible — counts exact, err 0, ranks dense") {
    val rows = SparkEntry.queries("q185_streaming_topk_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (grp, g) =>
      val sorted = g.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to sorted.length), s"$grp: dense ranks")
      assert(sorted.toSeq.sliding(2).forall {
        case Seq(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      }, s"$grp: (count desc, item asc) order")
    }
    assert(rows.forall(_._4 == 0L), "no eviction below capacity → err 0")
    // counts are EXACT: spot-check against a direct aggregate
    val exact = graft.sources.Tables.events(spark, dir)
      .groupBy($"event_type".as("grp"), ($"user_id" % 200).cast("string").as("item"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { case (grp, item, c, _, _) => assert(exact((grp, item)) == c) }
  }

  test("q186: anomalies clear the threshold against a warm prefix") {
    val rows = SparkEntry.queries("q186_streaming_anomaly_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, z, nSeen) =>
      assert(math.abs(z) >= 3.0 - 1e-6, "emitted z clears the threshold")
      assert(nSeen >= 5L, "cold-start window suppressed")
    }
  }

  test("q187: pairs bounded by the interval; gaps within one day") {
    val rows = SparkEntry.queries("q187_stream_correlate_gate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.exists(_._2 > 0))
    val dayUs = 24L * 3600 * 1000000
    rows.foreach { case (_, n, sumGap) =>
      assert(n > 0)
      assert(sumGap >= 0L && sumGap <= n * dayUs,
        "every matched purchase is within [view, view + 1 day]")
    }
  }

  test("q188: exactly the provably-silent cohorts fire; deadline = lastSeen + 6h") {
    val rows = SparkEntry.queries("q188_streaming_heartbeat_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
    assert(rows.nonEmpty)
    val sixH = 6L * 3600 * 1000
    rows.foreach { case (_, seen, dl) =>
      assert(dl.getTime == seen.getTime + sixH)
    }
    // the silence law restated: fired iff lastSeen(ms) + 6h < maxTs + 110min
    val lastSeen = graft.sources.Tables.events(spark, dir)
      .groupBy(($"user_id" % 50).cast("string").as("key")).agg(max($"ts").as("m"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
    val wm = lastSeen.values.max + (120L - 10L) * 60 * 1000
    val want = lastSeen.filter { case (_, m) => m + sixH < wm }.keySet
    assert(rows.map(_._1).toSet == want, "fired set equals the silence law")
  }

  test("q189: the sample is exactly the top-20 by the A-ES key") {
    val got = SparkEntry.queries("q189_weighted_sample")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == (1 to 20))
    // independent recomputation of every key; the sampled set must be
    // the argmax-20 under (key desc, doc_id asc)
    val keys = graft.queries.DocProfiles.profiled(spark, dir)
      .select($"doc_id", $"n_tok",
        (conv(substring(md5(concat(lit("aes:"), $"doc_id".cast("string"))
          .cast("binary")), 1, 4), 16, 10).cast("double") / 65536.0).as("u"))
      .collect().map(r => (r.getLong(0), math.pow(r.getDouble(2), 1.0 / r.getInt(1))))
    val want = keys.sortBy { case (id, k) => (-k, id) }.take(20).map(_._1).toSeq
    assert(got.map(_._2).toSeq == want, "A-ES top-20 matches brute force")
    graft.operators.ResultMemo.release(spark)
  }

  test("q190: sketch estimates land near the exact split cardinalities") {
    val rows = SparkEntry.queries("q190_split_overlap_sketch")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val (exTr, exTe, exIn) = (rows("train")._2, rows("test")._2, rows("intersection")._2)
    assert(rows("union")._2 == exTr + exTe - exIn, "exact union by inclusion-exclusion")
    assert(exIn <= math.min(exTr, exTe))
    // m=256 HLL ≈ 6.5% expected error; intersection compounds three
    // estimates — loose but honest bounds
    Seq("train", "test", "union").foreach { m =>
      val (est, exact) = rows(m)
      assert(math.abs(est - exact) / exact < 0.3, s"$m estimate within 30%")
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q191: triplets are labeled correctly and margins restate the cosines") {
    val rows = SparkEntry.queries("q191_triplet_mining")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val labels = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (a, p, n, pc, nc, m) =>
      assert(labels(p) == labels(a), "positive shares the anchor's label")
      assert(labels(n) != labels(a), "negative crosses the label")
      assert(p != a && n != a)
      assert(math.abs(m - (pc - nc)) < 2e-6, "margin restates the cosines")
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q192: flags restate the threshold; probes are the test split") {
    val rows = SparkEntry.queries("q192_semantic_decontamination")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, cos, leaked) =>
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
      assert(leaked == (cos >= 0.4 - 1e-9) || math.abs(cos - 0.4) < 1e-6)
    }
    val pctOf = (id: Long) => {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = h.take(2).map("%02x".format(_)).mkString
      java.lang.Integer.parseInt(hex, 16) / 65536.0
    }
    rows.foreach { case (id, _, _) => assert(pctOf(id) >= 0.9, "probe is test-split") }
    graft.operators.ResultMemo.release(spark)
  }

  test("q193: the funnel's survivor set composes the three stage laws") {
    val kept = SparkEntry.queries("q193_streaming_ingest_funnel")(spark, dir)
      .as[String].collect().toSet
    assert(kept.nonEmpty)
    // stage 2 law: hashes are unique by construction (it's a set)
    // stage 1+3 law: every kept hash is quality-passing and shares no
    // test gram; every planted test-doc copy's hash is absent
    val prof = graft.queries.DocProfiles.profiled(spark, dir)
    val plantedTestCh = prof.where($"pct" >= 0.9).orderBy($"doc_id").limit(5)
      .select(md5($"text".cast("binary"))).as[String].collect().toSet
    assert(kept.intersect(plantedTestCh).isEmpty,
      "contaminated test-doc copies fall at the decontamination stage")
    val lowQualityCh = graft.sources.Tables.documents(spark, dir)
      .where(graft.streaming.StreamingCuration.quality($"text") < 0.5)
      .select(md5($"text".cast("binary"))).as[String].collect().toSet
    assert(kept.intersect(lowQualityCh).isEmpty,
      "sub-threshold docs fall at the quality stage")
    graft.operators.ResultMemo.release(spark)
  }

  test("q194: IR metrics are well-formed and mutually consistent") {
    val rows = SparkEntry.queries("q194_retrieval_eval")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(rows.length == 10, "ten eval queries")
    val validRr = (1 to 10).map(k => math.rint(1.0 / k * 1e6) / 1e6).toSet + 0.0
    rows.foreach { case (_, rr, ndcg, nRel) =>
      assert(validRr.exists(v => math.abs(v - rr) < 1e-6), s"rr $rr is 1/rank or 0")
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9)
      assert(nRel >= 0L && nRel <= 10L)
      assert((rr > 0) == (nRel > 0), "reciprocal rank fires iff a relevant doc is in top-10")
      if (nRel > 0) assert(ndcg > 0.0)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q195: unanswered counts restate the batch anti-join law") {
    val got = SparkEntry.queries("q195_stream_unanswered_gate")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // independent batch recomputation of the timeout law
    val ev = graft.sources.Tables.events(spark, dir)
    val l = ev.where($"event_type" === "view")
      .select(($"user_id" % 100).as("k"), $"ts", $"event_id")
    val r = ev.where($"event_type" === "purchase")
      .select(($"user_id" % 100).as("rk"), $"ts".as("rts"))
    val matched = l.join(r, $"k" === $"rk" && $"rts" >= $"ts" &&
        $"rts" <= $"ts" + expr("interval 1 day"))
      .select($"event_id").distinct()
    val want = l.join(matched, Seq("event_id"), "left_anti")
      .groupBy($"k").count()
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == want, "streamed timeout verdicts equal the batch law")
    graft.operators.ResultMemo.release(spark)
  }

  test("q196: kept mass fits the budget; the marginal bin would exceed it") {
    val rows = SparkEntry.queries("q196_token_budget_curation")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val budget = rows.head._5
    val thr = rows.head._4
    val kept = rows.map(_._3).sum
    assert(kept <= budget, s"whole-bin selection under budget ($kept <= $budget)")
    // adding the marginal bin's mass must cross the budget (threshold law)
    val d = graft.queries.DocProfiles.profiled(spark, dir)
      .select($"lang", $"n_tok", $"sum_len", $"n_stop")
    val score = lit(0.5) * least($"n_tok" * lit(1.0) / 100.0, lit(1.0)) +
      lit(0.3) * ($"n_stop" * lit(1.0) / $"n_tok") +
      lit(0.2) * least(($"sum_len" * lit(1.0) / $"n_tok") / 6.0, lit(1.0))
    val marginalMass = d
      .where(least(floor(score * 100).cast("int"), lit(99)) === thr)
      .agg(coalesce(sum($"n_tok"), lit(0L))).collect()(0).getLong(0)
    assert(kept + marginalMass > budget,
      "the threshold bin is exactly where cumulative mass crosses the budget")
    graft.operators.ResultMemo.release(spark)
  }

  test("q197: cluster-weighted draw is the A-ES argmax over keepers") {
    val rows = SparkEntry.queries("q197_cluster_weighted_sample")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (1 to 10))
    assert(rows.forall(_._3 >= 1L))
    // brute-force: rebuild keepers+sizes, recompute keys, compare top-10
    val comp = SparkEntry.queries("q36_dedup_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySz = comp.groupBy(_._2).map { case (k, g) => (k, g.length.toLong) }
    val inComp = comp.map(_._1).toSet
    val singles = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id").as[Long].collect().filterNot(inComp).map(_ -> 1L)
    def uOf(id: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cws:$id".getBytes("UTF-8"))
      java.lang.Integer.parseInt(h.take(2).map("%02x".format(_)).mkString, 16) / 65536.0
    }
    val want = (bySz.toSeq ++ singles)
      .map { case (id, sz) => (id, sz, math.pow(uOf(id), 1.0 / sz)) }
      .sortBy { case (id, _, k) => (-k, id) }.take(10)
      .map { case (id, sz, _) => (id, sz) }
    assert(rows.map(r => (r._2, r._3)).toSeq == want, "A-ES top-10 matches brute force")
    graft.operators.ResultMemo.release(spark)
  }

  test("q198: each merge can only shrink the corpus token count") {
    val rows = SparkEntry.queries("q198_bpe_merge_ladder")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 <= a._2, "a merge never increases symbol count")
        assert(b._3 <= a._3 + 1e-9 && b._4 >= a._4 - 1e-9,
          "fertility falls, chars-per-token rises, monotonically")
      case _ =>
    }
    // q181 consistency: the K=3 row IS q181's corpus total
    val q181Total = SparkEntry.queries("q181_bpe_fertility")(spark, dir)
      .agg(sum($"total_bpe_tokens")).collect()(0).getLong(0)
    assert(rows.last._2 == q181Total, "ladder K=3 equals the q181 ledger total")
    graft.operators.ResultMemo.release(spark)
  }

  test("q199: the audit catches exactly the planted pathologies") {
    val rows = SparkEntry.queries("q199_embedding_health")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bad = rows.find(_._1 == -1).get
    assert(bad._2 == 2L && bad._3 == 1L && bad._4 == 1L,
      "planted label: one NaN vector caught, one zero-norm vector caught")
    rows.filter(_._1 >= 0).foreach { case (l, _, nf, nz) =>
      assert(nf == 0L && nz == 0L, s"label $l: real corpus is clean")
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q200: the data card's columns are mutually consistent") {
    val rows = SparkEntry.queries("q200_data_card")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, dir)
    assert(rows.map(_._2).sum == docs.count(), "cards cover the corpus")
    rows.foreach { case (lang, n, toks, qp, dup, tr, va, te) =>
      assert(tr + va + te == n, s"$lang: split allocation partitions the docs")
      assert(qp <= n && dup <= n)
      assert(toks > 0)
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q201: delivery respects the type filter; failures dead-letter exactly once") {
    val rows = SparkEntry.queries("q201_delivery_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq("error", "purchase", "view"),
      "only the subscribed types appear, F2's law")
    val ev = graft.sources.Tables.events(spark, dir)
    rows.foreach { case (t, delivered, dead) =>
      val total = ev.where($"event_type" === t).count()
      val failing = ev.where($"event_type" === t && $"event_id" % 100 === 0).count()
      assert(dead == failing, s"$t: every permanently-failing event dead-letters once")
      assert(delivered + dead == total, s"$t: nothing lost, nothing duplicated")
    }
    graft.operators.ResultMemo.release(spark)
  }

  test("q180: monotone quantiles, exact group counts") {
    val rows = SparkEntry.queries("q180_streaming_quantile_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val counts = graft.sources.Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.length == counts.size * 3, "three quantiles per group")
    rows.groupBy(_._1).foreach { case (grp, g) =>
      val byQ = g.map(e => e._2 -> e._3).toMap
      assert(byQ("p50") <= byQ("p95") && byQ("p95") <= byQ("p99"),
        s"$grp: quantile estimates must be monotone")
      g.foreach { e => assert(e._4 == counts(grp), s"$grp: n is the group count") }
    }
  }
}
