package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

/** Semantic laws for the round-8 additions, asserted through the real
  * builders/operators (DuckDB hash parity is the driver's t2 gate; these
  * pin the laws the hashes alone can't localize):
  *
  *   - TableProfiler: exact profile of a hand-built frame covering every
  *     normalization branch (numeric, string-length, timestamp epoch,
  *     date epoch-days, unprofilable array), including an all-null column;
  *   - q219 PPJoin: COMPLETENESS against brute-force all-pairs Jaccard on
  *     the real sf0.001 corpus — the prefix filter must miss nothing and
  *     invent nothing (zero false negatives is the operator's whole claim);
  *   - q222: recall is exact-law-anchored — n_exact sums to q219's row
  *     count and n_found never exceeds n_exact.
  */
class Round8LawsSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("TableProfiler: every normalization branch exact") {
    val df = Seq(
      (1L, "ab", Timestamp.valueOf("1970-01-01 00:00:01.5"),
        Date.valueOf("1970-01-11"), Seq(1, 2)),
      (5L, "abcd", Timestamp.valueOf("1970-01-02 00:00:00"),
        Date.valueOf("1969-12-31"), Seq(3)))
      .toDF("n", "s", "ts", "d", "arr")
      .withColumn("allnull", lit(null).cast("double"))
    val p = graft.operators.TableProfiler.profile(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(p("n") == ((2L, 0L, Some(1.0), Some(5.0))))
    assert(p("s") == ((2L, 0L, Some(2.0), Some(4.0))))
    assert(p("ts") == ((2L, 0L, Some(1.5), Some(86400.0))))
    assert(p("d") == ((2L, 0L, Some(-1.0), Some(10.0))))
    assert(p("arr") == ((2L, 0L, None, None)), "arrays profile null min/max")
    assert(p("allnull") == ((2L, 2L, None, None)))
  }

  test("q219 PPJoin completeness: equals brute-force all-pairs on sf0.001") {
    graft.functions.expressions.GraftFunctions.register(spark)
    import graft.functions.TextFunctions._
    val sets = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", array_distinct(wordShingles(tokens($"text"), 3)).as("sh"))
      .where(size($"sh") > 0)
    val brute = sets.as("a").join(sets.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
        (size(array_intersect($"a.sh", $"b.sh")) * lit(1.0) /
          (size($"a.sh") + size($"b.sh") -
            size(array_intersect($"a.sh", $"b.sh")))).as("jac"))
      .where($"jac" >= 0.8)
      .select($"a_id", $"b_id", round($"jac", 6).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pp = SparkEntry.queries("q219_ppjoin_exact")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pp == brute,
      s"missed=${(brute -- pp).take(5)} invented=${(pp -- brute).take(5)}")
    assert(pp.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("GraftCatalog: full surface reachable from plain SQL") {
    graft.sources.GraftCatalog.register(spark, dir, prefix = "cat_")
    val joined = spark.sql(
      """SELECT count(*) FROM cat_lineitem l
        |JOIN cat_orders o ON o.o_orderkey = l.l_orderkey""".stripMargin)
      .head().getLong(0)
    assert(joined > 0)
    val dot = spark.sql(
      """SELECT graft_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                 CAST(embedding AS ARRAY<DOUBLE>))
        |FROM cat_embeddings LIMIT 1""".stripMargin)
      .head().getDouble(0)
    assert(dot > 0.0)
    val ev = spark.sql("SELECT count(*) FROM cat_events WHERE ts IS NOT NULL")
      .head().getLong(0)
    assert(ev > 0, "events view must carry the adapted timestamp column")
  }

  test("q223 incremental PPJoin: exactly the split-crossing exact pairs") {
    val pairs = SparkEntry.queries("q219_ppjoin_exact")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def isNew(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val pct = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) / 65536.0
      pct >= 0.9
    }
    val expected = pairs.collect {
      case (a, b) if isNew(a) && !isNew(b) => (a, b)
      case (a, b) if !isNew(a) && isNew(b) => (b, a)
    }
    val inc = SparkEntry.queries("q223_ppjoin_incremental")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == expected,
      s"missing=${(expected -- inc).take(5)} extra=${(inc -- expected).take(5)}")
  }

  test("q221 constraint suite: the synthetic corpus is clean") {
    val checks = SparkEntry.queries("q221_constraint_checks")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
    assert(checks.length == 7)
    checks.foreach { case (name, (n, passed)) =>
      assert(n == 0L && passed, s"$name must hold on the generator's data")
    }
  }

  test("q224 keeper policy: keeper quality dominates its group") {
    val m = SparkEntry.queries("q224_dedup_keeper_policy")(spark, dir).collect()
    assert(m.nonEmpty, "fixture has near-dup groups")
    m.foreach { r =>
      val (removedQ, keeperQ) = (r.getDouble(2), r.getDouble(3))
      assert(keeperQ >= removedQ ||
        (keeperQ == removedQ && r.getLong(1) < r.getLong(0)),
        s"keeper must win on (quality, id): $r")
    }
  }

  test("q225 profile drift: both split sides populated, all columns present") {
    val d = SparkEntry.queries("q225_profile_drift")(spark, dir).collect()
    assert(d.map(_.getString(0)).sorted.toSeq ==
      Seq("event_id", "event_type", "props", "ts", "user_id", "value"))
    d.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0, "day parity splits events")
    }
  }

  test("q226: re-rank never loses to ADC-only on any query") {
    // theorem: a true hit in the ADC top-3 is in the shortlist and is
    // beaten by at most 2 vectors GLOBALLY on the exact key, so at most 2
    // within the shortlist — it re-ranks into the top-3 (ties broken by
    // nn_id in both rankings)
    SparkEntry.queries("q226_pq_rerank_recall")(spark, dir).collect()
      .foreach { r =>
        assert(r.getLong(3) >= r.getLong(2),
          s"rerank hits must dominate ADC hits: $r")
      }
  }

  test("PlanAudit flags the two scale-killers and passes healthy plans") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{row_number, sum => fsum}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val a = spark.range(10).toDF("x")
      val b = spark.range(10).toDF("y")
      assert(graft.operators.PlanAudit.audit(a.crossJoin(b)).cartesian)
      val rawWin = a.withColumn("rn",
        row_number().over(W.orderBy($"x")))
      assert(graft.operators.PlanAudit.audit(rawWin).globalWindow)
      val boundedWin = a.groupBy($"x").agg(fsum($"x").as("s"))
        .withColumn("rn", row_number().over(W.orderBy($"s")))
      val rep = graft.operators.PlanAudit.audit(boundedWin)
      assert(!rep.globalWindow && !rep.cartesian && rep.ok)
      assert(graft.operators.PlanAudit
        .audit(a.join(b, $"x" === $"y")).exchanges >= 1)
    } finally spark.conf.set(key, prev)
  }

  test("q222 recall audit is anchored to the exact law") {
    val audit = SparkEntry.queries("q222_lsh_recall_audit")(spark, dir).collect()
    val nExact = SparkEntry.queries("q219_ppjoin_exact")(spark, dir).count()
    assert(audit.map(_.getLong(1)).sum == nExact)
    audit.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "found cannot exceed exact")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("q227 distillation laws: splits partition, AUC bounded and real") {
    val r = SparkEntry.queries("q227_nb_distill")(spark, dir).collect().head
    val nDocs = graft.sources.Tables.documents(spark, dir).count()
    // train + test partition the corpus (the pct hash assigns every doc)
    assert(r.getLong(0) + r.getLong(1) == nDocs)
    assert(r.getLong(3) <= r.getLong(1), "positives are test docs")
    val auc = r.getDouble(4)
    assert(auc >= 0.0 && auc <= 1.0)
    // the classifier must actually have distilled the gate: well above
    // chance on held-out docs, and the class means must be ordered the
    // way the log-odds sign convention promises (pos class scores higher)
    assert(auc > 0.7, s"held-out AUC $auc should beat chance decisively")
    assert(r.getDouble(5) > r.getDouble(6),
      "mean score of gate-positive docs must exceed gate-negative")
    // model capacity law: the vocabulary is min-count capped, so it can
    // never exceed the corpus vocabulary of the train split
    assert(r.getLong(2) > 0 && r.getLong(2) <= 64)
    // plan discipline: no cartesian, no data-sized global window (the
    // ROC fold's window sits above the 401-bin aggregate)
    val rep = graft.operators.PlanAudit.audit(
      SparkEntry.queries("q227_nb_distill")(spark, dir))
    assert(rep.ok, s"plan audit: $rep")
  }

  test("q228 winnowing guarantee: a shared >=8-token run shares a fingerprint") {
    graft.functions.expressions.GraftFunctions.register(spark)
    import graft.functions.TextFunctions._
    // w=4 windows over 5-gram hashes: any shared contiguous run of
    // >= w+4 = 8 tokens yields >= 1 shared window, hence >= 1 shared
    // window-min. Plant a 12-token run inside different contexts.
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"one two three $run four five six"),
      (2L, s"seven eight $run nine ten eleven twelve"),
      (3L, "completely different words with no common span at all here"))
      .toDF("doc_id", "text")
    val fps = docs
      .select($"doc_id",
        transform(wordShingles(tokens($"text"), 5),
          x => md5(x.cast("binary"))).as("ghs"))
      .select($"doc_id", when(size($"ghs") >= 4,
          array_distinct(transform(sequence(lit(0), size($"ghs") - 4),
            j => array_min(slice($"ghs", j + 1, lit(4))))))
        .otherwise(array().cast("array<string>")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "guarantee: shared run must collide")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "disjoint docs share nothing")
    // corpus-level laws on the real fixture
    val out = SparkEntry.queries("q228_winnowing_overlap")(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs are ordered doc_a < doc_b")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("q229 matryoshka laws: identity at full dim, energy monotone") {
    val rows = SparkEntry.queries("q229_matryoshka_recall")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(64, 32, 16, 8))
    // prefix-cosine at the full dimension IS the truth ranking
    val full = rows.head
    assert(full._2 == 1.0, s"recall@64 must be exactly 1.0, got ${full._2}")
    assert(full._3 == 1.0, s"kept energy@64 must be exactly 1.0, got ${full._3}")
    rows.foreach { case (_, rec, en) =>
      assert(rec >= 0.0 && rec <= 1.0)
      assert(en > 0.0 && en <= 1.0)
    }
    // energy can only shrink as dimensions are dropped
    rows.sliding(2).foreach { case Array((_, _, hi), (_, _, lo)) =>
      assert(lo <= hi, "kept energy must be monotone in prefix length")
    }
  }

  test("q230 re-rank dominance: exact re-rank never loses to Hamming-only") {
    val rows = SparkEntry.queries("q230_binary_quantization")(spark, dir)
      .collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 3L, "k is always 3 on a >=4-vector corpus")
      // THEOREM: ham3 is a subset of the re-rank shortlist, and any
      // truth member inside the shortlist must survive an exact-cosine
      // re-rank to top-3 (at most 2 other vectors beat it globally) —
      // so per-query re-ranked hits >= Hamming-only hits, always.
      assert(r.getLong(4) >= r.getLong(2),
        s"re-rank dominance violated for q_id ${r.getLong(0)}")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("q231 quota law: selected = min(5, uncertain), counts nest") {
    val rows = SparkEntry.queries("q231_uncertainty_sampling")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scored, uncertain, selected) =
        (r.getLong(1), r.getLong(2), r.getLong(4))
      assert(uncertain <= scored, "band is a subset of the scored split")
      assert(selected == math.min(5L, uncertain),
        s"per-source quota violated for ${r.getString(0)}")
      if (selected == 0) assert(r.isNullAt(5),
        "empty selection has no mean |score|")
      else assert(r.getDouble(5) < 0.01,
        "selected docs sit inside the indecision band")
    }
  }

  test("q232 threshold sweep: recall monotone to 1.0, counts nest") {
    val rows = SparkEntry.queries("q232_score_gains")(spark, dir).collect()
    assert(rows.length >= 2)
    // rows are bin-descending = loosening the threshold monotonically
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_pos <= n per bin")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    val recalls = rows.map(_.getDouble(5))
    recalls.sliding(2).foreach { case Array(a, b) =>
      assert(b >= a, "cum_recall can only grow as the threshold loosens")
    }
    assert(recalls.last == 1.0, "the loosest threshold admits every positive")
  }

  test("q234 SCD2: versions tile, one current row, every event covered") {
    import spark.implicits._
    val scd = SparkEntry.queries("q234_scd2_history")(spark, dir)
    val rows = scd.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length),
        s"user $u versions must be dense from 1")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(4) == b.getTimestamp(3),
            s"user $u: effective_to must equal the next effective_from")
          assert(a.getString(2) != b.getString(2),
            s"user $u: consecutive versions must change the attribute")
        case _ =>
      }
      assert(sorted.count(_.getBoolean(5)) == 1, s"user $u: one current row")
      assert(sorted.last.isNullAt(4), s"user $u: current row is open-ended")
    }
    // reconstruction: every event of the gated users resolves, through the
    // half-open [from, to) interval covering its ts, to its own type
    val ev = graft.sources.Tables.events(spark, dir).where($"user_id" < 10)
    val mismatches = ev.as("e").join(scd.as("h"),
        col("e.user_id") === col("h.user_id") &&
          col("e.ts") >= col("h.effective_from") &&
          (col("h.effective_to").isNull || col("e.ts") < col("h.effective_to")))
      .where(col("e.event_type") =!= col("h.attr_value"))
      .count()
    assert(mismatches == 0L, "SCD2 history must reconstruct the stream")
  }

  test("q236: oriented wedge count equals brute-force triangle enumeration") {
    import spark.implicits._
    // rebuild the same sparsified undirected edge set independently
    val li = graft.sources.Tables.lineitem(spark, dir)
    val o = graft.sources.Tables.orders(spark, dir)
    val c = graft.sources.Tables.customer(spark, dir)
    val sup = graft.sources.Tables.supplier(spark, dir)
    val te = li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey".as("src"), $"c_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
    val und = te.where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"), $"w")
      .groupBy($"a", $"b").agg(sum($"w").as("wuv"))
    val thr = und.agg(expr("percentile(wuv, 0.75D)")).head().getDouble(0)
    val edges = und.where($"wuv" >= thr).select($"a", $"b")
      .collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    // brute force: every a < b < c with all three edges present
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    def has(x: Long, y: Long) = edges.contains((math.min(x, y), math.max(x, y)))
    val perNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      (a, b, cc) = (nodes(i), nodes(j), nodes(k))
      if has(a, b) && has(b, cc) && has(a, cc)
    } { perNode(a) += 1; perNode(b) += 1; perNode(cc) += 1 }
    val got = SparkEntry.queries("q236_triangle_count")(spark, dir)
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(3)).toMap
    nodes.foreach { n =>
      assert(got.getOrElse(n, 0L) == perNode(n),
        s"node $n: oriented count ${got.get(n)} vs brute ${perNode(n)}")
    }
    assert(perNode.values.sum > 0, "fixture graph must contain triangles")
  }

  test("q237 bucket decomposition equals the direct theta self-join") {
    import spark.implicits._
    val sess = SparkEntry.queries("q22_sessionize")(spark, dir)
      .select($"user_id", $"session_start".as("st"), $"session_end".as("en"))
    val theta = sess.as("a").join(sess.as("b"),
        col("a.user_id") < col("b.user_id") &&
          col("a.st") <= col("b.en") && col("b.st") <= col("a.en"))
      .groupBy(to_date(greatest(col("a.st"), col("b.st"))).as("day"))
      .agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q237_interval_overlap")(spark, dir)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got == theta, "day-bucketed pair counts must match the theta join")
    assert(got.values.sum > 0, "fixture must contain concurrent sessions")
  }

  test("q239 closed form equals the sequential SES fold (exactly)") {
    import spark.implicits._
    val series = graft.sources.Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"event_type", $"day")
      .collect().map(r => (r.getString(0), r.getLong(2).toDouble))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val expected = series.map { case (t, xs) =>
      val levels = xs.tail.scanLeft(xs.head)((s, x) => 0.5 * x + 0.5 * s)
      // one-step-ahead: x_t is forecast by S_{t-1}
      val errs = xs.drop(1).zip(levels.dropRight(1))
        .map { case (x, prevS) => math.abs(x - prevS) }
      // α = 1/2 keeps every intermediate dyadic, so equality is EXACT
      (t, (xs.length.toLong,
        BigDecimal(errs.sum / errs.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(levels.last).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val got = SparkEntry.queries("q239_ses_forecast")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("q240 attribution: every model distributes exactly the converted value") {
    import spark.implicits._
    val rows = SparkEntry.queries("q240_attribution")(spark, dir).collect()
    assert(rows.nonEmpty)
    val (lin, fst, lst, u) = (rows.map(_.getDouble(2)).sum,
      rows.map(_.getDouble(3)).sum, rows.map(_.getDouble(4)).sum,
      rows.map(_.getDouble(5)).sum)
    // conservation: each model's total credit = total value of conversions
    // that HAD at least one touch in the 7-day window
    val ev = graft.sources.Tables.events(spark, dir)
    val conv = ev.where($"event_type" === "purchase")
      .select($"user_id".as("cu"), $"event_id".as("cid"), $"ts".as("cts"),
        $"value".as("cval"))
    val touched = conv.join(
        ev.where($"event_type" =!= "purchase")
          .select($"user_id", $"ts".as("tts")),
        $"cu" === $"user_id" && $"tts" < $"cts" &&
          $"tts" >= $"cts" - expr("interval 7 days"), "left_semi")
      .agg(sum($"cval")).head().getDouble(0)
    Seq("linear" -> lin, "first" -> fst, "last" -> lst, "u" -> u).foreach {
      case (m, tot) => assert(math.abs(tot - touched) < 1e-4,
        s"$m model must conserve value: $tot vs $touched")
    }
  }

  test("q241 Kaplan-Meier equals an independent sequential estimator") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
    val hmax = ev.agg(max($"ts")).head().getTimestamp(0).getTime
    val subj = ev.groupBy($"user_id")
      .agg(min($"ts").as("f"),
        min(when($"event_type" === "purchase", $"ts")).as("c"))
      .collect().map { r =>
        val f = r.getTimestamp(1).getTime
        val cOpt = Option(r.getTimestamp(2)).map(_.getTime)
        val dur = math.floor((cOpt.getOrElse(hmax) - f) / 86400000.0).toLong
        (dur, cOpt.isEmpty) // (duration days, censored)
      }
    var atRisk = subj.length.toLong
    var surv = 1.0
    val expected = subj.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (t, grp) =>
        val d = grp.count(!_._2).toLong
        val out = if (d > 0) {
          surv = if (d == atRisk) 0.0 else surv * (1.0 - d.toDouble / atRisk)
          Some((t, atRisk, d,
            BigDecimal(surv).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        } else None
        atRisk -= grp.length
        out
    }
    val got = SparkEntry.queries("q241_kaplan_meier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // float tolerance: the query multiplies via exp∘Σln, the reference
    // multiplies directly — identical to well past 6 dp on this data
    assert(got.map(t => (t._1, t._2, t._3)) == expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) <= 1e-6, s"survival at t=${g._1}: ${g._4} vs ${e._4}")
    }
    assert(got.nonEmpty && got.last._4 >= 0.0)
  }

  test("q242 RAKE: phrases are stopword-free runs, scores bound below by length") {
    val stops = Set("the", "a", "of", "and", "to", "is")
    val rows = SparkEntry.queries("q242_rake_keyphrases")(spark, dir).collect()
    assert(rows.length > 0 && rows.length <= 15)
    var prev = Double.MaxValue
    rows.foreach { r =>
      val (phrase, score) = (r.getString(1), r.getDouble(3))
      val words = phrase.split(" ")
      assert(words.length >= 1 && words.length <= 4, s"run cap: '$phrase'")
      assert(words.forall(w => !stops.contains(w)), s"stopword leaked: '$phrase'")
      // every word's deg/freq >= 1 (each occurrence contributes len >= 1),
      // so a phrase's score is at least its word count
      assert(score >= words.length - 1e-9, s"'$phrase' score $score < ${words.length}")
      assert(score <= prev + 1e-9, "ledger must be score-descending")
      prev = score
    }
  }

  test("q243 equals a driver-side argmax baseline, transition for transition") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getString(3)))
    val split = java.sql.Timestamp.valueOf("2024-01-25 00:00:00").getTime
    val trans = ev.groupBy(_._1).values.flatMap { rs =>
      rs.sortBy(r => (r._2, r._3)).sliding(2).collect {
        case Array(a, b) => (a._4, b._4, b._2) // (type, next, next_ts)
      }
    }.toSeq
    val model = trans.filter(_._3 < split).groupBy(_._1).map { case (t, g) =>
      t -> g.groupBy(_._2).toSeq
        .map { case (nt, o) => (nt, o.size) }
        .minBy { case (nt, n) => (-n, nt) }._1
    }
    val expected = trans.filter(_._3 >= split).groupBy(_._1).map { case (t, g) =>
      val correct = g.count(x => model.get(t).contains(x._2))
      t -> (g.size.toLong, model.get(t).orNull, correct.toLong,
        BigDecimal(correct.toDouble / g.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SparkEntry.queries("q243_next_event_baseline")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("q244 Markov attribution: matches the exact linear solve; value conserves") {
    import spark.implicits._
    // independent journey/transition derivation, driver-side
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val trans = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    ev.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(r => (r._2, r._3))
      var prev: Option[String] = None // last channel in the open journey
      sorted.foreach { r =>
        if (r._4 == "purchase") {
          trans += ((prev.getOrElse("START"), "CONV"))
          prev = None
        } else {
          trans += ((prev.getOrElse("START"), r._4))
          prev = Some(r._4)
        }
      }
      if (prev.isDefined) trans += ((prev.get, "NULL"))
    }
    val counts = trans.groupBy(_._1).flatMap { case (src, g) =>
      val tot = g.size.toDouble
      g.groupBy(_._2).map { case (dst, o) => (src, dst) -> (o.size / tot) }
    }
    val states = Seq("START", "click", "error", "signup", "view")
    def solve(removed: String): Double = {
      val n = states.length
      val a = Array.tabulate(n, n)((i, j) =>
        (if (i == j) 1.0 else 0.0) -
          (if (states(j) == removed) 0.0
           else counts.getOrElse((states(i), states(j)), 0.0)))
      val b = Array.tabulate(n)(i => counts.getOrElse((states(i), "CONV"), 0.0))
      for (col <- 0 until n) { // gaussian elimination, partial pivot
        val piv = (col until n).maxBy(r => math.abs(a(r)(col)))
        val (ta, tb) = (a(col), b(col)); a(col) = a(piv); b(col) = b(piv)
        a(piv) = ta; b(piv) = tb
        for (r <- 0 until n if r != col && a(r)(col) != 0.0) {
          val f = a(r)(col) / a(col)(col)
          for (c <- 0 until n) a(r)(c) -= f * a(col)(c)
          b(r) -= f * b(col)
        }
      }
      b(0) / a(0)(0) // START
    }
    val base = solve("none")
    assert(base > 0.0 && base < 1.0)
    val got = SparkEntry.queries("q244_markov_attribution")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq("click", "error", "signup", "view"))
    got.foreach { case (c, re, _, _) =>
      val exact = 1.0 - solve(c) / base
      assert(math.abs(re - exact) < 1e-5,
        s"$c: 80-step orbit $re vs exact solve $exact")
    }
    assert(math.abs(got.map(_._3).sum - 1.0) < 2e-5, "shares sum to 1")
    val totalValue = ev.filter(_._4 == "purchase").map(_._5).sum
    assert(math.abs(got.map(_._4).sum - totalValue) < totalValue * 1e-4,
      s"attributed ${got.map(_._4).sum} vs converted $totalValue")
  }

  test("q245 HITS: unit vectors, mutual-reinforcement support law") {
    import spark.implicits._
    val rows = SparkEntry.queries("q245_hits")(spark, dir)
      .collect().map(r => (r.getAs[Number](0).longValue, r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 25)
    val hn = math.sqrt(rows.map(r => r._2 * r._2).sum)
    val an = math.sqrt(rows.map(r => r._3 * r._3).sum)
    assert(math.abs(hn - 1.0) < 1e-5, s"hub vector norm $hn")
    assert(math.abs(an - 1.0) < 1e-5, s"authority vector norm $an")
    rows.foreach { case (k, h, a) =>
      assert(h >= 0.0 && a >= 0.0, s"node $k: HITS scores are non-negative")
    }
    // support: a node scores hub > 0 iff it has an out-edge (self-loops
    // excluded), authority > 0 iff an in-edge
    val li = graft.sources.Tables.lineitem(spark, dir)
    val o = graft.sources.Tables.orders(spark, dir)
    val c = graft.sources.Tables.customer(spark, dir)
    val sup = graft.sources.Tables.supplier(spark, dir)
    val edges = li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .select($"s_nationkey".cast("long").as("src"), $"c_nationkey".cast("long").as("dst"))
      .where($"src" =!= $"dst").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (srcs, dsts) = (edges.map(_._1).toSet, edges.map(_._2).toSet)
    rows.foreach { case (k, h, a) =>
      assert((h > 0.0) == srcs.contains(k), s"node $k hub support")
      assert((a > 0.0) == dsts.contains(k), s"node $k authority support")
    }
  }

  test("q246 RFM: quintile sizes balance, monetary marginal is monotone") {
    val rows = SparkEntry.queries("q246_rfm_segments")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getDouble(4)))
    val total = rows.map(_._4).sum
    assert(total > 0)
    // ntile law: each dimension's buckets differ in size by at most 1
    Seq[((Int, Int, Int, Long, Double)) => Int](_._1, _._2, _._3).foreach { dim =>
      val sizes = rows.groupBy(dim).map { case (_, g) => g.map(_._4).sum }
      assert(sizes.max - sizes.min <= 1, s"quintile sizes $sizes")
      assert(sizes.sum == total)
    }
    // higher m_score = higher average monetary, strictly
    val marginal = rows.groupBy(_._3).toSeq.sortBy(_._1).map { case (_, g) =>
      g.map(x => x._5 * x._4).sum / g.map(_._4).sum
    }
    marginal.sliding(2).foreach { case Seq(a, b) =>
      assert(b > a, s"m-quintile averages must increase: $marginal")
    }
  }

  test("q247 STL: additive identity, zero-mean residual per weekday, edge nulls") {
    val rows = SparkEntry.queries("q247_stl_decompose")(spark, dir)
      .collect().map(r => (r.getDate(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(rows.length >= 8)
    val sorted = rows.sortBy(_._1.getTime)
    // centered 7-day MA: exactly the first and last 3 days lack a trend
    sorted.zipWithIndex.foreach { case ((_, _, t, s0, rem), i) =>
      val edge = i < 3 || i >= sorted.length - 3
      assert(t.isEmpty == edge, s"row $i: trend null iff edge")
      assert(s0.isEmpty == edge && rem.isEmpty == edge)
      if (!edge) // additive identity (to output rounding)
        assert(math.abs((t.get + s0.get + rem.get) - sorted(i)._2) < 3e-6,
          s"row $i: x = trend + seasonal + remainder")
    }
    // seasonal absorbs the weekday mean: residuals per dow average ~0
    val cal = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
    sorted.filter(_._3.isDefined).groupBy { r =>
      cal.setTime(r._1); cal.get(java.util.Calendar.DAY_OF_WEEK)
    }.foreach { case (dow, g) =>
      val mean = g.map(_._5.get).sum / g.length
      assert(math.abs(mean) < 1e-4, s"dow $dow residual mean $mean")
    }
  }

  test("q235 Kneser-Ney: per-head probability mass conserves exactly") {
    // THE smoothing correctness law: for a seen head w1, summing
    // P(w2|w1) over the full continuation vocabulary must give exactly
    //   1 − D·N1+(w1·) / (c1(w1)·(B+V+1))
    // — the deficit is precisely the floor mass the model reserves for
    // out-of-vocabulary continuations. A typo in the discount, the
    // interpolation weight, or the floor breaks this identity.
    import spark.implicits._
    import graft.functions.TextFunctions._
    graft.functions.expressions.GraftFunctions.register(spark)
    val pct = conv(substring(md5(concat(lit(""), $"doc_id".cast("string"))
      .cast("binary")), 1, 4), 16, 10).cast("double") / 65536.0
    val bg = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", pct.as("pct"),
        explode(wordShingles(tokens($"text"), 2)).as("b"))
      .select($"pct", split($"b", " ")(0).as("w1"), split($"b", " ")(1).as("w2"))
    val c12 = bg.where($"pct" < 0.8)
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n12")).cache()
    val bTypes = c12.count()
    val v = c12.select($"w2").distinct().count()
    val cont = c12.groupBy($"w2").agg(count(lit(1)).as("cw"))
    val heads = c12.groupBy($"w1")
      .agg(sum($"n12").as("n1"), count(lit(1)).as("n1p"))
      .orderBy($"n1".desc, $"w1".asc).limit(3).collect()
    assert(heads.nonEmpty)
    heads.foreach { h =>
      val (w1, n1, n1p) = (h.getString(0), h.getLong(1), h.getLong(2))
      val denom = (bTypes + v + 1).toDouble
      val mass = cont
        .join(c12.where($"w1" === w1).select($"w2", $"n12"), Seq("w2"), "left")
        .select(sum(
          when($"n12".isNotNull,
            (($"n12" - lit(0.75)) + lit(0.75 * n1p) * (($"cw" + 1) / denom)) / n1)
            .otherwise(lit(0.75 * n1p) * (($"cw" + 1) / denom) / n1))
          .as("m")).head().getDouble(0)
      val expectedDeficit = 0.75 * n1p / (n1 * denom)
      assert(math.abs(mass - (1.0 - expectedDeficit)) < 1e-9,
        s"head '$w1': mass $mass vs 1 - $expectedDeficit")
    }
    // and the shipped ledger stays finite through the continuation floor
    SparkEntry.queries("q235_kneser_ney")(spark, dir).collect().foreach { r =>
      val nll = r.getDouble(3)
      assert(nll > 0.0 && !nll.isInfinite && !nll.isNaN)
    }
    c12.unpersist()
  }
}
