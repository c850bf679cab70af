package graft

import scala.util.Random


import graft.operators.BloomPrefilter

/** Semantic laws for the round-6 operators, asserted through the REAL
  * query implementations on the sf0.001 fixture plus randomized inputs:
  *
  *   - CMS never underestimates (q131/q136 `overcount >= 0`) — the
  *     count-min guarantee, checked on the actual sketch outputs;
  *   - every q133 pair's longest verbatim run is at least the gram width
  *     (sharing one K-token gram IS a K-token run);
  *   - q134's bins partition the corpus exactly;
  *   - bloom semi-join equality holds across randomized corpus/probe
  *     draws, not just one fixture.
  */
class Round6LawsSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q131/q136: count-min estimates never underestimate") {
    for (q <- Seq("q131_cms_heavy_hitters", "q136_cms_rollup")) {
      val over = SparkEntry.queries(q)(spark, dir)
        .select($"overcount").collect().map(_.getLong(0))
      assert(over.nonEmpty && over.forall(_ >= 0L),
        s"$q produced a negative overcount: ${over.mkString(",")}")
    }
  }

  test("q133: every reported run is at least the gram width") {
    val runs = SparkEntry.queries("q133_span_runs")(spark, dir)
      .select($"longest_run_tokens").collect().map(_.getLong(0))
    assert(runs.nonEmpty && runs.forall(_ >= 10L))
  }

  test("q134: bins partition the corpus exactly") {
    val bins = SparkEntry.queries("q134_length_curriculum")(spark, dir)
      .select($"bin", $"n_docs").collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val total = graft.sources.Tables.documents(spark, dir).count()
    assert(bins.map(_._2).sum == total, "bins must cover every document once")
    assert(bins.map(_._1).forall(b => b >= 0 && b <= 9))
    graft.operators.ResultMemo.release(spark)
  }

  test("bloom semi-join equality holds on randomized draws") {
    for (seed <- Seq(7, 42, 99)) {
      val rnd = new Random(seed)
      val corpus = Seq.fill(500)(rnd.nextInt(2000).toLong).distinct.toDF("k")
      val probe = Seq.fill(2000)(rnd.nextInt(4000).toLong).toDF("k")
      val expected = probe.join(corpus.select($"k").distinct(), Seq("k"), "left_semi")
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = BloomPrefilter.semiJoin(probe, corpus, "k", expectedItems = 1024)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected, s"seed $seed: bloom semi-join diverged")
      val expectedAnti = probe.join(corpus.select($"k").distinct(), Seq("k"), "left_anti")
        .collect().map(_.getLong(0)).sorted.toSeq
      val gotAnti = BloomPrefilter.antiJoin(probe, corpus, "k", expectedItems = 1024)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(gotAnti == expectedAnti, s"seed $seed: bloom anti-join diverged")
      assert(got.size + gotAnti.size == 2000, "semi + anti must partition the probe")
    }
  }
}
