package graft

import org.apache.spark.sql.functions._

import graft.operators.BloomPrefilter

/** Laws for the bloom-prefiltered semi-join (q130's operator):
  * unconditional result equality with the plain semi-join, zero false
  * negatives in the prefilter, real pruning on a mostly-miss probe, and
  * the plan pin that the probe side actually carries the
  * `might_contain` predicate (i.e. the filter is a scan-side constant,
  * not a post-join afterthought).
  */
class BloomPrefilterSpec extends SparkSpec {

  import spark.implicits._

  // corpus keys ≡ 0 (mod 3) in [0, 3000); probe covers [0, 9000) — a
  // 1-in-9 true hit rate, so pruning is observable and ties are plentiful
  private lazy val corpus = (0 until 3000 by 3)
    .map(i => (s"k$i", i)).toDF("key", "cval")
  private lazy val probe = (0 until 9000)
    .map(i => (s"k$i", i * 2)).toDF("key", "pval")

  test("bloom semi-join equals the plain semi-join exactly") {
    val expected = probe.join(corpus.select($"key").distinct(), Seq("key"), "left_semi")
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    val got = BloomPrefilter.semiJoin(probe, corpus, "key", expectedItems = 4096)
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(got == expected && got.nonEmpty)
    assert(got.size == 1000) // k0, k3, …, k2997 — each < 3000 and ≡ 0 (mod 3)
  }

  test("prefilter has no false negatives and genuinely prunes") {
    val bf = BloomPrefilter.build(corpus, "key", expectedItems = 4096)
    val surviving = BloomPrefilter.prefilter(probe, bf, "key")
      .select($"key").collect().map(_.getString(0)).toSet
    val trueMatches = corpus.select($"key").collect().map(_.getString(0)).toSet
    assert(trueMatches.subsetOf(surviving), "bloom dropped a true match")
    // at 4096 expected items the fpp on 8000 misses is far below 50%
    assert(surviving.size < probe.count() / 2,
      s"prefilter kept ${surviving.size} of ${probe.count()} — no pruning")
  }

  test("probe side carries might_contain in the physical plan") {
    // a local relation gets constant-folded through the filter
    // (ConvertToLocalRelation), so pin the production shape: a file scan
    val base = tmpDir("graft-bloom")
    try {
      probe.write.mode("overwrite").parquet(s"$base/probe")
      val fileProbe = spark.read.parquet(s"$base/probe")
      val bf = BloomPrefilter.build(corpus, "key", expectedItems = 4096)
      val plan = BloomPrefilter.prefilter(fileProbe, bf, "key")
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("bloom anti-join equals the plain anti-join exactly") {
    val expected = probe.join(corpus.select($"key").distinct(), Seq("key"), "left_anti")
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    val got = BloomPrefilter.antiJoin(probe, corpus, "key", expectedItems = 4096)
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(got == expected && got.size == 8000) // 9000 probes − 1000 members
  }

  test("empty corpus yields an empty result, not an error") {
    val empty = corpus.where(lit(false))
    assert(BloomPrefilter.semiJoin(probe, empty, "key", 64).count() == 0L)
    // anti against an empty corpus keeps everything
    assert(BloomPrefilter.antiJoin(probe, empty, "key", 64).count() == probe.count())
  }

  test("storedFilter rides the artifact-store laws: build-once, warm-read, invalidate on rewrite") {
    // q130/q138's restart path (r13 verdict #2): the filter bytes are a
    // stored artifact, so a cold session reads them instead of
    // re-scanning the corpus, and a corpus rewrite re-keys the store.
    import graft.operators.ArtifactStore
    val root = tmpDir("bloom-store")
    spark.conf.set(ArtifactStore.ConfKey, root)
    try {
      val in = tmpDir("bloom-in") + "/corpus.parquet"
      corpus.write.mode("overwrite").parquet(in)
      val name = s"bloomsf-${java.util.UUID.randomUUID().toString.take(8)}"
      def stored(): Array[Byte] = BloomPrefilter.storedFilter(
        spark, name, Seq(in), "m=4096,bv1")(
        spark.read.parquet(in), "key", 4096)
      val bf1 = stored()
      assert(ArtifactStore.buildCount(name) == 1)
      val bf2 = stored()
      assert(ArtifactStore.buildCount(name) == 1, "warm call must read, not rebuild")
      assert(java.util.Arrays.equals(bf1, bf2), "stored bytes must round-trip exactly")
      // the warm-read bytes are a WORKING filter: no false negatives
      val surviving = BloomPrefilter.prefilter(probe, bf2, "key")
        .select($"key").collect().map(_.getString(0)).toSet
      assert(corpus.select($"key").collect().map(_.getString(0)).toSet.subsetOf(surviving))
      // rewrite the corpus under the same path → fingerprint invalidates
      corpus.where($"cval" < 1500).write.mode("overwrite").parquet(in)
      stored()
      assert(ArtifactStore.buildCount(name) == 2, "corpus rewrite must rebuild the filter")
    } finally spark.conf.unset(ArtifactStore.ConfKey)
  }
}
