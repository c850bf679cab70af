package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-prefiltered semi-join — the 100 TB shape of delta-vs-corpus
  * membership (incremental dedup, decontamination probes, CDC upsert
  * detection).
  *
  * A plain `left_semi` join shuffles BOTH sides on the key. When the probe
  * side is a small delta and the corpus is the 100 TB side, that shuffle is
  * the whole cost — and most probe rows are misses that did not need to
  * travel. The standard fix (what Spark's own runtime row-filter injection
  * does for shuffle joins, and what every warehouse calls a join bloom
  * filter) is:
  *
  *   1. aggregate the corpus keys into a fixed-size mergeable Bloom filter
  *      (one narrow pass; partial filters OR-merge, so the build is
  *      map-side-combined and the driver artifact is megabytes regardless
  *      of corpus size);
  *   2. embed the filter as a broadcast constant in a `might_contain`
  *      predicate on the probe side — false positives possible, false
  *      negatives impossible;
  *   3. run the exact semi-join only on the surviving rows to remove the
  *      false positives.
  *
  * Result equality with the plain semi-join is therefore unconditional
  * (step 3 is exact); the filter only changes how many probe rows reach the
  * shuffle. Both expressions are Catalyst natives
  * (`BloomFilterAggregate` / `BloomFilterMightContain`, registered as
  * `graft_bloom_agg` / `graft_bloom_contains` by
  * [[graft.functions.expressions.GraftFunctions]] and [[graft.GraftExtensions]]),
  * so the probe predicate participates in whole-stage codegen.
  *
  * Reference analog: the closest surface is DLQ upsert-by-id
  * (reference: src/deadletter.ts:315-340), which probes one id per call;
  * this is the set-at-a-time, scale-first re-expression.
  */
object BloomPrefilter {

  /** The corpus-side Bloom filter over `key`, built distributed and
    * returned as the driver-side artifact (serialized filter bytes).
    * Keys are hashed with xxhash64 — `BloomFilterAggregate`'s native
    * long-input path — so arbitrary key types work.
    */
  def build(corpus: DataFrame, key: String, expectedItems: Long): Array[Byte] = {
    val s = corpus.sparkSession
    graft.functions.expressions.GraftFunctions.register(s)
    corpus.agg(call_function("graft_bloom_agg",
        xxhash64(col(key)), lit(expectedItems)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** The stored-tier variant of [[build]] (r13 verdict #2): the serialized
    * filter bytes are published as a ONE-ROW binary-column table under the
    * session's [[ArtifactStore]], fingerprinted on `inputs` exactly like
    * the IVF tower — so a restarted session reads megabytes of filter from
    * disk instead of re-scanning the corpus, and a corpus rewrite
    * invalidates the filter through the store's recursive fingerprint.
    * Same contract as [[build]]: an empty corpus yields null (the callers'
    * Some(null) = "prebuilt, and it is null" convention still applies).
    */
  def storedFilter(s: org.apache.spark.sql.SparkSession, name: String,
      inputs: Seq[String], params: String)(corpus: => DataFrame, key: String,
      expectedItems: => Long): Array[Byte] = {
    // corpus AND expectedItems are by-name: a warm hit must stay a pure
    // sidecar read — a data-dependent size hint (count()) would otherwise
    // run its job on every read
    graft.functions.expressions.GraftFunctions.register(s)
    ArtifactStore.table(s, name, inputs, params) {
      corpus.agg(call_function("graft_bloom_agg",
        xxhash64(col(key)), lit(expectedItems)).as("bf"))
    }.head().getAs[Array[Byte]]("bf")
  }

  /** Probe rows that MIGHT be in the filter — a superset of the true
    * matches (no false negatives). Exposed for tests and for pipelines
    * that tolerate false positives (e.g. routing to a slow exact path).
    */
  def prefilter(probe: DataFrame, filterBytes: Array[Byte], key: String): DataFrame = {
    val s = probe.sparkSession
    graft.functions.expressions.GraftFunctions.register(s)
    probe.where(call_function("graft_bloom_contains",
      lit(filterBytes), xxhash64(col(key))))
  }

  /** Exact semi-join accelerated by the Bloom prefilter: build on corpus,
    * prefilter probe, confirm with a `left_semi` on the survivors. Returns
    * exactly the rows a plain `probe SEMI JOIN corpus ON key` would.
    */
  def semiJoin(probe: DataFrame, corpus: DataFrame, key: String,
      expectedItems: Long = 1L << 20,
      prebuilt: Option[Array[Byte]] = None): DataFrame = {
    // `prebuilt` = the stored-index path: a deployment builds the corpus
    // filter once per batch and every probe reuses the artifact
    val bf = prebuilt.getOrElse(build(corpus, key, expectedItems))
    // an EMPTY corpus aggregates to a null filter — no key can match
    if (bf == null) probe.where(lit(false))
    else prefilter(probe, bf, key)
      .join(corpus.select(col(key)).distinct(), Seq(key), "left_semi")
  }

  /** Exact ANTI-join accelerated by the Bloom prefilter — "keep only rows
    * NOT in the corpus", THE ingest-dedup operation. The filter's
    * no-false-negative guarantee cuts the other way here: a probe row the
    * filter REJECTS is definitely absent from the corpus and is kept with
    * no join at all; only the might-contain survivors (true matches +
    * false positives) go through the exact `left_anti` to be settled.
    * At a typical ingest mix (mostly-new rows) almost the entire batch
    * takes the join-free path. Returns exactly the rows a plain
    * `probe ANTI JOIN corpus ON key` would, modulo row order.
    */
  def antiJoin(probe: DataFrame, corpus: DataFrame, key: String,
      expectedItems: Long = 1L << 20,
      prebuilt: Option[Array[Byte]] = None): DataFrame = {
    val s = probe.sparkSession
    graft.functions.expressions.GraftFunctions.register(s)
    val bf = prebuilt.getOrElse(build(corpus, key, expectedItems))
    // an EMPTY corpus aggregates to a null filter — every row is new
    if (bf == null) return probe
    val hit = call_function("graft_bloom_contains", lit(bf), xxhash64(col(key)))
    val definitelyNew = probe.where(!hit)
    val settled = probe.where(hit)
      .join(corpus.select(col(key)).distinct(), Seq(key), "left_anti")
    definitelyNew.unionByName(settled.select(probe.columns.toIndexedSeq.map(col): _*))
  }
}
