package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{tokens, wordShingles}
import graft.operators.ResultMemo
import graft.sources.Tables

/** ONE cached scan of `documents` carrying every derived column the
  * curation/dedup rollups share — tokens, split percentile, content
  * hash, winnowing fingerprint, quality inputs. q100/q102/q103 all read
  * it, so the expensive per-row work (tokenize + 5-gram md5 fold) runs
  * once per batch instead of once per query. Downstream projections
  * prune columns from the cached relation.
  *
  * Every hub here is shared BY NAME: its cached frame is memoized in
  * [[graft.operators.ResultMemo]] under the hub's name, so it is built,
  * looked up in the artifact store and cached once per batch, and every
  * caller gets that same frame (callers never re-cache it).
  *
  * The expression spellings here are THE laws (q55 quality inputs, q56
  * md5 percentile, q35 content hash, q53 fingerprint) — the per-query
  * oracles spell the same SQL they always did; this table only changes
  * where the computation runs, never its values.
  */
object DocProfiles {

  def profiled(s: SparkSession, dir: String): DataFrame =
    ResultMemo.getOrCompute(s, "docprofiles_profiled", dir) {
      import s.implicits._
      graft.functions.expressions.GraftFunctions.register(s)
      // STORED artifact (r10): the profile table is the materialized PREP
      // layer a corpus pipeline publishes at ingest (tokens + split + hash
      // + quality inputs); a restarted session reads it instead of
      // re-tokenizing the corpus. Every derived value is md5/arithmetic-
      // deterministic, so stored == derived bit-for-bit.
      graft.operators.ArtifactStore
        .table(s, "docprofiles_profiled",
          Seq(s"${dir.stripSuffix("/")}/documents.parquet"), "bv1") {
          Tables.documents(s, dir)
            .select($"doc_id", $"lang", $"source", $"text", $"n_chars",
              tokens($"text").as("toks"),
              (conv(substring(md5(concat(lit(""), $"doc_id".cast("string")).cast("binary")),
                1, 4), 16, 10).cast("double") / 65536.0).as("pct"),
              md5($"text".cast("binary")).as("ch"))
            .withColumn("n_tok", size($"toks"))
            .withColumn("sum_len", aggregate($"toks", lit(0), (a, x) => a + length(x)))
            .withColumn("n_stop",
              size(filter($"toks", t => t.isin("the", "a", "of", "and", "to", "is"))))
            .withColumn("fp", array_min(transform(wordShingles($"toks", 5),
              x => md5(x.cast("binary")))))
        }.cache()
    }

  /** ONE cached explode of every document's word-5-grams — (doc_id, pct,
    * g, gh) — shared by the decontamination legs (q71, q100's stage 6)
    * and the boilerplate report (q110), which otherwise each re-explode
    * and re-hash ~n_tok grams per document per run. Rides [[profiled]],
    * so the tokenization itself is also computed once. The gram STRING is
    * kept alongside its hash: q110 reports the grams, the join legs use
    * the hash.
    *
    * STORED artifact (r10): the gram index is exactly what a deployment
    * materializes at ingest, so sessions with an artifact store load the
    * published table instead of re-exploding the corpus — sidecar
    * invalidation in [[graft.operators.ArtifactStore]].
    */
  def grams(s: SparkSession, dir: String): DataFrame =
    ResultMemo.getOrCompute(s, "docprofiles_grams", dir) {
      import s.implicits._
      graft.operators.ArtifactStore
        .table(s, "docprofiles_grams",
          Seq(s"${dir.stripSuffix("/")}/documents.parquet"), "w5,bv1") {
          profiled(s, dir)
            .select($"doc_id", $"pct", explode(wordShingles($"toks", 5)).as("g"))
            .withColumn("gh", md5($"g".cast("binary")))
        }.cache()
    }

  /** The distinct test-split gram hashes (pct >= 0.9) both decontamination
    * legs (q71, q100 stage 6) probe — cached so the distinct shuffle runs
    * once per batch.
    */
  def testGrams(s: SparkSession, dir: String): DataFrame =
    ResultMemo.getOrCompute(s, "docprofiles_testgrams", dir) {
      import s.implicits._
      grams(s, dir).where($"pct" >= 0.9).select($"gh").distinct().cache()
    }

  /** The distinct TRAIN-split gram hashes (pct < 0.8) — the train-side
    * twin of [[testGrams]]: the gram index a deployment stores at ingest
    * (the q130 Bloom-prefilterable shape) and every novelty/leakage probe
    * (q162) reads. Cached so the 80%-of-corpus distinct shuffle runs once
    * per batch instead of once per probe.
    */
  def trainGrams(s: SparkSession, dir: String): DataFrame =
    ResultMemo.getOrCompute(s, "docprofiles_traingrams", dir) {
      import s.implicits._
      grams(s, dir).where($"pct" < 0.8).select($"gh").distinct().cache()
    }

  /** ONE cached (source, w, c) count of lowercase whitespace tokens —
    * the shared base of the vocabulary-family queries (q146 OOV, q148
    * JS divergence): each derives BOTH its corpus vocab (sum of c over
    * sources) and its per-source cells from this table, so the corpus
    * explodes and shuffles once per batch instead of twice per query.
    * Lowercased split — deliberately distinct from [[termFreqs]]'s
    * case-preserving (doc, term) index.
    */
  def sourceWordCounts(s: SparkSession, dir: String): DataFrame =
    ResultMemo.getOrCompute(s, "docprofiles_sourcewordcounts", dir) {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"source", explode(split(lower(trim($"text")), "\\s+")).as("w"))
        .where(length($"w") > 0)
        .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
        .cache()
    }

  /** The corpus term-frequency table (doc_id, term, tf) — the shared
    * inverted-index base the lexical-retrieval family reads (q54 TF-IDF,
    * q125 BM25, q128's lexical leg). One explode + one (doc, term) shuffle
    * per batch instead of one per query; rides [[profiled]] so the
    * tokenization is also computed once. Rows are per-(doc, term) DISTINCT
    * by construction — `count(*)` over them IS the document frequency.
    */
  def termFreqs(s: SparkSession, dir: String): DataFrame =
    ResultMemo.getOrCompute(s, "docprofiles_termfreqs", dir) {
      import s.implicits._
      graft.operators.ArtifactStore
        .table(s, "docprofiles_termfreqs",
          Seq(s"${dir.stripSuffix("/")}/documents.parquet"), "bv1") {
          profiled(s, dir)
            .select($"doc_id", explode($"toks").as("term"))
            .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        }.cache()
    }
}
