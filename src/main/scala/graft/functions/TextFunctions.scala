package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline expression builders (SURVEY.md north-star surface: dedup,
  * text analysis). Everything here is built from `org.apache.spark.sql
  * .functions` so it stays inside Catalyst (codegen'd where Spark supports
  * it, no Scala UDFs) and — critically for the correctness gate — has a
  * byte-identical DuckDB SQL spelling for the oracle:
  *
  *   - tokens: `split(trim(x), '\s+')` ↔ `string_split_regex(trim(x),'\s+')`
  *   - hashes: `md5(utf8)` is the portable hash. MinHash needs only a total
  *     order on hash values, so we take the lexicographic MIN of fixed-width
  *     lowercase hex strings — identical in any engine, no 64-bit integer
  *     conversion games.
  *
  * Scale notes (100 TB): every function is a narrow per-row expression —
  * no shuffle, no UDF serialization boundary; the only wide ops in the
  * dedup pipeline are the groupBy(signature) / join(shingle) steps in
  * [[graft.queries.DedupQueries]], which shuffle on short fixed-width hex
  * keys.
  */
object TextFunctions {

  /** Whitespace tokenization. The reference has no tokenizer (its payloads
    * are opaque JSON); this is the north-star text surface.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles: `["a b c", "b c d", ...]`. Empty array when the
    * document has fewer than `n` tokens. Routed through the codegen'd
    * native expression [[graft.functions.expressions.ShinglesExpr]],
    * installed per session like [[VectorFunctions.dot]]'s.
    */
  def wordShingles(toks: Column, n: Int): Column =
    call_function("graft_shingles", toks, lit(n))

  /** The pure-builtin spelling of [[wordShingles]] (higher-order transform,
    * no custom expression). Kept as the semantic reference: the spec
    * asserts both produce identical shingle arrays. Guard required: Spark's
    * `sequence(0, negative)` would generate a DESCENDING range.
    */
  def wordShinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        j => concat_ws(" ", (1 to n).map(k => element_at(toks, j + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Portable keyed hash: lowercase hex md5 of `"<key>:<value>"`. Used as
    * the i-th MinHash function (take MIN over shingles) — a K-wise
    * independent family at the cost of K digests per shingle. (SimHash
    * does NOT use this: its 16 bits need no independent functions, so it
    * derives all of them from ONE unkeyed digest per token — hex digit b
    * `>= '8'` is bit b. Lexicographic compare on a single hex char ==
    * numeric >= 8, identically in Spark and DuckDB.)
    */
  def keyedMd5(key: Int, value: Column): Column =
    md5(concat(lit(s"$key:"), value).cast("binary"))

  /** BPE-ish token count: words OR single non-space punctuation, the usual
    * pre-tokenizer shape. Same RE2/Java-regex semantics for this pattern.
    */
  val bpeTokenPattern = "\\w+|[^\\w\\s]"

  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(bpeTokenPattern))
}
