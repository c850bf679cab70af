package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector expression builders (north-star similarity surface).
  *
  * All arithmetic is a LEFT FOLD over the array in index order with double
  * accumulation (`zip_with` + `aggregate`), which makes results bitwise
  * reproducible and lets the DuckDB oracle (`list_dot_product` over
  * `DOUBLE[]`, also a sequential fold) agree to the last ulp.
  *
  * Scale notes: higher-order functions don't whole-stage-codegen, but they
  * evaluate per-row with zero shuffle and no UDF boundary; for a 100 TB
  * run the hot path would be promoted to a custom Catalyst Expression with
  * `doGenCode` over primitive float arrays — semantics identical, so the
  * oracle stays valid. The wide ops (top-k per query, bucket joins) live in
  * [[graft.queries.SimilarityQueries]].
  */
object VectorFunctions {

  /** Dot product in double precision, index order — the codegen'd native
    * expression [[graft.functions.expressions.DotProductD]], resolved by
    * name in the session that analyzes the plan: every `SparkEntry.queries`
    * entry and the engine's public operators install it on entry; any
    * other caller runs `GraftFunctions.register(spark)` once per session
    * (a no-op when already installed).
    */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a.cast("array<double>"), b.cast("array<double>"))

  /** The pure-builtin spelling of [[dot]] (higher-order functions, no custom
    * expression). Kept as the semantic reference: the spec asserts both
    * produce bitwise-identical sums.
    */
  def hofDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Signed random-hyperplane sketch bucket (LSH for cosine): bit p is the
    * sign of `<v, s_p>` where `s_p` is a deterministic ±1 vector. Buckets
    * collide for directionally-close vectors; near-neighbor search then
    * probes only the query's bucket.
    *
    * The planes are Walsh functions: `s_p[d] = (-1)^popcount(d & (p+1))` —
    * mutually orthogonal ±1 vectors, distinct for every `p < dim - 1`,
    * fully deterministic and embeddable as literals in oracle SQL. (The
    * first two coincide with single-bit sign masks; higher planes mix bits
    * so the family never degenerates when planes scale past log2(dim).)
    */
  def hyperplaneSigns(plane: Int, dim: Int): Seq[Double] = {
    require(plane < dim - 1, s"only ${dim - 1} distinct Walsh planes exist at dim $dim")
    (0 until dim).map(d =>
      if (java.lang.Integer.bitCount(d & (plane + 1)) % 2 == 0) 1.0 else -1.0)
  }

  def lshBucket(v: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      val s = typedLit(hyperplaneSigns(p, dim))
      when(dot(v, s) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** How many LSH blocking planes a corpus of `n` vectors needs: the
    * smallest p in [floorPlanes, cap] with expected cell size n / 2^p at
    * most `targetCell`. This is the scale dial that keeps blocked
    * self-joins linear: within a FIXED cell count, pair work grows
    * quadratically with corpus size; growing planes with log(n) pins the
    * expected cell — and so the per-row pair work — constant. Spelled as
    * integer threshold comparisons (not a float log2) so the DuckDB oracle
    * ladder is bit-identical at every boundary.
    */
  def blockPlanesFor(n: Long, targetCell: Long = 256L, floorPlanes: Int = 2,
      cap: Int = 8): Int =
    floorPlanes + (floorPlanes until cap).count(p => n > (targetCell << p))

  /** The SQL spelling of [[blockPlanesFor]] over `SELECT count(*) c` —
    * generated from the same constants so both engines choose the same
    * plane count for the same data.
    */
  def blockPlanesSql(countCol: String, targetCell: Long = 256L,
      floorPlanes: Int = 2, cap: Int = 8): String =
    s"$floorPlanes" + (floorPlanes until cap).map(p =>
      s" + (CASE WHEN $countCol > ${targetCell << p} THEN 1 ELSE 0 END)").mkString
}
