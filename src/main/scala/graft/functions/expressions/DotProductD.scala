package graft.functions.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain,
  Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The similarity-search surface (SURVEY.md north-star; cosine top-k /
  * LSH probing in [[graft.queries.SimilarityQueries]]) evaluates a dot
  * product per candidate PAIR — the one expression in the engine that runs
  * O(pairs × dim) times. The `zip_with`+`aggregate` higher-order spelling
  * allocates a lambda frame per element and never enters whole-stage
  * codegen; this expression is a tight primitive loop that does, which is
  * the difference between interpreted seconds at sf0.1 and hours at 100 TB.
  *
  * Semantics are IDENTICAL to the higher-order spelling and to DuckDB's
  * `list_dot_product` over `DOUBLE[]`: a sequential index-order sum in
  * double precision — so the DuckDB oracle stays bit-true.
  *
  * Null law: null if either array is null; null ELEMENTS contribute 0
  * (embeddings are non-null throughout the fixtures; the law only needs to
  * be deterministic).
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $sum += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** graft's native expressions: ONE (identifier, info, builder) table that
  * both installation paths read — the imperative [[GraftFunctions.register]]
  * and the declarative [[graft.GraftExtensions]]. Spark-first extension
  * point (c) from the design brief: Catalyst Expressions, not UDFs.
  */
object GraftFunctions {
  private def fn[E: scala.reflect.ClassTag](name: String)(
      build: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(scala.reflect.classTag[E].runtimeClass.getName, name), build)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn[DotProductD]("graft_dot")(c => DotProductD(c.head, c(1))),
    // Bloom-filter pair for semi-join pre-pruning (the runtime-filter
    // primitive Spark itself uses for shuffle pruning, exposed as a
    // first-class surface): graft_bloom_agg(xxhash64(k)[, est_items])
    // builds a mergeable filter, graft_bloom_contains(bf, xxhash64(k))
    // probes it. Catalyst-native (no UDF) — the aggregate is
    // TypedImperative with partial merge, the probe codegens.
    fn[BloomFilterAggregate]("graft_bloom_agg") {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, n) => new BloomFilterAggregate(c, n)
      case _ => throw new IllegalArgumentException(
        "graft_bloom_agg(hash64[, est_items]) takes 1 or 2 arguments")
    },
    fn[BloomFilterMightContain]("graft_bloom_contains")(c =>
      BloomFilterMightContain(c.head, c(1))),
    fn[TokenEntropyExpr]("graft_token_entropy")(c => TokenEntropyExpr(c.head)),
    fn[TopTokenShareExpr]("graft_top_token_share")(c => TopTokenShareExpr(c.head)),
    fn[ShinglesExpr]("graft_shingles") {
      case Seq(toks, Literal(n: Int, _)) => ShinglesExpr(toks, n)
      case _ => throw new IllegalArgumentException(
        "graft_shingles(tokens, n) requires a literal integer n")
    })

  /** Install every function of [[all]] that `spark`'s registry lacks —
    * idempotent, and a no-op on a session that already has them (built
    * with [[graft.GraftExtensions]], or registered before).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
