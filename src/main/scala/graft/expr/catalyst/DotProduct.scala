package graft.expr.catalyst

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product over two double arrays with whole-stage codegen.
  *
  * Spark's higher-order functions (zip_with + aggregate) are
  * CodegenFallback — every element goes through interpreted eval — which
  * makes them the hot spot of the pairwise-similarity stage. This
  * expression generates a tight primitive loop instead, with the same
  * left-to-right summation order (0.0 + x1*y1 + x2*y2 + ...) so results
  * are bit-identical to the HOF formulation and to the DuckDB oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers guarantee array<double> inputs (Fns.f64 / Fns.normalized)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session registration for the native functions (Column(expr) is not
  * public API in Spark 4; the registry + call_function route is).
  */
object GraftFunctions {
  /** Idempotent: a name already in the session's registry is skipped
    * (check before inject), so per-query callers do not replace the
    * same builders again and again.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def add(name: String)(builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    add("dot_product")(exprs => DotProduct(exprs(0), exprs(1)))
    add("mongo_cmp")(exprs => MongoCmp(exprs(0), exprs(1)))
    add("mongo_sort_key")(exprs => MongoSortKey(exprs(0)))
    // aggregate: the analyzer wraps a bare AggregateFunction in an
    // AggregateExpression, so the builder returns the function itself
    add("top_k_min")(exprs => TopKMin(exprs(0), exprs(1)))
    add("hashed_margin")(exprs => HashedMarginInt(exprs(0), exprs(1)))
    // Spark's own codegen'd Bloom probe (BloomFilterMightContain) is
    // registered only in the INTERNAL registry (it backs runtime join
    // filters); surface it for Dedup.dedupAgainst's reference-corpus
    // pre-filter. The filter argument must be foldable (a lit of the
    // sketch bytes) or a scalar subquery — the expression type-checks
    // that itself.
    add("bloom_might_contain")(exprs => org.apache.spark.sql.catalyst
      .expressions.BloomFilterMightContain(exprs(0), exprs(1)))
  }
}
