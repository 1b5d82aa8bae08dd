package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the embedding dot product.
  *
  * The composable alternative — `aggregate(zip_with(a, b, _ * _), ...)`
  * — is evaluated by the interpreted higher-order-function path
  * (per-element lambda closures, boxed doubles) and breaks
  * whole-stage codegen; over O(n²) candidate pairs that dominates the
  * similarity queries. This expression generates a tight primitive
  * loop instead and stays inside codegen.
  *
  * Accumulation is left-to-right from 0.0 — exactly the fold order of
  * the HOF formulation and of DuckDB's `list_sum(list_transform(...))`
  * oracle, so results are bit-identical to both.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Callers guarantee array<double> inputs (vectors are cast before any
  // pair join); no ExpectsInputTypes because the engine only builds
  // this expression internally.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorFunctions {
  /** Ensure `graft_dot` exists in `spark`'s registry (idempotent —
    * skipped when already there, e.g. injected via
    * [[graft.GraftExtensions]]). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"))) {
      registry.createOrReplaceTempFunction(
        "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    }
  }

  /** Register `graft_dot` with the session ([[register]]) and return
    * a Column-level handle. */
  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }
}
