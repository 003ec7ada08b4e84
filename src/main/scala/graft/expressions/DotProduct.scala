package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Loud dimension guard for [[DotProduct]], in both evaluation paths
  * (as [[HyperplaneKernel]] has). The reference `zip_with` form null-pads
  * the shorter array and returns NULL; a loop bounded by the shorter
  * length would instead return a plausible wrong score. */
private object RaggedGuard {
  def length(fn: String, x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"$fn: arrays of unequal length ($n vs ${y.numElements()})")
    n
  }

  def code(fn: String, a: String, b: String): String =
    s"""if ($a.numElements() != $b.numElements()) {
       |  throw new IllegalArgumentException("$fn: arrays of unequal length (" +
       |    $a.numElements() + " vs " + $b.numElements() + ")");
       |}""".stripMargin
}

/** Native dot product over two double arrays, with whole-stage codegen
  * (`doGenCode` emits one fused loop, no per-element boxing). It is the
  * one array reduction under the engine's one cosine:
  * [[graft.operators.Similarity.norm]] calls it once per vector and
  * [[graft.operators.Similarity.cosinePrenormed]] once per scored pair,
  * the hot loop of every ANN verify stage. Same ascending-index IEEE
  * summation as the `aggregate(zip_with(...))` Column form —
  * bit-identical results (spec-pinned, CosineExprSpec) — with no
  * intermediate product array. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = RaggedGuard.length(prettyName, x, y)
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |${RaggedGuard.code(prettyName, a, b)}
         |int $n = $a.numElements();
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DotProduct {
  /** Column form of `graft_dot` ([[GraftExtensions]] registers it). */
  def column(a: Column, b: Column): Column = call_function("graft_dot", a, b)
}
