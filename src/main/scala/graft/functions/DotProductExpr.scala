package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two double arrays, WITH codegen — the
  * pair-scan hot path when per-vector norms are PRECOMPUTED (the IVF
  * near-dup join scores every routed pair; [[CosineSimilarity]]'s
  * fused loop recomputes both norms per PAIR — 3 multiply-adds per element
  * where the dot needs 1, so hoisting the norms to one-per-vector cuts the
  * quadratic stage's arithmetic ~3×). Accumulation order is
  * ascending-index, identical to the HOF fold and DuckDB's
  * list_dot_product. Length mismatch → NULL (the CosineSimilarity
  * contract).
  */
final case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}
