package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector-similarity hot path.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a,b,_*_),0d,_+_)`) allocates a zipped array and
  * evaluates two interpreted lambdas per element; this expression
  * compiles to a bare primitive loop inside WholeStageCodegen — no
  * allocation, no virtual calls — which is what an O(pairs × dim)
  * similarity join spends all its time in.
  *
  * Summation is the same left-to-right fold as the HOF form, so results
  * are bitwise identical (spec-asserted) and safe to swap into
  * oracle-checked queries.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  // NULL semantics mirror the higher-order form exactly (so the two
  // are observation-equivalent): zip_with null-pads
  // unequal lengths and null elements poison the sum, hence result is
  // NULL when lengths differ or any element is null.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (ys.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
