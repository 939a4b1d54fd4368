package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: integer squared L2 distance between two
  * long arrays (the quantized-vector distance of the ANN family).
  *
  * The composable form
  * `aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)), 0L, (acc,v)=>acc+v)` runs
  * interpreted (both HOFs are CodegenFallback) and allocates an
  * intermediate array per evaluation — at one evaluation per candidate
  * PAIR that dominated the q258 graph build (4M pairs × 64 dims). This
  * expression is one fused long loop over the unsafe `ArrayData` with full
  * whole-stage codegen; the tests keep the HOF form (`ScoringTwins`) as
  * the bit-identity cross-check (the MinHashSignature precedent).
  *
  * Semantics match the composable form exactly: length mismatch → null
  * (zip_with's null padding poisons the aggregate), any null element →
  * null, otherwise Σ(aᵢ−bᵢ)² in wrapping long arithmetic.
  */
@ExpressionDescription(
  usage = "_FUNC_(a, b) - integer squared L2 distance of two long arrays.",
  examples = "> SELECT _FUNC_(array(0L, 3L), array(4L, 0L));\n 25")
case class QDistL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left) && isLongArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"qdist_l2 expects two arrays of bigint, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $x.getLong($i) - $y.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QDistL2 =
    copy(left = newLeft, right = newRight)
}
