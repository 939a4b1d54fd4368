package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two float/double arrays.
  *
  * The composable form (`aggregate(zip_with(a,b,*), …)`) allocates an
  * intermediate array per evaluation and walks it three times; this
  * expression runs one fused loop directly over the unsafe `ArrayData` with
  * full whole-stage codegen — the hot path of similarity search / embedding
  * dedup where it executes once per candidate pair.
  *
  * Semantics match the composable form bit-for-bit: elements are widened to
  * double, accumulation is sequential, result = dot/(√na·√nb). Length
  * mismatch, a null element or an empty/zero-norm side yields null (like
  * zip_with's null-padding or a null product flowing through the
  * aggregate).
  */
@ExpressionDescription(
  usage = "_FUNC_(a, b) - cosine similarity of two numeric arrays.",
  examples = "> SELECT _FUNC_(array(1.0F, 0.0F), array(1.0F, 0.0F));\n 1.0")
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity expects two arrays of float or two arrays of " +
            s"double, got ${left.dataType.catalogString} and " +
            s"${right.dataType.catalogString}")
    }

  private lazy val isFloat = elemType(left).contains(FloatType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (isFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $x.$get($i);
         |    double $yi = (double) $y.$get($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else if (!${ev.isNull}) { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
