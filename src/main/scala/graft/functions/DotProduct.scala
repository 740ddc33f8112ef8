package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two `array<float>` columns — the
  * building block under cosine scoring when norms can be hoisted: for
  * all-pairs / candidate-pair similarity (SURVEY §2.E), computing
  * `dot(a,b) / (nrm_a * nrm_b)` with per-vector norms precomputed once does
  * a third of the per-pair arithmetic of a fused cosine (which re-derives
  * both norms for every pair). Same null semantics as CosineSimilarity:
  * null input, length mismatch, or (when the schema admits it) a null
  * element returns null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  private lazy val mayHaveNullElements: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNullElements && (x.isNullAt(i) || y.isNullAt(i))) return null
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nullEl = ctx.freshName("nullEl")
      val elementCheck =
        if (mayHaveNullElements)
          s"if ($x.isNullAt($i) || $y.isNullAt($i)) { $nullEl = true; break; }"
        else ""
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  boolean $nullEl = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elementCheck
         |    $dot += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  if ($nullEl) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[DotProduct].getCanonicalName, "dot_product")

  /** Runtime registration on any session, however it was built; called
    * by Tables.register. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product"),
      info,
      (children: Seq[Expression]) => DotProduct(children.head, children(1)))
}
