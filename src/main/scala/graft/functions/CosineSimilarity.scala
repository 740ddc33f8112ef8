package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `array<float>` columns — the
  * similarity-search hot path (SURVEY §2.E). A single fused loop in
  * whole-stage codegen: no intermediate array allocation per row, unlike the
  * `aggregate(zip_with(...))` higher-order-function formulation (which stays
  * as the portable SQL baseline in Queries.q48). At 100 TB the scoring loop
  * dominates ANN cost, so this is the custom-Expression case of the
  * built-in < Expression < UDF preference order. Measured (BenchOne
  * cosine_native_vs_hof, 250k scorings of 64-dim vectors, warm): native
  * 0.31 s vs HOF 2.9 s — ~9x.
  *
  * Returns null for null/length-mismatched inputs or zero-norm vectors.
  */
case class CosineSimilarity(left: Expression, right: Expression)
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
  override def prettyName: String = "cosine_similarity"

  // Null ELEMENT semantics match the HOF formulation (zip_with/aggregate):
  // any null slot nulls the whole score. The per-element check is emitted
  // only when the array schema admits nulls.
  private lazy val mayHaveNullElements: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNullElements && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
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
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  boolean $nullEl = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elementCheck
         |    final double $xv = (double) $x.getFloat($i);
         |    final double $yv = (double) $y.getFloat($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if ($nullEl || $nx == 0.0 || $ny == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getCanonicalName, "cosine_similarity")

  /** Runtime registration on any session, however it was built; called
    * by Tables.register. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_similarity"),
      info,
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1)))
}
