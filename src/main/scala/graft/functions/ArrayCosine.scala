package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused single-pass cosine similarity between two array<double>
  * columns, with whole-stage codegen.
  *
  * Replaces the three-expression chain
  * `aggregate(zip_with(a,b,*)) / (sqrt(aggregate(...)) * sqrt(...))`
  * with one loop: no intermediate arrays are materialized and the
  * accumulation order (ascending index, independent accumulators) is
  * identical to the chained form, so results are bit-for-bit the same —
  * the DuckDB oracle comparisons are unaffected.
  *
  * Semantics: zips to the shorter length; null elements contribute 0
  * to all three accumulators (consistent in both interpreted and
  * codegen paths); a zero vector yields NaN/Infinity rather than an
  * ANSI error, matching the mathematical definition's partiality.
  */
case class ArrayCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"array_cosine requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
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
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $x.isNullAt($i) ? 0.0 : $x.getDouble($i);
         |  double $yv = $y.isNullAt($i) ? 0.0 : $y.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayCosine =
    copy(left = newLeft, right = newRight)
}
