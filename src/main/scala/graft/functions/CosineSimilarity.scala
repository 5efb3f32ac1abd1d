package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two ARRAY<FLOAT> columns.
  *
  * The higher-order-function formulation (zip_with + aggregate, see
  * [[graft.ops.Similarity]]) is semantically identical but evaluates an
  * interpreted lambda per element — for a 64-dim vector that is ~192
  * boxed expression evaluations per row. This expression compiles to a
  * single fused Java loop inside WholeStageCodegen: one pass, primitive
  * doubles, no allocation beyond the two primitive arrays.
  *
  * Accumulation order matches the HOF version exactly (ascending index,
  * double accumulators, dot / (√nx·√ny)), so results are bit-identical and
  * the same DuckDB oracle verifies both — including outside the happy path:
  * NULL if either input is NULL, if the lengths differ (zip_with would pad
  * with NULL and poison the sum), if any element is NULL (x*y propagates
  * NULL through the HOF aggregate), or if either norm is zero.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = xs.getFloat(i).toDouble; val y = ys.getFloat(i).toDouble
      dot += x * y; nx += x * x; ny += y * y
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val bad = ctx.freshName("bad")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $x = (double) $a.getFloat($i); double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $nx += $x * $x; $ny += $y * $y;
         |}
         |if ($bad || $nx == 0.0 || $ny == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val ident: FunctionIdentifier = FunctionIdentifier("cosine_sim")
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, null, "cosine_sim",
    "_FUNC_(a, b) - cosine similarity of two float vectors", "")
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"cosine_sim expects 2 arguments, got ${other.size}")
  }
}
