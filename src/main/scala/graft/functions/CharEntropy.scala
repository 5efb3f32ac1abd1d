package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd character-level Shannon entropy (bits/char) of a string.
  *
  * The relational formulation (see the q_text_entropy history: explode every
  * character position into a row → two hash aggregations → sorted fold)
  * multiplies the corpus by its average document LENGTH before the first
  * shuffle — a 600-char mean document turns 1 TB of text into 600 G
  * intermediate rows. This expression computes the same value in one pass
  * over the string bytes inside WholeStageCodegen: map-only, zero shuffle,
  * zero row blowup.
  *
  * Bit-identical by construction to both the old relational plan and the
  * DuckDB oracle CTE:
  *  - characters are Unicode CODE POINTS (what Spark `substring(s,i,1)` and
  *    DuckDB `SUBSTRING` enumerate — surrogate pairs count once);
  *  - per-character counts are folded in ASCENDING count order (ties carry
  *    identical terms, so tie order cannot change the sum) with double
  *    accumulation: Σ n·ln(n), exactly the old `sort_array(collect_list)`
  *    + `aggregate(…)` chain;
  *  - H = (ln N − Σ/N) / ln 2 with the same Math.log calls Spark's `ln`
  *    codegen emits.
  * NULL for the empty string (no distribution), matching the relational
  * version's `length(text) > 0` contract.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_entropy expects a STRING argument, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (s.numChars() == 0) null else CharEntropy.compute(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |if ($c.numChars() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CharEntropy.compute($c);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {

  /** One-pass entropy of a non-empty string; called from generated code. */
  def compute(s: UTF8String): Double = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1
    }
    val arr = new Array[Long](counts.size())
    val it = counts.values().iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next()(0); k += 1 }
    java.util.Arrays.sort(arr)
    var sum = 0.0
    k = 0
    while (k < arr.length) {
      val x = arr(k).toDouble
      sum += x * Math.log(x)
      k += 1
    }
    (Math.log(n.toDouble) - sum / n.toDouble) / Math.log(2.0)
  }

  val ident: FunctionIdentifier = FunctionIdentifier("char_entropy")
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CharEntropy].getName, null, "char_entropy",
    "_FUNC_(s) - character-level Shannon entropy of a string in bits/char", "")
  val builder: Seq[Expression] => Expression = {
    case Seq(s) => CharEntropy(s)
    case other => throw new IllegalArgumentException(
      s"char_entropy expects 1 argument, got ${other.size}")
  }
}
