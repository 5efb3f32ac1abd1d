package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd BPE-ish sub-token counter: the number of maximal ASCII
  * letter runs, plus maximal digit runs, plus every other non-space code
  * point counted singly — exactly
  * `size(regexp_extract_all(s, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))`,
  * which is how q_text_quality originally computed it. The regex form costs
  * a backtracking-engine step per character AND materializes every match
  * into an array that is then only counted; this expression is one branchy
  * scan over the chars inside WholeStageCodegen — no allocation, no regex
  * machinery. (Same engineering as [[CharEntropy]]: when a per-row text
  * metric is the hot path at corpus scale, a fused single-pass expression
  * beats the compositional form by the length of the document.)
  *
  * Alternation order in the original regex is irrelevant to the COUNT: the
  * three classes are disjoint, so the tokenization is unambiguous — a
  * letter always extends/starts a letter run, a digit a digit run, and
  * anything else (space aside) matches singly. Non-ASCII characters fall in
  * the third class; supplementary code points count once (Java regex
  * matches a code point, so the scan advances by Character.charCount).
  */
case class SubTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"subtoken_count expects a STRING argument, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "subtoken_count"

  override def nullSafeEval(input: Any): Any =
    SubTokenCount.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SubTokenCount.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SubTokenCount =
    copy(child = newChild)
}

object SubTokenCount {

  @inline private def isLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** One branchy pass; called from generated code. */
  def compute(s: UTF8String): Int = {
    val str = s.toString
    val len = str.length
    var i = 0
    var n = 0
    while (i < len) {
      val c = str.charAt(i)
      if (isLetter(c)) {
        n += 1
        i += 1
        while (i < len && isLetter(str.charAt(i))) i += 1
      } else if (isDigit(c)) {
        n += 1
        i += 1
        while (i < len && isDigit(str.charAt(i))) i += 1
      } else if (c == ' ') {
        i += 1
      } else {
        n += 1
        i += Character.charCount(str.codePointAt(i))
      }
    }
    n
  }

  val ident: FunctionIdentifier = FunctionIdentifier("subtoken_count")
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SubTokenCount].getName, null, "subtoken_count",
    "_FUNC_(s) - count of letter runs + digit runs + other non-space chars", "")
  val builder: Seq[Expression] => Expression = {
    case Seq(s) => SubTokenCount(s)
    case other => throw new IllegalArgumentException(
      s"subtoken_count expects 1 argument, got ${other.size}")
  }
}
