package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd Jaro-Winkler similarity — the record-linkage scorer
  * Spark ships without (it has only `levenshtein`). Levenshtein charges
  * every edit equally, so "MARTHA"/"MARHTA" (a transposition, almost surely
  * the same entity) scores as badly as two substitutions; Jaro-Winkler
  * counts window-bounded matches and half-weights transpositions, then
  * boosts shared prefixes — the standard name/title matcher (Winkler 1990,
  * census record linkage).
  *
  * Semantics pinned to the classic definition, which DuckDB's
  * `jaro_winkler_similarity` also implements (verified value-for-value in
  * DedupSpec and by the q_fuzzy_jw oracle): match window
  * ⌊max(|a|,|b|)/2⌋−1, transpositions half-weighted, Winkler boost only
  * when jaro > 0.7, prefix capped at 4, prefix weight 0.1. Both-empty → 1,
  * one-empty → 0. Comparison is per Java char (UTF-16 unit) — identical to
  * codepoints on the BMP text this engine scores.
  *
  * Like [[CosineSimilarity]]/[[CharEntropy]]: a true Catalyst `Expression`
  * with `doGenCode`, so it runs inside WholeStageCodegen with no UDF
  * serialization boundary, and the O(|a|·|b|)-window scan happens once per
  * row, map-only — the blocking-key join around it (see `q_fuzzy_jw`)
  * bounds how many pairs ever reach it at 100 TB.
  */
case class JaroWinkler(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler expects (STRING, STRING), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Classic Jaro-Winkler; called from generated code. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatched = new Array[Boolean](la)
    val bMatched = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatched(j) && a.charAt(i) == b.charAt(j)) {
          aMatched(i) = true; bMatched(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars of a vs matched chars of b, in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatched(i)) {
        while (!bMatched(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  val ident: FunctionIdentifier = FunctionIdentifier("jaro_winkler")
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[JaroWinkler].getName, null, "jaro_winkler",
    "_FUNC_(a, b) - Jaro-Winkler similarity of two strings in [0, 1]", "")
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => JaroWinkler(a, b)
    case other => throw new IllegalArgumentException(
      s"jaro_winkler expects 2 arguments, got ${other.size}")
  }
}
