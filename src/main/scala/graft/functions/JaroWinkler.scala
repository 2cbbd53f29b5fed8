package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity in [0,1] — the name/title matching score the
  * record-linkage literature standardized on (Winkler 1990): Jaro's
  * match-window similarity boosted by up to 4 characters of common
  * prefix (weight 0.1), applied only when the base similarity clears
  * 0.7. This is the variant DuckDB's `jaro_winkler_similarity` computes
  * (boost threshold 0.7, prefix cap 4, weight 0.1), so the x241 entry
  * runs the same scoring in both dialects.
  *
  * Spark ships no Jaro family at all; a codegen'd Expression (not a
  * UDF) keeps the score inside the whole-stage span of the candidate
  * join / top-k it feeds, same rationale as [[DamerauLevenshtein]].
  *
  * Runs over Unicode CODE POINTS (one astral character = one symbol),
  * matching the code-point contract of the sibling expressions; on the
  * ASCII oracle columns every unit choice coincides. O(|a|·|b|) worst
  * case via the match window (bound = max/2 - 1), O(|a|+|b|) extra
  * space. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler expects (string, string), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Static so generated Java calls it directly. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString.codePoints().toArray
    val b = ub.toString.codePoints().toArray
    val n = a.length
    val m = b.length
    // DuckDB returns 0 whenever EITHER side is empty — including both
    // empty (probed; the conventional definition says 1 there). The
    // oracle defines the contract, so match it.
    if (n == 0 || m == 0) return 0.0
    // Jaro match window: characters count as matching when equal and at
    // most `bound` positions apart.
    val bound = math.max(0, math.max(n, m) / 2 - 1)
    val aMatch = new Array[Boolean](n)
    val bMatch = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - bound)
      val hi = math.min(m - 1, i + bound)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a(i) == b(j)) {
          aMatch(i) = true; bMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // Transpositions: matched symbols, in order, that disagree.
    var t = 0
    var j = 0
    i = 0
    while (i < n) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      i += 1
    }
    val mm = matches.toDouble
    val jaro = (mm / n + mm / m + (mm - t / 2) / mm) / 3.0
    // Winkler prefix boost: only past the 0.7 threshold, prefix capped
    // at 4 symbols, weight 0.1.
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val cap = math.min(4, math.min(n, m))
    while (prefix < cap && a(prefix) == b(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(JaroWinkler(GraftBridge.expr(a), GraftBridge.expr(b)))
}
