package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unrestricted Damerau-Levenshtein distance — edit distance where a
  * transposition of two ADJACENT characters counts as one operation,
  * and (unlike the restricted/OSA variant) a transposed pair may be
  * edited again ("CA"→"ABC" = 2, not 3). This is the variant DuckDB's
  * `damerau_levenshtein` computes (probed: CA/ABC→2, ab/ba→1), so the
  * x200 fuzzy-join entry runs the same function name in both dialects.
  *
  * Spark ships plain `levenshtein` only; transposition-aware distance
  * is the standard typo model for names/titles (swapped letters are
  * the most common human typo), so the dedup tier wants it as a native
  * codegen'd Expression — a Scala UDF here would cut the whole-stage
  * codegen span of the candidate-join filter it runs inside.
  *
  * Algorithm: Lowrance-Wagner DP with the last-occurrence row (`da`),
  * O(|a|·|b|) time, over Unicode CODE POINTS (not UTF-16 code units —
  * ADVICE r7 #3): a surrogate pair is one character, so a transposed
  * astral-plane pair costs 1, and on ASCII (the x200 oracle columns)
  * code points, UTF-16 units and bytes all coincide, keeping the
  * DuckDB hash gate unit-independent. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"damerau_levenshtein expects (string, string), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DamerauLevenshtein.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {

  /** Static so generated Java calls it directly (object → static
    * forwarder, same pattern as [[UnicodeFold]]). */
  def compute(ua: UTF8String, ub: UTF8String): Int = {
    // Fold UTF-16 to code points once; the DP runs over int arrays.
    val a = ua.toString.codePoints().toArray
    val b = ub.toString.codePoints().toArray
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    // d is (n+2) x (m+2) with the -1 border at index 0 (Lowrance-Wagner)
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= m) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    // last row index (1-based) where each code point occurred in `a` —
    // queried per CELL, so it must be a primitive array, not a boxed
    // map (a HashMap getOrDefault per cell boxes O(n·m) Integers on the
    // fuzzy-join hot path this expression exists for). Only b's code
    // points are ever queried: map them to dense ids once (m + n boxed
    // lookups total), then the inner loop reads ints.
    val alpha = new java.util.HashMap[Integer, Integer]()
    val bId = new Array[Int](m)
    j = 0
    while (j < m) {
      var id: Int = alpha.getOrDefault(b(j), -1)
      if (id == -1) { id = alpha.size(); alpha.put(b(j), id) }
      bId(j) = id
      j += 1
    }
    val da = new Array[Int](alpha.size())
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k = da(bId(j - 1))
        val l = db
        val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
        j += 1
      }
      val aid: Int = alpha.getOrDefault(a(i - 1), -1)
      if (aid >= 0) da(aid) = i
      i += 1
    }
    d(n + 1)(m + 1)
  }

  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(DamerauLevenshtein(GraftBridge.expr(a), GraftBridge.expr(b)))
}
