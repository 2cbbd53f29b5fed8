package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode accent folding — canonicalization for text dedup. Spark has
  * no built-in (collation-aware comparison exists, but nothing that
  * RETURNS the folded string for downstream hashing/shingling), so this
  * is a native Expression: NFD-decompose, drop non-spacing combining
  * marks (Mn), re-compose NFC. Matches DuckDB's utf8proc-backed
  * `strip_accents` on Latin input — including already-decomposed input
  * (e + U+0301 folds to e), which a naive per-codepoint mapping table
  * misses.
  *
  * Why an Expression and not a UDF: fold_accents feeds the dedup tier
  * (md5/minhash over canonical text), whose scans are whole-stage
  * codegen'd end to end; a Scala UDF would cut the codegen span and pay
  * encoder round-trips per row. The generated code is one static call —
  * with an ASCII fast path that returns the input buffer untouched, the
  * common case (most of a web corpus) costs one byte-scan.
  */
case class FoldAccents(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"fold_accents expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "fold_accents"

  override def nullSafeEval(input: Any): Any =
    UnicodeFold.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.UnicodeFold.fold($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Java-reachable helper (no companion class → static forwarder, so the
  * generated Java above can call it directly). */
object UnicodeFold {

  def fold(s: UTF8String): UTF8String = {
    // ASCII fast path: UTF8String's byte length == char count implies
    // pure ASCII, which NFD cannot change — return the input as-is.
    if (s.numBytes() == s.numChars()) return s
    val nfd = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      // iterate by CODE POINT, not UTF-16 unit: a supplementary-plane
      // combining mark (e.g. U+1D167, category Mn) is two surrogate
      // chars whose per-char getType is SURROGATE — a char-wise walk
      // would never strip it, where DuckDB's strip_accents does
      // (probe-confirmed), splitting the dedup tier's canonical hashes
      val cp = nfd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }
}

object FoldAccents {
  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(str: Column): Column =
    GraftBridge.column(FoldAccents(GraftBridge.expr(str)))
}
