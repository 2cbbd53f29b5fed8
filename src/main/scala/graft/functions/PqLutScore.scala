package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Asymmetric-distance LUT sum for product-quantized codes — the
  * per-row kernel of the IVFADC bulk-serving tier (VERDICT r16 #3).
  *
  * Inputs: a row's `m` sub-codes (array<int>) and a query's FLATTENED
  * lookup table (array<double>, m×ksub entries, laid out
  * `lut[mi*ksub + j] = dot(q_sub_mi, codebook(mi)(j))`). Returns
  * `Σ_mi lut[mi*ksub + codes[mi]]` — the quantized residual dot
  * product; the caller reconstructs `sim ≈ (q·c_list + Σ) / (|q|·|v|)`
  * with plain codegen'd arithmetic around it.
  *
  * Why an Expression: this runs once per (query, probed corpus row) —
  * the bulk tier's hot path, the same corpus-sized-scoring class the
  * native cosine covers for exact rerank. A HOF composition
  * (zip_with over a sequence index) would be CodegenFallback:
  * interpreted lambda per element, boxed intermediates. This is one
  * primitive loop ([[PqLutScore.compute]]), which `eval` and the
  * generated code inside whole-stage codegen both call.
  *
  * ksub is derived per row as lut.length / codes.length; a lut whose
  * length is not a multiple of the code count, an empty code array, or
  * an out-of-range code yields NULL (loud in the scored output), never
  * a misaligned lookup.
  */
case class PqLutScore(left: Expression, right: Expression)
    extends BinaryExpression {

  // NULL is produced for misaligned lut/code shapes even when both
  // inputs are non-null, so nullability cannot be inherited
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_lut_score expects (array<int> codes, array<double> lut), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_lut_score"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqLutScore.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.functions.PqLutScore.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqLutScore {
  /** The kernel `eval` and generated code both call: NULL (Java null)
    * for a misaligned LUT, an empty code array, a NULL or out-of-range
    * code, or a NULL LUT entry it reads. */
  def compute(codes: ArrayData, lut: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    val n = lut.numElements()
    if (m == 0 || n % m != 0) return null
    val ksub = n / m
    var s = 0.0; var mi = 0
    while (mi < m) {
      if (codes.isNullAt(mi)) return null
      val c = codes.getInt(mi)
      if (c < 0 || c >= ksub) return null
      if (lut.isNullAt(mi * ksub + c)) return null
      s += lut.getDouble(mi * ksub + c)
      mi += 1
    }
    s
  }

  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(PqLutScore(GraftBridge.expr(a), GraftBridge.expr(b)))
}
