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
  * interpreted lambda per element, boxed intermediates. This is a
  * tight primitive loop inside whole-stage codegen.
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val ksub = ctx.freshName("ksub")
      val s = ctx.freshName("s")
      val mi = ctx.freshName("mi")
      val c = ctx.freshName("c")
      s"""
         |int $m = $a.numElements();
         |int $n = $b.numElements();
         |if ($m == 0 || $n % $m != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $ksub = $n / $m;
         |  double $s = 0.0;
         |  for (int $mi = 0; $mi < $m; $mi++) {
         |    if ($a.isNullAt($mi)) { ${ev.isNull} = true; break; }
         |    int $c = $a.getInt($mi);
         |    if ($c < 0 || $c >= $ksub || $b.isNullAt($mi * $ksub + $c)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $s += $b.getDouble($mi * $ksub + $c);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqLutScore {
  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(PqLutScore(GraftBridge.expr(a), GraftBridge.expr(b)))
}
