package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Perceptual image hashes over a luminance grid, as fused codegen'd
  * expressions (VERDICT r12 #3): the grid arrives as the `array<float>`
  * cell-luminance embedding the multimodal decode emits (4×4 = 16 cells
  * from [[graft.multimodal.Multimodal.decodeImage]]) or any row-major
  * grid vector (the embeddings table's 64 floats read as an 8×8 grid).
  *
  * PORTABLE INTEGER KERNEL (the x53/x79 policy): every float is
  * quantized FIRST — basis points, round-half-away-from-zero, exactly
  * `cast(round(cast(e AS DOUBLE)*10000) AS BIGINT)` on both engines
  * (the x267/x270 parity pattern) — and every bit decision is a strict
  * integer comparison, so DuckDB reproduces the signatures bit-for-bit
  * and the near-dup entry sits under the full hash gate. 32-bit
  * signatures for the same reason x79 chose them: BIGINT shift
  * semantics are only portable below the sign bit.
  *
  *  - aHash (average hash): bit j = (n·q[j] > Σq), j < min(n, 32) —
  *    cell-above-global-mean, the classic aHash decision spelled in
  *    integers (n·q[j] > Σq ⟺ q[j] > mean, exactly, no division).
  *  - dHash (difference hash): bit j = (q[2j] > q[2j+1]),
  *    j < min(n/2, 32) — adjacent-cell gradient over disjoint pairs,
  *    covering all 64 cells of an 8×8 grid in row-major order.
  *
  * Null elements quantize to 0 (the corpus has none; pinned so the
  * kernel is total). Why fused: the HOF spelling pays an interpreted
  * lambda per cell per row; this is one primitive loop, inside
  * whole-stage codegen via the shared static kernels. */
object PerceptualHash32 {

  /** `cast(round(cast(e AS DOUBLE)*10000) AS BIGINT)` — half away from
    * zero, matching Spark's round() (BigDecimal HALF_UP) and DuckDB's
    * round() on DOUBLE. Math.round would differ on negative halves. */
  def quantBp(e: Float): Long = {
    val x = e.toDouble * 10000.0
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
  }

  /** Width-parametric kernels: `width` = 32 is the PORTABLE config
    * (DuckDB BIGINT shifts are only defined below the sign bit —
    * measured: `1::BIGINT << 63` raises Out of Range); `width` = 64 is
    * the PRODUCTION config (JVM-only, spec-held like SimHash64's
    * production path), using all 64 grid cells for aHash and up to 128
    * for dHash. By construction the 64-bit signature EXTENDS the
    * 32-bit one: bits 0..31 are computed by the identical formula, so
    * `sig64 & 0xFFFFFFFF == sig32` on any input (pinned in
    * MultimodalSpec — the two configs can never drift apart). */
  def aHashW(arr: ArrayData, width: Int): Long = {
    val n = arr.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += (if (arr.isNullAt(i)) 0L else quantBp(arr.getFloat(i)))
      i += 1
    }
    val k = math.min(n, width)
    var sig = 0L
    var j = 0
    while (j < k) {
      val q = if (arr.isNullAt(j)) 0L else quantBp(arr.getFloat(j))
      if (n * q > sum) sig |= 1L << j
      j += 1
    }
    sig
  }

  def dHashW(arr: ArrayData, width: Int): Long = {
    val n = arr.numElements()
    val k = math.min(n / 2, width)
    var sig = 0L
    var j = 0
    while (j < k) {
      val a = if (arr.isNullAt(2 * j)) 0L else quantBp(arr.getFloat(2 * j))
      val b = if (arr.isNullAt(2 * j + 1)) 0L else quantBp(arr.getFloat(2 * j + 1))
      if (a > b) sig |= 1L << j
      j += 1
    }
    sig
  }

  def aHash(arr: ArrayData): Long = aHashW(arr, 32)
  def dHash(arr: ArrayData): Long = dHashW(arr, 32)
}

abstract class PerceptualHash32Base extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
}

/** 32-bit average hash of a float grid (see [[PerceptualHash32]]). */
case class AHash32(child: Expression) extends PerceptualHash32Base {
  override def prettyName: String = "ahash32"
  override def nullSafeEval(input: Any): Any =
    PerceptualHash32.aHash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PerceptualHash32.aHash($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 32-bit difference hash of a float grid (see [[PerceptualHash32]]). */
case class DHash32(child: Expression) extends PerceptualHash32Base {
  override def prettyName: String = "dhash32"
  override def nullSafeEval(input: Any): Any =
    PerceptualHash32.dHash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PerceptualHash32.dHash($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PRODUCTION 64-bit average hash (all 64 grid cells; JVM-only —
  * spec-held, never oracle-declared, per the measured DuckDB shift
  * bound). Low 32 bits ≡ [[AHash32]] by construction. */
case class AHash64(child: Expression) extends PerceptualHash32Base {
  override def prettyName: String = "ahash64"
  override def nullSafeEval(input: Any): Any =
    PerceptualHash32.aHashW(input.asInstanceOf[ArrayData], 64)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PerceptualHash32.aHashW($c, 64);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PRODUCTION 64-bit difference hash (up to 128 grid cells in disjoint
  * adjacent pairs). Low 32 bits ≡ [[DHash32]] by construction. */
case class DHash64(child: Expression) extends PerceptualHash32Base {
  override def prettyName: String = "dhash64"
  override def nullSafeEval(input: Any): Any =
    PerceptualHash32.dHashW(input.asInstanceOf[ArrayData], 64)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PerceptualHash32.dHashW($c, 64);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AHash32 {
  /** Direct expression wrap — session-independent (ADVICE r12 #1). */
  def apply(c: Column): Column =
    GraftBridge.column(AHash32(GraftBridge.expr(c)))
}

object DHash32 {
  /** Direct expression wrap — session-independent (ADVICE r12 #1). */
  def apply(c: Column): Column =
    GraftBridge.column(DHash32(GraftBridge.expr(c)))
}

object AHash64 {
  def apply(c: Column): Column =
    GraftBridge.column(AHash64(GraftBridge.expr(c)))
}

object DHash64 {
  def apply(c: Column): Column =
    GraftBridge.column(DHash64(GraftBridge.expr(c)))
}
