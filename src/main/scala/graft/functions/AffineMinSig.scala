package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The MinHash signature reduction as one fused primitive loop:
  * element i = min over the input hash array of (hv·aᵢ + bᵢ) mod 2³¹−1,
  * with the permutation constants drawn from the repo's single source of
  * truth ([[graft.llm.Dedup.portablePerms]] — consecutive primes, shared
  * verbatim with every DuckDB oracle's perm VALUES table).
  *
  * Semantics are IDENTICAL to the HOF composition it replaces (kept as
  * `Dedup.affineSignatureHof`, the executable specification — LlmOpsSpec
  * holds the two bit-identical), including the null ladder:
  *  - a NULL input array yields an array of `numHashes` NULLs (the HOF's
  *    array(array_min(transform(NULL,…))×n) shape), NOT a NULL array;
  *  - NULL elements are skipped exactly as array_min skips them;
  *  - an empty or all-NULL array yields all-NULL signature slots.
  *
  * Why an Expression: Spark evaluates HOF lambda bodies INTERPRETED per
  * element, so the HOF form paid numHashes × |shingles| boxed
  * multiply-mod closure dispatches per row — measured at ~1.7 s per full
  * corpus pass at sf0.1 (SCALE.md §30), a visible slice of every
  * MinHash entry (x52/x74/x89/x118/x177). This kernel
  * ([[AffineMinSig.compute]], which `eval` and the generated code both
  * call) is numHashes × |shingles| primitive ops. The 2⁵³ exactness
  * invariant is inherited: hv < 2³² (both hash families) and
  * portablePerms' a < 2²¹ keep hv·a + b < 2⁵³, the window both engines
  * evaluate exactly. */
case class AffineMinSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private lazy val perms = graft.llm.Dedup.portablePerms(numHashes)
  private lazy val as: Array[Long] = perms.map(_._1).toArray
  private lazy val bs: Array[Long] = perms.map(_._2).toArray
  private lazy val nullSig: GenericArrayData =
    new GenericArrayData(Array.fill[Any](numHashes)(null))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"affine_minsig expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "affine_minsig"

  override def eval(input: InternalRow): Any =
    AffineMinSig.compute(child.eval(input).asInstanceOf[ArrayData], as, bs, nullSig)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val asRef = ctx.addReferenceObj("affineAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("affineBs", bs, "long[]")
    val nullSigRef = ctx.addReferenceObj("affineNullSig", nullSig,
      classOf[GenericArrayData].getName)
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.functions.AffineMinSig.compute(${childGen.isNull}
          ? (org.apache.spark.sql.catalyst.util.ArrayData) null : ${childGen.value},
          $asRef, $bsRef, $nullSigRef);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AffineMinSig {
  /** The kernel `eval` and generated code both call: `nullSig` for a
    * NULL, empty or all-NULL `arr`, else slot i = min over the non-NULL
    * hashes of (hv·as(i) + bs(i)) mod 2³¹−1. */
  def compute(arr: ArrayData, as: Array[Long], bs: Array[Long],
              nullSig: ArrayData): ArrayData = {
    if (arr == null) return nullSig
    val n = arr.numElements()
    val mins = new Array[Long](as.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        any = true
        val hv = arr.getLong(e)
        var i = 0
        while (i < as.length) {
          val x = (hv * as(i) + bs(i)) % 2147483647L
          if (x < mins(i)) mins(i) = x
          i += 1
        }
      }
      e += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else nullSig
  }

  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(hvs: Column, numHashes: Int): Column =
    GraftBridge.column(AffineMinSig(GraftBridge.expr(hvs), numHashes))

  /** The SQL builder ([[graft.GraftExtensions]]): numHashes must be an
    * integer literal in 1..1024 (the perm table is generated, not
    * listed — an absurd width is a caller bug, not a workload). */
  def fromExprs(exprs: Seq[Expression]): AffineMinSig = {
    val n = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"affine_minsig numHashes must be an integer literal, got $other")
    }
    require(n >= 1 && n <= 1024,
      s"affine_minsig numHashes must be in 1..1024, got $n")
    AffineMinSig(exprs(0), n)
  }
}
