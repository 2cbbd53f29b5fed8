package graft.functions

import org.apache.spark.sql.Column
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
  * MinHash entry (x52/x74/x89/x118/x177). This loop is numHashes ×
  * |shingles| primitive ops. The 2⁵³ exactness invariant is inherited:
  * hv < 2³² (both hash families) and portablePerms' a < 2²¹ keep
  * hv·a + b < 2⁵³, the window both engines evaluate exactly. */
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

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return nullSig
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        any = true
        val hv = arr.getLong(e)
        var i = 0
        while (i < numHashes) {
          val x = (hv * as(i) + bs(i)) % 2147483647L
          if (x < mins(i)) mins(i) = x
          i += 1
        }
      }
      e += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else nullSig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val asRef = ctx.addReferenceObj("affineAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("affineBs", bs, "long[]")
    val nullSigRef = ctx.addReferenceObj("affineNullSig", nullSig,
      classOf[GenericArrayData].getName)
    val arr = ctx.freshName("arr")
    val n = ctx.freshName("n")
    val mins = ctx.freshName("mins")
    val any = ctx.freshName("any")
    val e = ctx.freshName("e")
    val hv = ctx.freshName("hv")
    val i = ctx.freshName("i")
    val x = ctx.freshName("x")
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
      if (${childGen.isNull}) {
        ${ev.value} = $nullSigRef;
      } else {
        org.apache.spark.sql.catalyst.util.ArrayData $arr = ${childGen.value};
        int $n = $arr.numElements();
        long[] $mins = new long[$numHashes];
        java.util.Arrays.fill($mins, Long.MAX_VALUE);
        boolean $any = false;
        for (int $e = 0; $e < $n; $e++) {
          if (!$arr.isNullAt($e)) {
            $any = true;
            long $hv = $arr.getLong($e);
            for (int $i = 0; $i < $numHashes; $i++) {
              long $x = ($hv * $asRef[$i] + $bsRef[$i]) % 2147483647L;
              if ($x < $mins[$i]) $mins[$i] = $x;
            }
          }
        }
        ${ev.value} = $any
          ? (org.apache.spark.sql.catalyst.util.ArrayData)
              org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
                .fromPrimitiveArray($mins)
          : (org.apache.spark.sql.catalyst.util.ArrayData) $nullSigRef;
      }
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AffineMinSig {
  /** Column-DSL form. Wraps the expression DIRECTLY — no registry
    * lookup, so the Column analyzes on ANY session, prepped or not
    * (ADVICE r12 #1; the SQL name stays registered for the SQL dialect). */
  def apply(hvs: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      AffineMinSig(org.apache.spark.sql.GraftBridge.expr(hvs), numHashes))

  /** Expression builder: numHashes must be an integer literal in
    * 1..1024 (the perm table is generated, not listed — an absurd width
    * is a caller bug, not a workload). */
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

  /** Register as a SQL function on the session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "affine_minsig",
      exprs => { require(exprs.length == 2,
        s"affine_minsig expects 2 arguments, got ${exprs.length}")
        fromExprs(exprs) },
      "scala_udf")
}
