package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash (Charikar '02) over a token-array column.
  *
  * Semantics are IDENTICAL to the HOF composition it replaces
  * (llm.Dedup.simHashHof, kept for the equivalence spec): per token
  * h = xxhash64(token) (seed 42, Spark's SQL function), 64 bit-votes
  * vote_b += (bit b of h) ? +1 : -1, signature packed MSB-first from
  * bit 0's vote (the HOF's foldLeft shift/or order), tie (vote == 0)
  * → 0 bit, null token → h = 42 (xxhash64 returns the seed on null),
  * null/empty array → null/0L.
  *
  * Why an Expression: the HOF form runs 64 interpreted aggregate()
  * passes over each token-hash array — ~64·|tokens| lambda-tree
  * evaluations per row (CodegenFallback, boxed accumulators). This is
  * one primitive loop ([[SimHash64.compute]]), which `eval` and the
  * generated code inside whole-stage codegen both call: hash each
  * token once, update an int[64] vote table, pack. Same
  * integer arithmetic, so swapping it under the spec-checked x53
  * operator cannot move a result.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash64.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** The kernel `eval` and generated code both call. */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L
        else org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      sig = (sig << 1) | (if (votes(b) > 0) 1L else 0L)
      b += 1
    }
    sig
  }

  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(words: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expr(words)))
}
