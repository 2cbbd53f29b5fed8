package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native winnowing fingerprint extraction (Schleimer/Wilkerson/Aiken '03):
  * xxhash64 (seed 42, Spark's SQL function) of every k-char substring,
  * sliding-window-of-`window` minima, first-occurrence-distinct, as one
  * fused primitive loop returning array<long>.
  *
  * Semantics are IDENTICAL to the HOF composition it replaces (kept as
  * [[graft.llm.Fingerprint.fingerprintsHof]] for the equivalence spec):
  *  - hash positions i = 1..greatest(len-k+1, 1), hashing
  *    substr(text, i, k) — Spark char (not byte) semantics via
  *    UTF8String.substringSQL, so multi-byte text hashes identically;
  *  - window starts j = 1..greatest(nH-window+1, 1), min over the
  *    available (possibly short) tail slice — array_min(slice(...));
  *  - array_distinct keeps first occurrence order.
  *
  * Why an Expression: the HOF form materializes an O(n) hash array per
  * row, then runs interpreted array_min(slice(...)) lambdas per window —
  * boxed longs, per-element closure dispatch, and (pre-Cols.bind) a
  * projection-collapse hazard that re-ran the whole extraction per
  * consumer. This is one codegen'd loop: hash once into long[], scan
  * window minima, dedup in a hash set. Measured at sf0.1 (x55 drive):
  * extraction 4.7 s → 0.6 s.
  */
case class WinnowFps(child: Expression, k: Int, window: Int)
    extends UnaryExpression {
  require(k >= 1 && window >= 1,
    s"winnow_fps requires k >= 1 and window >= 1, got k=$k window=$window")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val nH = math.max(s.numChars() - (k - 1), 1)
    val hs = new Array[Long](nH)
    var i = 0
    while (i < nH) {
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(s.substringSQL(i + 1, k), 42L)
      i += 1
    }
    val nW = math.max(nH - (window - 1), 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < nW) {
      var m = hs(j)
      val end = math.min(j + window, nH)
      var t = j + 1
      while (t < end) { if (hs(t) < m) m = hs(t); t += 1 }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val nH = ctx.freshName("nH")
      val hs = ctx.freshName("hs")
      val i = ctx.freshName("i")
      val nW = ctx.freshName("nW")
      val seen = ctx.freshName("seen")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val end = ctx.freshName("end")
      val t = ctx.freshName("t")
      val out = ctx.freshName("out")
      val o = ctx.freshName("o")
      val it = ctx.freshName("it")
      s"""
         |int $nH = java.lang.Math.max($s.numChars() - ${k - 1}, 1);
         |long[] $hs = new long[$nH];
         |for (int $i = 0; $i < $nH; $i++) {
         |  $hs[$i] = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUTF8String($s.substringSQL($i + 1, $k), 42L);
         |}
         |int $nW = java.lang.Math.max($nH - ${window - 1}, 1);
         |java.util.LinkedHashSet<Long> $seen = new java.util.LinkedHashSet<Long>();
         |for (int $j = 0; $j < $nW; $j++) {
         |  long $m = $hs[$j];
         |  int $end = java.lang.Math.min($j + $window, $nH);
         |  for (int $t = $j + 1; $t < $end; $t++) {
         |    if ($hs[$t] < $m) $m = $hs[$t];
         |  }
         |  $seen.add($m);
         |}
         |long[] $out = new long[$seen.size()];
         |int $o = 0;
         |java.util.Iterator<Long> $it = $seen.iterator();
         |while ($it.hasNext()) { $out[$o++] = ((Long) $it.next()).longValue(); }
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFps {
  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(text: Column, k: Int = 8, window: Int = 4): Column =
    GraftBridge.column(WinnowFps(GraftBridge.expr(text), k, window))

  /** The SQL builder ([[graft.GraftExtensions]]): k and window must be
    * integer literals. */
  def fromExprs(exprs: Seq[Expression]): WinnowFps = {
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"winnow_fps $what must be an integer literal, got $other")
    }
    WinnowFps(exprs(0), intLit(exprs(1), "k"), intLit(exprs(2), "window"))
  }
}
