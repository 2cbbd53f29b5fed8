package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The md5-prefix (portable-family) content hash as a fused primitive:
  * unsigned 32-bit value of the first 4 md5 digest bytes of a UTF-8 byte
  * range — exactly `cast(conv(substr(md5(s),1,8),16,10) AS BIGINT)`
  * (Spark) and `cast(('0x'||substr(md5(s),1,8)) AS BIGINT)` (DuckDB),
  * without the 32-char hex-string allocation + base-16 parse per call
  * that the SQL form pays. MessageDigest instances and digest buffers are
  * thread-local: zero per-call allocation, safe under Spark's one-thread-
  * per-task execution. */
object Md5Prefix32 {
  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val outTl = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** md5-prefix hash of `bytes[off, off+len)`; result in [0, 2³²). */
  def hash(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = mdTl.get()
    md.reset()
    md.update(bytes, off, len)
    val out = outTl.get()
    md.digest(out, 0, 16)
    ((out(0) & 0xFFL) << 24) | ((out(1) & 0xFFL) << 16) |
      ((out(2) & 0xFFL) << 8) | (out(3) & 0xFFL)
  }
}

/** Scalar form of the portable-family content hash: `md5_prefix32(s)` ≡
  * `cast(conv(substr(md5(s),1,8),16,10) AS BIGINT)`, fused (no 32-char
  * hex render, no base-16 parse, thread-local digest). HashFamily.
  * Portable routes through this; the SQL composition remains the
  * definitional form and the equivalence is pinned in Md5Prefix32Spec. The win concentrates in
  * HOF lambdas (minhash/simhash shingle hashing), which Spark evaluates
  * INTERPRETED per element — there the old form paid a three-expression
  * interpreted chain plus the hex round-trip per shingle. */
case class Md5Prefix32Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix32 expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix32"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val b = s.getBytes
    Md5Prefix32.hash(b, 0, b.length)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val b = ctx.freshName("b")
      s"""
         |byte[] $b = $s.getBytes();
         |${ev.value} = graft.functions.Md5Prefix32.hash($b, 0, $b.length);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix32Expr {
  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(c: Column): Column =
    GraftBridge.column(Md5Prefix32Expr(GraftBridge.expr(c)))
}

/** Native winnowing fingerprint extraction under the PORTABLE hash family
  * (md5-prefix 32-bit k-gram hashes, full-window minima only) — the twin
  * of [[WinnowFps]] (xxhash64, partial-window fallback), fused the same
  * way: one Scala kernel per row returning array<long>.
  *
  * Semantics are IDENTICAL to the HOF composition it replaces
  * ([[graft.llm.Fingerprint.fingerprintsHofWith]] under
  * `HashFamily.Portable, fullWindowsOnly = true`, kept as the executable
  * specification — LlmOpsSpec holds the two bit-identical):
  *  - hash positions i = 1..greatest(len-k+1, 1), hashing the UTF-8 bytes
  *    of substr(text, i, k) (char semantics — the byte walk below tracks
  *    code-point boundaries exactly as UTF8String.substringSQL does);
  *  - a doc with fewer than `window` k-gram positions yields NO
  *    fingerprints (the x80 SQL twin's `i >= window` row filter), so
  *    every hashed gram in a non-empty result is a full k chars;
  *  - window starts j = 1..nH-window+1, min over the full slice;
  *  - array_distinct keeps first occurrence order.
  *
  * Why an Expression: the HOF form pays, PER CHARACTER POSITION, a
  * substring copy, an md5 call that renders a 32-char hex string, a
  * base-16 conv parse, and boxed interpreted lambda dispatch — the
  * extraction dominated x55's 8.3 s bench cost. This loop walks the
  * row's UTF-8 bytes once with two code-point pointers and hashes each
  * k-gram byte range in place (thread-local digest, no per-gram
  * allocation beyond the hash array itself). `eval` and the generated
  * code inside whole-stage codegen both call that one kernel
  * ([[WinnowFpsMd5.compute]]); the window-minima tail is
  * [[WinnowFps]]'s. */
case class WinnowFpsMd5(child: Expression, k: Int, window: Int)
    extends UnaryExpression {
  require(k >= 1 && window >= 1,
    s"winnow_fps_md5 requires k >= 1 and window >= 1, got k=$k window=$window")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps_md5 expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps_md5"

  override def nullSafeEval(input: Any): Any =
    WinnowFpsMd5.compute(input.asInstanceOf[UTF8String], k, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.WinnowFpsMd5.compute($s, $k, $window);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFpsMd5 {
  /** The kernel `eval` and generated code both call. */
  def compute(s: UTF8String, k: Int, window: Int): UnsafeArrayData = {
    val n = s.numChars()
    val nH = math.max(n - (k - 1), 1)
    if (nH < window)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // Under the contract default (window > 1) nH >= window forces
    // n >= k + window - 1, so every gram is k full chars. window = 1
    // admits n < k (down to the empty string): position 1's gram is the
    // whole (short) string, exactly substr(text, 1, k)'s clamp — hence
    // the min(k, n) first walk. The advancing loop below only runs when
    // nH > 1, which implies n >= k + 1, so it never clamps.
    val b = s.getBytes
    val hs = new Array[Long](nH)
    var end = 0
    var c = 0
    val k0 = math.min(k, n)
    while (c < k0) { end += UTF8String.numBytesForFirstByte(b(end)); c += 1 }
    hs(0) = Md5Prefix32.hash(b, 0, end)
    var start = 0
    var i = 1
    while (i < nH) {
      start += UTF8String.numBytesForFirstByte(b(start))
      end += UTF8String.numBytesForFirstByte(b(end))
      hs(i) = Md5Prefix32.hash(b, start, end - start)
      i += 1
    }
    // nH >= window, so every window is full and none takes a short tail
    WinnowFps.windowMinima(hs, window)
  }

  /** Column-DSL form: wraps the expression directly, so it analyzes on
    * any session. */
  def apply(text: Column, k: Int = 8, window: Int = 4): Column =
    GraftBridge.column(WinnowFpsMd5(GraftBridge.expr(text), k, window))

  /** The SQL builder ([[graft.GraftExtensions]]): k and window must be
    * integer literals. */
  def fromExprs(exprs: Seq[Expression]): WinnowFpsMd5 = {
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"winnow_fps_md5 $what must be an integer literal, got $other")
    }
    WinnowFpsMd5(exprs(0), intLit(exprs(1), "k"), intLit(exprs(2), "window"))
  }
}
