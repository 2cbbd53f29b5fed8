package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Md5Prefix32Expr
import graft.llm.HashFamily

/** Pins the fused portable-hash scalar (`md5_prefix32`) bit-identical to
  * the SQL composition it replaces — the definitional form every DuckDB
  * oracle interpolates (`cast(('0x'||substr(md5(s),1,8)) AS BIGINT)`).
  * Any divergence here would silently hash-redden every portable-family
  * dedup entry, so the equivalence is exhaustive over the edge classes:
  * empty, NULL, multi-byte (2/3/4-byte code points), and long inputs.
  *
  * The kernel is built through its Column DSL, which needs nothing
  * installed. The references are independent of it: a JVM MD5 prefix,
  * and the conv/substr/md5 chain evaluated on a fresh session that
  * carries no FuseMd5Prefix32 (on a session that does, the rule rewrites
  * the chain into the kernel under test and the comparison is vacuous).
  * Each input sits behind a shuffle so that the optimizer cannot fold
  * the projection into a LocalRelation before the user rules run, and
  * the kernel runs through codegen as it does on a table scan. */
class Md5Prefix32Spec extends SparkSpec {

  private def md5Prefix32Ref(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** A session with no graft rules, functions or strategy. */
  private def plainSession(): SparkSession = {
    val s = spark.newSession()
    assert(!s.experimental.extraOptimizations.contains(plans.FuseMd5Prefix32))
    s
  }

  /** The chain must survive optimization, or it is no reference. */
  private def assertUnfused(df: DataFrame): Unit = {
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("md5_prefix32"), s"reference was fused:\n$p")
  }

  test("md5_prefix32 == conv(substr(md5,1,8),16,10) on edge inputs") {
    val plain = plainSession()
    import plain.implicits._
    val rows = Seq(
      "", "a", "ab", "abcdefgh", "the quick brown fox",
      "café", "中文的文字", "a\u0000b", "😀😀😀", "añé日本語😀",
      "x" * 10000
    ).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = rows.toDF("id", "s").repartition(1)
    val q = df.select(col("id"), col("s"),
        Md5Prefix32Expr(col("s")).as("fused"),
        conv(substr(md5(col("s")), lit(1), lit(8)), 16, 10)
          .cast("long").as("sql"))
    assertUnfused(df.select(
      conv(substr(md5(col("s")), lit(1), lit(8)), 16, 10).cast("long")))
    val got = q.collect()
    assert(got.length == rows.length)
    got.foreach { r =>
      assert(r.getLong(2) == r.getLong(3), s"id ${r.getLong(0)}")
      assert(r.getLong(2) == md5Prefix32Ref(r.getString(1)), s"id ${r.getLong(0)}")
    }
    // NULL in, NULL out — matching md5()'s null propagation
    val n = df.select(Md5Prefix32Expr(lit(null).cast("string"))).head()
    assert(n.isNullAt(0))
    // range contract: the full 32-bit md5 prefix, always in [0, 2^32)
    val bounds = df.select(Md5Prefix32Expr(col("s")).as("h"))
      .agg(min("h"), max("h")).head()
    assert(bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 32))
  }

  test("HashFamily.Portable.hash31 routes through the fused form and agrees") {
    val plain = plainSession()
    import plain.implicits._
    val strs = Seq("hello world", "café 中文 😀")
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong + 1, s) }
      .toDF("id", "s").repartition(1)
    val viaFamily = df.select(HashFamily.Portable.hash31(col("s")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val sqlChain = df.select(
        conv(substr(md5(col("s")), lit(1), lit(8)), 16, 10)
          .cast("long").as("h"))
    assertUnfused(sqlChain)
    val viaSql = sqlChain.collect().map(_.getLong(0)).toSeq
    assert(viaFamily == viaSql)
    assert(viaFamily == strs.map(md5Prefix32Ref))
    // and inside a HOF lambda (the hot call site: per-shingle hashing)
    val toks = Seq("aa", "bb", "café")
    val arr = Seq((1L, toks)).toDF("id", "toks").repartition(1)
    val lam = arr.select(transform(col("toks"),
        t => HashFamily.Portable.hash31(t)).as("hs"))
      .head().getSeq[Long](0)
    val refDf = arr.select(transform(col("toks"),
        t => conv(substr(md5(t), lit(1), lit(8)), 16, 10).cast("long")).as("hs"))
    assertUnfused(refDf)
    val ref = refDf.head().getSeq[Long](0)
    assert(lam == ref)
    assert(lam == toks.map(md5Prefix32Ref))
  }
}
