package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The library's `spark.sql.extensions` entry point — the deployment
  * path for a cluster that wants graft's Catalyst surface WITHOUT
  * calling [[Catalog.ensure]] first:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Injects, at session build time, every row of the companion's table:
  * the optimizer rules, the planner strategies and the SQL functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.Strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.Functions.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
  }
}

/** graft's whole Catalyst surface, written down once. Two ways in read
  * it: the `spark.sql.extensions` class above (at session build) and
  * [[install]] (on a live session, what [[Catalog.ensure]] and
  * [[plans.AsOf.join]] call). The Column-DSL forms in `graft.functions`
  * wrap their expressions directly and need neither. */
object GraftExtensions {

  /** One SQL function: its name, DESCRIBE usage text, argument count
    * and expression builder. */
  final case class Fn(name: String, usage: String, arity: Int,
                      build: Seq[Expression] => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    val info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")
    /** Wrong arg counts surface as an error naming the function and its
      * expected arity — not an IndexOutOfBoundsException from exprs(i)
      * deep in plan construction. */
    val builder: Seq[Expression] => Expression = exprs => {
      require(exprs.length == arity,
        s"$name expects $arity argument(s), got ${exprs.length}")
      build(exprs)
    }
  }

  val Functions: Seq[Fn] = {
    import functions._
    Seq(
      Fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays",
        2, e => CosineSim(e(0), e(1))),
      Fn("pq_lut_score",
        "pq_lut_score(codes, lut) - asymmetric-distance LUT sum over PQ codes (lut flattened m x ksub)",
        2, e => PqLutScore(e(0), e(1))),
      Fn("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array",
        1, e => SimHash64(e(0))),
      Fn("winnow_fps",
        "winnow_fps(text, k, w) - winnowing fingerprint set (k-gram window minima)",
        3, WinnowFps.fromExprs),
      Fn("winnow_fps_md5",
        "winnow_fps_md5(text, k, w) - portable-family winnowing fingerprints (md5-prefix k-gram hashes, full windows only)",
        3, WinnowFpsMd5.fromExprs),
      Fn("md5_prefix32",
        "md5_prefix32(s) - first 8 hex chars of md5 as BIGINT (the portable-family content hash, fused)",
        1, e => Md5Prefix32Expr(e(0))),
      Fn("affine_minsig",
        "affine_minsig(hvs, n) - n-element MinHash signature: min of (hv*a_i+b_i) mod 2^31-1 over the hash array, perms from the canonical table",
        2, AffineMinSig.fromExprs),
      Fn("fold_accents", "fold_accents(s) - strip diacritics (NFD, combining marks removed)",
        1, e => FoldAccents(e(0))),
      Fn("damerau_levenshtein",
        "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein edit distance",
        2, e => DamerauLevenshtein(e(0), e(1))),
      Fn("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-compatible variant)",
        2, e => JaroWinkler(e(0), e(1))),
      Fn("ahash32",
        "ahash32(grid) - portable 32-bit average hash of a float luminance grid (bp-quantized integer mean test)",
        1, e => AHash32(e(0))),
      Fn("dhash32",
        "dhash32(grid) - portable 32-bit difference hash (disjoint adjacent-cell gradients, bp-quantized)",
        1, e => DHash32(e(0))),
      Fn("ahash64",
        "ahash64(grid) - production 64-bit average hash (all grid cells; low half == ahash32)",
        1, e => AHash64(e(0))),
      Fn("dhash64",
        "dhash64(grid) - production 64-bit difference hash (low half == dhash32)",
        1, e => DHash64(e(0))))
  }

  /** The optimizer rules, in the order they run:
    *  - [[plans.DeferProjectionPastTopK]] keeps expensive scalar
    *    projections above ORDER BY+LIMIT so they run on k rows, not N;
    *  - [[plans.FuseMd5Prefix32]] rewrites the SQL md5-prefix hash
    *    composition to the fused `md5_prefix32` kernel. */
  val Rules: Seq[Rule[LogicalPlan]] = Seq(plans.DeferProjectionPastTopK, plans.FuseMd5Prefix32)

  /** The planner strategies:
    *  - [[plans.AsOfStrategy]] compiles the native as-of join logical
    *    node to its co-partitioned streaming merge;
    *  - [[plans.SingleSplitScan]] plans a one-split file scan as one
    *    partition in a one-partition session, so no exchange goes in
    *    above it. */
  val Strategies: Seq[SparkStrategy] = Seq(plans.AsOfStrategy, plans.SingleSplitScan)

  /** Entries of Spark's JVM-wide codegen cache (generated class per
    * (class loader, source) key; Spark's default holds 100). Measured
    * working sets: interactive_q's 46 q-queries 426 classes (each
    * whole-stage class is cached once under the driver's loader and
    * once under the executor's), heavy_mix 168. The cache is 4 LRU
    * segments, so the cap leaves each segment room over its quarter of
    * the working set. A cached class holds about 25 KB of heap, so the
    * cap bounds the cache near 25 MB; a run holds only what it compiles. */
  val CodegenCacheEntries = 1024

  /** Install the table on a live session (idempotent): functions into
    * its registry (replacing same-named entries), rules and strategies
    * into `spark.experimental` unless already there, and the codegen
    * cache size ([[sizeCodegenCache]]). Serialized here so concurrent
    * callers (Harness.session, Catalog.ensure, AsOf.join) cannot both
    * append. */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    Functions.foreach(f => registry.registerFunction(f.id, f.info, f.builder))
    val exp = spark.experimental
    val missing = Rules.filterNot(exp.extraOptimizations.contains)
    if (missing.nonEmpty) exp.extraOptimizations ++= missing
    val missingStrategies = Strategies.filterNot(exp.extraStrategies.contains)
    if (missingStrategies.nonEmpty) exp.extraStrategies ++= missingStrategies
    if (!codegenCacheSettled) {
      codegenCacheSettled = true
      sizeCodegenCache(spark.sessionState.conf,
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }
  }

  /** Whether an install has already sized the cache, found it set, or
    * said it was too late; the cache is sized once per JVM, so later
    * sessions have nothing to do. */
  private var codegenCacheSettled = false

  /** The cache size is a static conf that `spark.conf.set` refuses, and
    * Spark reads it once per JVM, when the first class compiles, from
    * the conf of the session active on that thread. So it is written
    * into `conf` directly, and only while nothing has compiled
    * (`compiled` is the JVM's compile count) and `conf` does not already
    * set it: an embedder's explicit value wins. After the first compile
    * the size is fixed, and this says so on stderr. */
  private[graft] def sizeCodegenCache(conf: SQLConf, compiled: Long): Unit = {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (!conf.contains(key)) {
      if (compiled == 0) conf.setConfString(key, CodegenCacheEntries.toString)
      else System.err.println(s"[graft] $compiled classes compiled before the " +
        s"first install: $key stays at ${conf.getConfString(key)}, not $CodegenCacheEntries")
    }
  }
}
