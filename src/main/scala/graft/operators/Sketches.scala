package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dual-mode plan shapes for the mergeable-summary family (round 10):
  * each sketch query is EXACT while the data sits inside the sketch's
  * structural-exactness regime, and degrades to the documented ε-bound
  * estimate — flagged, not fatal — outside it.
  *
  * Earlier rounds enforced the exact regime with an in-plan
  * `assert_true` that killed the job on an over-capacity corpus; at
  * 100 TB that turns a monitoring rollup into a dead pipeline the
  * moment one group outgrows a capacity constant. The production
  * posture here is a per-row `exact` flag column instead (1 = the
  * structural gate held, values are exact multiset statistics; 0 = the
  * sketch's published error bound applies — MRL rank error ≤ L·N/k for
  * the quantile ladder, Misra-Gries undercount ≤ (N−M)/(k+1), CMS
  * overcount ≤ ε·N with ε = e/width): downstream consumers branch on
  * the flag, nothing dies.
  *
  * The flag is computed from the SAME aggregation pass (group count /
  * distinct count / key range ride along with the sketch), so it costs
  * no extra scan, and it is a pure function of the data — the DuckDB
  * oracle computes the identical column, so the contract entries
  * (x261/x266/x301) stay hash-checkable at every contract SF (where
  * the flag is structurally 1). The over-capacity path is driven by
  * InvariantsSpec on >capacity synthetic corpora (flag drops to 0,
  * error bounds asserted); SCALE.md §20 records it at 100× keyspace.
  *
  * One builder per shape, shared verbatim by the contract entry and the
  * specs — the dual-mode claim is structural, not by review.
  */
object Sketches {

  /** Grouped quantile ladder (x261 shape): p25/p50/p75/p95 of integral
    * `vCol` per `gCol`. `exact` = 1 iff the group's row count ≤ k — the
    * ladder never compacts, the sketch IS the multiset, and the
    * integer rank math matches percentile_disc bit-for-bit. Over
    * capacity the deterministic MRL bound (rank error ≤ L·N/k) applies.
    * The shuffle carries one ladder (≤ k·L longs) per group either way. */
  def quantileLadder(in: DataFrame, gCol: String, vCol: String, k: Int): DataFrame = {
    val sk = udaf(new graft.functions.QuantileSketch(
      k, Seq((25, 100), (50, 100), (75, 100), (95, 100))))
    // group column keeps the CALLER's name (the heavyHittersTop/cmsProbe
    // convention) — no silent rename to a fixed label
    in.groupBy(col(gCol))
      .agg(sk(col(vCol)).as("qv"), count(lit(1)).as("n"))
      .select(col(gCol),
        element_at(col("qv"), 1).as("p25"),
        element_at(col("qv"), 2).as("p50"),
        element_at(col("qv"), 3).as("p75"),
        element_at(col("qv"), 4).as("p95"),
        col("n"),
        when(col("n") <= k, lit(1L)).otherwise(lit(0L)).as("exact"))
      .orderBy(gCol)
  }

  /** Misra-Gries top-N (x266 shape): the `topN` most frequent values of
    * `itemCol` with counts, count-desc/item-asc tie-break. `exact` = 1
    * iff distinct items ≤ k (no decrement ever fires — counters are
    * exact in any merge order); else each reported count undercounts by
    * ≤ (N−M)/(k+1) and any item with true share > 1/(k+1) is still
    * guaranteed present. countDistinct rides the same aggregation. */
  def heavyHittersTop(in: DataFrame, itemCol: String, k: Int, topN: Int): DataFrame = {
    val hh = udaf(new graft.functions.HeavyHitters(k))
    in.agg(hh(col(itemCol)).as("tk"), countDistinct(col(itemCol)).as("du"))
      .select(col("du"), posexplode(slice(col("tk"), 1, topN)))
      .select((col("pos") + 1).cast("long").as("rk"),
        col("col._1").as(itemCol), col("col._2").as("cnt"),
        when(col("du") <= k, lit(1L)).otherwise(lit(0L)).as("exact"))
      .orderBy("rk")
  }

  /** Grouped distinct counts (x56 shape, promoted to dual-mode in r13):
    * `exact` = 1 iff the group's distinct `vCol` count ≤ k — the sketch
    * never leaves its sparse regime and the reported count IS the exact
    * COUNT(DISTINCT) a plain SQL oracle computes, flag included. Over
    * capacity the classic HLL bound applies (σ ≈ 1.04/√2^p, linear
    * counting below 2.5·2^p). The shuffle carries ≤ max(k, 2^p+1) longs
    * per group either way — never the group's rows. */
  def distinctCount(in: DataFrame, gCol: String, vCol: String,
                    k: Int, p: Int = 12): DataFrame = {
    val sk = udaf(new graft.functions.HllDistinct(k, p))
    in.groupBy(col(gCol))
      .agg(sk(col(vCol)).as("s"))
      .select(col(gCol), col("s._1").as("u_cnt"), col("s._2").as("exact"))
      .orderBy(gCol)
  }

  /** CMS point estimates (x301 shape) for a probe set: one depth×width
    * grid aggregated over `events`, broadcast to the probe rows, read
    * in place via `element_at` (the r9 boxing postmortem — never pass
    * the grid through a UDF). `exact` = 1 iff every key lies in
    * [0, width) so row 0's identity bucket is injective and
    * min-over-rows is the exact count; else the estimate never
    * undercounts and overcounts by ≤ ε·N, ε = e/width, at probability
    * 1−e^(−depth). Key range (min/max) rides the same aggregation. */
  def cmsProbe(events: DataFrame, keyCol: String, probes: DataFrame,
               depth: Int, width: Int): DataFrame = {
    val cms = udaf(new graft.functions.CountMinSketch(depth, width))
    val sk = events.agg(cms(col(keyCol)).as("sk"),
      max(col(keyCol)).as("mx"), min(col(keyCol)).as("mn"))
    // Row 0 is pure-SQL pmod (identity bucket); rows ≥ 1 send only the
    // scalar key through the Carter-Wegman bucket UDF.
    val rowEsts: Seq[Column] =
      element_at(col("sk"),
        pmod(col(keyCol), lit(width.toLong)).cast("int") + lit(1)) +:
      (1 until depth).map { j =>
        val row = j // stable capture for the closure
        val bj = udf((kk: Long) => graft.functions.CountMinSketch.bucket(kk, row, width))
        element_at(col("sk"), bj(col(keyCol)) + lit(row * width + 1))
      }
    val est = if (rowEsts.size == 1) rowEsts.head else least(rowEsts: _*)
    probes.crossJoin(broadcast(sk))
      // Empty input (ADVICE r10 #2): the agg row carries null sketch and
      // null mx/mn; every probe's true count is 0 and that zero is EXACT
      // — report est = 0 / exact = 1, not a null estimate flagged approx.
      .select(col(keyCol), coalesce(est, lit(0L)).as("est"),
        when(col("mx").isNull || (col("mx") < width && col("mn") >= 0),
          lit(1L)).otherwise(lit(0L)).as("exact"))
      .orderBy(keyCol)
  }
}
