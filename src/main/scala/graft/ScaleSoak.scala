package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Measured-scale soak (SCALE.md §8): synthesizes a 10× copy of the sf0.1
  * corpus into /tmp using the production layouts (date-partitioned events,
  * bucketed+sorted facts), then measures the same query shapes at both
  * sizes and asserts the plan properties the 100 TB design relies on:
  *
  *  - partition pruning: a one-day filter reads 1/30th of the partitions;
  *  - bucketed fact-fact join: zero shuffle exchanges at 6M rows;
  *  - aggregation/window scaling: wall-clock grows sub-linearly vs the
  *    10× row growth (multi-file input parallelizes; the shipped corpus
  *    is a single row group pinned to one task).
  *
  * Usage: runMain graft.ScaleSoak [full | <tier>] [rebuild] — `full`
  * builds the multi-file 10× corpus every tier reads; a tier name
  * (heavy, r7tier … r17btier, profiler) times that tier's 1×→10× rows;
  * no tier runs the layout soak above.
  */
object ScaleSoak {
  private val root = "/tmp/graft_sf1"
  /** The full 10× corpus the tiers read ([[buildFull]]). */
  private val out = "/tmp/graft_sf1x"

  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-scale-soak",
      "spark.sql.shuffle.partitions" -> Harness.cpus.toString,
      "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
    // timed soak reps must re-execute whole plans, not reuse the
    // memoized DataFrame's shuffle outputs (SCALE.md §36)
    Catalog.planCacheEnabled = false
    val sf = "/root/testdata/sf0.1"
    if (args.contains("full")) buildFull(spark, sf, out)
    else {
      val soak = new Soak(spark, args, sf)
      val tier = soak.tiers.collectFirst { case (t, run) if args.contains(t) => run }
      tier.getOrElse(() => soak.layout())()
    }
    spark.stop()
  }

  private final class Soak(spark: SparkSession, args: Array[String], sf: String) {

    val tiers: Seq[(String, () => Unit)] = Seq(
      "heavy" -> (() => heavy()), "r7tier" -> (() => r7tier()),
      "r8tier" -> (() => r8tier()), "x254tier" -> (() => x254tier()),
      "r9tier" -> (() => r9tier()), "r11tier" -> (() => r11tier()),
      "r13tier" -> (() => r13tier()), "r14tier" -> (() => r14tier()),
      "r15tier" -> (() => r15tier()), "r16tier" -> (() => r16tier()),
      "r17tier" -> (() => r17tier()), "r17btier" -> (() => r17btier()),
      "profiler" -> (() => profiler()))

    /** Every tier reads the full 10× corpus: build it unless present
      * (or `rebuild` is asked for). */
    private def ensureFull(): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/documents.parquet"))
          || args.contains("rebuild"))
        buildFull(spark, sf, out)
    }

    /** Median-of-3 wall and the first rep's row count. `clear` clears the
      * cache between reps, outside the timed window: tiers whose operators
      * persist internally clear so rep 2 doesn't time a cache hit;
      * pure-SQL tiers don't. */
    private def med3(clear: Boolean)(f: => Long): (Double, Long) = {
      val t = Harness.median3(f, if (clear) spark.catalog.clearCache())
      (t.median, t.first)
    }

    /** A declared entry at `dir`, its collected rows passed to `check`. */
    private def entry(name: String, clear: Boolean = true,
                      check: Array[Row] => Unit = _ => ())(dir: String): (Double, Long) =
      med3(clear) {
        val rows = SparkEntry.queries(name)(spark, dir).collect()
        check(rows)
        rows.length.toLong
      }

    /** One 1×→10× row: `run` timed on sf0.1 and on the 10× corpus. */
    private def row(label: String)(run: String => (Double, Long)): Unit = {
      val (t1, n1) = run(sf)
      val (t10, n10) = run(out)
      println(f"[soak] $label%-28s sf0.1 ${t1 * 1000}%8.1f ms ($n1%7d rows)   " +
        f"10x ${t10 * 1000}%8.1f ms ($n10%7d rows)   ratio ${t10 / t1}%5.2f")
    }

    private def entryRows(names: String*): Unit =
      names.foreach(n => row(n)(entry(n)))

    /** Dual-mode sketch entries (x261/x266/x301) must stay in the exact
      * regime on the 10× corpus — every output row carries exact = 1 —
      * or the ratios would describe approximate output; the 100×
      * Rehearsal asserts the opposite (all-approx) on its over-width
      * keyspace. */
    private def exactRegime(name: String)(rows: Array[Row]): Unit = {
      val approx = rows.count(_.getAs[Long]("exact") == 0L)
      assert(approx == 0, s"$name: $approx row(s) flagged approx — the soak " +
        "corpus left the exact regime")
    }

    private lazy val counter = Harness.listen(spark)
    /** Shuffle bytes written while `f` ran, with its wall and result:
      * local mode has no network, so a shuffle saving cannot show in wall
      * time here — the bytes are the cluster-relevant number. */
    private def shuffled[T](f: => T): (Double, T, Long) = {
      val c0 = counter.quiesce()
      val (t, r) = Harness.timed(f)
      (t, r, (counter.quiesce() - c0).shuffleWriteBytes)
    }

    // 1×→10× scaling of the two slowest extension operators (VERDICT r5
    // #5): x111 connected components and x55 winnowing containment. The
    // 10× corpus replicates every doc 10 times with shifted ids, so
    // replica groups are EXACT dups — the worst-case duplication
    // profile: every near-dup edge set densifies into 10-cliques and
    // every fingerprint's doc-frequency rises 10×.
    def heavy(): Unit = {
      ensureFull()
      Seq(("sf0.1", sf), ("10x", out)).foreach { case (label, dir) =>
        // x111: x74 banded-MinHash pairs closed into components
        val (tCc, nCc) = med3(clear = true) {
          val pairs = Catalog.sql(spark, dir, Queries.sparkSql("x74_minhash_sql"))
          operators.ConnectedComponents.withSizes(pairs.select("a", "b")).count()
        }
        // rounds + O(log diameter) bound: diameter ≤ max cluster size
        val pairs = Catalog.sql(spark, dir, Queries.sparkSql("x74_minhash_sql"))
        val (labels, iters) = operators.ConnectedComponents
          .runWithIters(pairs.select("a", "b"))
        val maxC = labels.groupBy("label").count()
          .agg(max("count")).collect()(0).getLong(0)
        spark.catalog.clearCache()
        val bound = math.ceil(math.log(maxC.toDouble) / math.log(2)).toInt + 2
        println(f"[soak] x111 cc $label%-6s ${tCc * 1000}%8.1f ms  " +
          f"$nCc%7d labeled  rounds=$iters (max cluster $maxC, bound log2+2=$bound, " +
          s"within=${iters <= bound})")

        // x55: winnowing fingerprint containment
        if (!args.contains("skipwinnow")) {
          val (tW, nW) = med3(clear = true) {
            llm.Fingerprint.containmentPortable(
              Catalog.load(spark, dir, "documents"), minContainBp = 5000L).count()
          }
          println(f"[soak] x55 winnow $label%-6s ${tW * 1000}%8.1f ms  $nW%7d pairs")
        }
      }

      // x55's cost is Σ_fp C(df,2): on the exact-replica 10× corpus every
      // fingerprint's doc-frequency rises 10× and the pair join grows
      // quadratically in the duplication factor (measured 4.8 s → 247 s).
      // The pipeline's answer is ORDERING: exact dedup (x47 key) runs
      // first and collapses replicas, after which winnowing pays its 1×
      // cost — measure that composition at 10×.
      val docs10 = Catalog.load(spark, out, "documents")
      val (tD, nD) = med3(clear = true) {
        val deduped = llm.Dedup.exactKeepFirst(docs10,
          md5(array_join(sort_array(array_distinct(split(col("text"), " "))), " ")),
          "doc_id")
        llm.Fingerprint.containmentPortable(deduped, minContainBp = 5000L).count()
      }
      println(f"[soak] x55 winnow 10x AFTER exact dedup ${tD * 1000}%8.1f ms  $nD%7d pairs")
    }

    // 1×→10× scaling of the round-7 tier's heavy entries (VERDICT r7 #5):
    // x183 (global lead window over filtered orders), x189 (global ntile
    // over per-customer revenue), x198 (sessionize → sweep-line peak
    // concurrency: per-user windows + ONE global running sum over session
    // endpoints), x200 (banded fuzzy self-join with the native
    // Damerau-Levenshtein filter). Results in SCALE.md §19.
    def r7tier(): Unit = {
      ensureFull()
      def runQ(name: String)(dir: String): (Double, Long) = med3(clear = false) {
        Catalog.sql(spark, dir, Queries.sparkSql(name)).collect().length.toLong
      }
      Seq("x183_sequence_gaps", "x189_concentration", "x198_peak_concurrency")
        .foreach(n => row(n)(runQ(n)))
      // x200 joins `part`, a DIM the 10× corpus keeps unchanged (key
      // references must stay valid) — so its 10× input is built here:
      // 10 disjoint key blocks (stride >> the 40-key band), each
      // reproducing the original band structure → in-band pairs grow
      // exactly linearly. Materialized to parquet so reps time
      // scan→join→DL, not the replication.
      val (t1x, n1x) = runQ("x200_fuzzy_join_dl")(sf)
      val p10 = "/tmp/graft_part10.parquet"
      Catalog.load(spark, sf, "part")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .withColumn("p_partkey", col("p_partkey") + col("rep") * lit(10 * 1000 * 1000L))
        .drop("rep").repartition(16)
        .write.mode("overwrite").parquet(p10)
      spark.read.parquet(p10).createOrReplaceTempView("part")
      val (t10x, n10x) = med3(clear = false) {
        spark.sql(Queries.sparkSql("x200_fuzzy_join_dl")).collect().length.toLong
      }
      spark.read.parquet(s"$sf/part.parquet").createOrReplaceTempView("part")
      println(f"[soak] ${"x200_fuzzy_join_dl"}%-28s sf0.1 ${t1x * 1000}%8.1f ms ($n1x%7d rows)   " +
        f"10x ${t10x * 1000}%8.1f ms ($n10x%7d rows)   ratio ${t10x / t1x}%5.2f")
    }

    // 1×→10× scaling of the round-8 tier (SCALE.md §21): x230 grid radius
    // join (pair-producing — output grows ~100× by construction because
    // the synthetic plane is FIXED, so 10× rows = 10× density = 10×
    // neighbors per point; runtime should track OUTPUT pairs, which is the
    // right complexity class for a radius join), x231/x232 (token-keyed
    // shuffles, linear), x241 (native-expression scan + top-k, linear),
    // x242 (bloom manifest build + point lookup, linear in rows for the
    // build and in CANDIDATE FILES for the probe).
    def r8tier(): Unit = {
      ensureFull()
      Seq("x230_grid_radius_join", "x231_inverted_index", "x232_bigram_lm",
          "x241_jaro_winkler", "x242_bloom_skip", "x243_setcover3",
          "x244_setcover_native", "x245_clamped_running_sum",
          "x253_topk_agg").foreach(n => row(n)(entry(n, clear = false)))
      // x253's scale claim head-to-head on a MANY-group key (top-3 per
      // user: 15k groups at 10x): the window plan shuffles + sorts every
      // row; the mergeable aggregate's shuffle carries k pairs per
      // group. (The declared x253 entry groups by event_type — 5 groups
      // — where the codegen'd window sort wins on CPU; the aggregate's
      // case is group cardinality, which this measures.)
      val winSql =
        """SELECT user_id, rk, cents, event_id FROM (
          |  SELECT user_id, cast(round(value*100) AS BIGINT) AS cents, event_id,
          |         row_number() OVER (PARTITION BY user_id ORDER BY cast(round(value*100) AS BIGINT) DESC, event_id) AS rk
          |  FROM events) t WHERE rk <= 3""".stripMargin
      val topk3 = udaf(new graft.functions.Udfs.TopK(3))
      val (tw, _, bw) = shuffled {
        Catalog.sql(spark, out, winSql).collect().length
      }
      val (ta, _, ba) = shuffled {
        Catalog.load(spark, out, "events")
          .select(col("user_id"),
            expr("cast(round(value * 100) AS BIGINT)").as("cents"), col("event_id"))
          .groupBy("user_id").agg(topk3(col("cents"), col("event_id")).as("tk"))
          .select(col("user_id"), explode(col("tk")))
          .collect().length
      }
      println(f"[soak] x253 window-vs-agg, top-3/user at 10x: " +
        f"window ${tw * 1000}%8.1f ms / ${bw / 1024}%d KiB shuffled   " +
        f"agg ${ta * 1000}%8.1f ms / ${ba / 1024}%d KiB shuffled")
      // dense-group case: top-3 per (event_type, day) — ~150 groups,
      // thousands of rows per group per map partition, where map-side
      // combine actually combines.
      val winSql2 =
        """SELECT g, rk, cents, event_id FROM (
          |  SELECT concat(event_type, cast(cast(ts AS DATE) AS STRING)) AS g,
          |         cast(round(value*100) AS BIGINT) AS cents, event_id,
          |         row_number() OVER (PARTITION BY event_type, cast(ts AS DATE)
          |                            ORDER BY cast(round(value*100) AS BIGINT) DESC, event_id) AS rk
          |  FROM events) t WHERE rk <= 3""".stripMargin
      val (tw2, _, bw2) = shuffled {
        Catalog.sql(spark, out, winSql2).collect().length
      }
      val (ta2, _, ba2) = shuffled {
        Catalog.load(spark, out, "events")
          .select(concat(col("event_type"), col("ts").cast("date").cast("string")).as("g"),
            expr("cast(round(value * 100) AS BIGINT)").as("cents"), col("event_id"))
          .groupBy("g").agg(topk3(col("cents"), col("event_id")).as("tk"))
          .select(col("g"), explode(col("tk")))
          .collect().length
      }
      println(f"[soak] x253 window-vs-agg, top-3/type-day at 10x: " +
        f"window ${tw2 * 1000}%8.1f ms / ${bw2 / 1024}%d KiB shuffled   " +
        f"agg ${ta2 * 1000}%8.1f ms / ${ba2 / 1024}%d KiB shuffled")
    }

    // 1×→10× scaling of the x254-x261 tier (SCALE.md §23). Partkeys AND
    // shipdates are unchanged in the 10× corpus, so x254's replicas
    // collapse into the SAME (part, date) lots with 10× quantities — the
    // pre-aggregation is exactly what makes that safe (10× scan,
    // unchanged join size); x261's sketch ladder stays in the exact
    // regime (max group ≤ ~50k ≪ k=262144) while the shuffle carries
    // ladders, not rows. x256 is two user-keyed aggs (users grow 10×).
    // x260's window side runs over part-sized aggregates (unchanged dim)
    // while its input aggs grow 10×. Ratios BELOW 1.0 are expected for
    // scan-dominated entries: the sf0.1 source tables are
    // single-file/single-row-group (one scan task) while the 10× corpus
    // is 16-file parallel.
    def x254tier(): Unit = {
      ensureFull()
      entryRows("x254_fifo_allocation", "x256_cuped", "x260_abc_xyz")
      Seq("x261_quantile_sketch", "x266_heavy_hitters")
        .foreach(n => row(n)(entry(n, check = exactRegime(n))))
      entryRows("x270_incremental_agg")
      // Skyline: the declared NOT EXISTS form is quadratic (fine on the
      // 2k-row dim it is declared on, fenced off fact-sized inputs);
      // the native two-pass operator is the scale path. Run it on a
      // fact-sized point set — events (cents, user_id) — at 1× (100k
      // points) and 10× (1M points): expect ~linear.
      def skylinePts(dir: String) = Catalog.load(spark, dir, "events")
        .select(col("event_id"),
          expr("cast(round(value*100) AS BIGINT)").as("x"),
          col("user_id").cast("long").as("y"))
      row("x258 skyline2d (fact)") { dir =>
        med3(clear = true)(operators.Skyline.skyline2d(skylinePts(dir), "x", "y").count())
      }
    }

    // 1×→10× scaling of the round-9 tier (SCALE.md §28). Shapes under
    // test: x290/x291 pairwise work must ride the DAY dimension (30²
    // pairs at any corpus size — expect flat), x293's triangle 3-join
    // rides the support-pruned co-purchase edge list, x296's windows
    // partition per user, x299's pair cost is queries × own-cell (linear
    // in corpus), x301's CMS shuffles one grid (users grow 10× to ~15k —
    // still far inside the 262144 identity-injective width). Since round
    // 10 the sketch entries are DUAL-MODE (the r9 in-plan assert_true is
    // gone): the regime is re-proven per soak run by exactRegime.
    def r9tier(): Unit = {
      ensureFull()
      entryRows("x290_theil_sen", "x291_mann_kendall", "x293_local_clustering",
        "x294_error_budget_burn", "x296_mttr_mtbf", "x299_mrr_recall")
      row("x301_cms_counts")(entry("x301_cms_counts",
        check = exactRegime("x301_cms_counts")))
      entryRows("x304_session_paths", "x305_interval_native")
    }

    // Round-11 tier at 10× (VERDICT r10 #1/#2): the HITS pair — declared
    // unrolled-CTE x326 vs persist-once native x327 — plus the
    // oracle-gated raw-text ingestion round-trip (x328) and the x258
    // fractional-x skyline path (dense_rank surrogate) on a fact-sized
    // double column.
    def r11tier(): Unit = {
      ensureFull()
      // ADVICE r10 #4 guard: the DECLARED x326 carries no in-plan
      // overflow guard (its SQL must stay oracle-verbatim; the native
      // x327 asserts in-plan), so the soak proves the corpus sits
      // inside the documented bound BEFORE timing it: normalizer
      // product v·10⁶ with v ≤ 10⁶·Σw stays under 2⁶³ iff the max
      // per-node weight sum (either direction — auth reads in-edges,
      // hub reads out-edges) is ≤ 2⁶³/10¹² ≈ 9.22e6.
      val wBound = Long.MaxValue / 1000000L / 1000000L
      Seq(("sf0.1", sf), ("10x", out)).foreach { case (label, dir) =>
        val e = Extensions.nationTradeEdges(spark, dir).localCheckpoint(true)
        def maxSum(k: String) = e.groupBy(k).agg(sum("w").as("s"))
          .agg(max("s")).collect()(0).getLong(0)
        val (maxIn, maxOut) = (maxSum("dst"), maxSum("src"))
        assert(maxIn <= wBound && maxOut <= wBound,
          s"x326 $label outside the overflow bound: in=$maxIn out=$maxOut > $wBound")
        println(f"[soak] x326 overflow-bound $label%-6s max node weight " +
          f"in=$maxIn%9d out=$maxOut%9d bound=$wBound (headroom ${wBound / math.max(maxIn, maxOut)}%d x)")
        spark.catalog.clearCache()
      }
      // declared-vs-native plan evidence (the x136/x140 table shape):
      // Spark inlines CTEs per reference RECURSIVELY (each iteration
      // CTE and each scalar max subquery re-inlines the whole lineage
      // under it), so the executed plan's FileSourceScanExec count per
      // fact table measures how many times the 4-table edge build
      // would run; x327 scans each source table exactly once by
      // construction (persist + InMemoryTableScan thereafter).
      // (formatted explain prints one `Location:` line per scan node,
      // including inside subqueries and under the AQE wrapper — which
      // plain plan.collect does not traverse)
      val x326Explain = Catalog.sql(spark, sf, Queries.sparkSql("x326_hits_hubs"))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val liScans = x326Explain.linesIterator
        .count(l => l.startsWith("Location:") && l.contains("lineitem"))
      println(s"[soak] x326 declared plan: $liScans lineitem scan nodes (x327 native: 1)")

      // pre-warm the x328 text fixture so the timed reps measure the
      // ingestion path, not the one-time render
      graft.sources.LogLines.ensureEventsFixture(spark, sf)
      graft.sources.LogLines.ensureEventsFixture(spark, out)
      entryRows("x326_hits_hubs", "x327_hits_native", "x328_logparse")
      // x258 fractional path: fact-sized DOUBLE x (events.value) takes
      // the dense_rank surrogate the round-10 generalization added;
      // 1M points at 10× — expect ~linear like the integral path
      def fracPts(dir: String) = Catalog.load(spark, dir, "events")
        .select(col("event_id"), col("value").as("x"),
          (col("user_id").cast("double") + col("value") / lit(1000.0)).as("y"))
      row("x258 skyline2d (frac x)") { dir =>
        med3(clear = true)(operators.Skyline.skyline2d(fracPts(dir), "x", "y").count())
      }
    }

    // Round-13 tier at 10×: the perceptual-hash near-dup (x329) and the
    // promoted dual-mode distinct sketch (x56). The 10× corpus replicates
    // every embedding 10× under shifted ids, so each original's replicas
    // form Hamming-0 cliques — the worst-case duplication profile for the
    // banding join (45 intra-clique pairs per original before any cross
    // pair).
    def r13tier(): Unit = {
      ensureFull()
      entryRows("x329_phash_neardup", "x330_phash_incremental",
        "x331_phash_census", "x56_approx_distinct")
      // x56 at 10×: the replicated corpus multiplies ROWS, not distinct
      // users, so it must still sit in the sparse-exact regime — every
      // group flagged exact, counts equal countDistinct
      val rows = SparkEntry.queries("x56_approx_distinct")(spark, out).collect()
      assert(rows.forall(_.getLong(2) == 1L),
        s"x56 at 10x: expected all groups sparse-exact")
      println(s"[soak] x56 at 10x: ${rows.length} groups, all exact=1")
    }

    // Round-14 tier at 10×: the substring-dedup APPLY (x332 — the 10× doc
    // replicas make every window cross-doc-shared, so all non-keeper
    // replicas rewrite to empty: the worst removal profile), the Lloyd
    // step (x333 — 10× points through the same 8-centroid fan-out; cost
    // must scale ~linearly in points), and the registrable-domain rollup
    // (x334 — 10× URLs into the same ~20 domain groups; the suffix joins
    // stay broadcast-shaped).
    def r14tier(): Unit = {
      ensureFull()
      entryRows("x332_substring_dedup_apply", "x333_kmeans_step",
        "x334_registrable_domain", "x335_markup_strip",
        "x336_ngram_novelty", "x337_incremental_exact_dedup",
        "x338_zipf_slope", "x339_substring_dedup_native")
      // x333 at 10×: conservation must hold at every scale — both
      // assignment passes carry all (10× − 8) non-centroid points
      val km = SparkEntry.queries("x333_kmeans_step")(spark, out).collect()
      val (tot0, tot1) = (km.map(_.getLong(1)).sum, km.map(_.getLong(2)).sum)
      assert(tot0 == tot1,
        s"x333 at 10x: assignment passes must conserve points ($tot0 vs $tot1)")
      println(s"[soak] x333 at 10x: ${km.length} clusters, $tot0 points conserved")
      // x334 at 10×: same domain groups, 10× the URLs — the rollup key
      // space must not grow with the corpus
      val rd = SparkEntry.queries("x334_registrable_domain")(spark, out).collect()
      println(s"[soak] x334 at 10x: ${rd.length} domains, " +
        s"${rd.map(_.getLong(1)).sum} urls")
    }

    // Round-15 tier at 10×: the k-means training pair (x340 unrolled,
    // x341 iterative — 3 rounds over 10× the points through the same 8×64
    // broadcast fan-out; the native's per-round cost must stay linear in
    // points and its driver state centroid-sized), plus the x332/x339
    // re-measurement that adjudicates VERDICT r14 #3's open row (the
    // native's rebuild is now range-based — SCALE.md §41).
    def r15tier(): Unit = {
      ensureFull()
      entryRows("x340_kmeans_train3", "x341_kmeans_native",
        "x332_substring_dedup_apply", "x339_substring_dedup_native",
        "x342_pq_codebook_train", "x343_paragraph_dedup",
        "x344_domain_split_leakage", "x345_matryoshka_fidelity",
        "x346_paragraph_dedup_apply", "x347_paragraph_dedup_native",
        "x348_dedup_savings", "x349_quality_dup_deciles",
        "x350_budgeted_mixture", "x351_hard_negatives")
      // x341 at 10×: every round's census must conserve the point set,
      // and the iterative loop must land exactly on the unrolled form
      val pts10 = Catalog.load(spark, out, "embeddings")
        .where(col("vec_id") >= 8).count()
      val tr = SparkEntry.queries("x341_kmeans_native")(spark, out).collect()
      tr.groupBy(_.getLong(0)).foreach { case (rk, rows) =>
        assert(rows.map(_.getLong(2)).sum == pts10,
          s"x341 at 10x: round $rk loses points")
      }
      val decl = SparkEntry.queries("x340_kmeans_train3")(spark, out).collect()
      assert(tr.map(_.toString).toSeq == decl.map(_.toString).toSeq,
        "x341 at 10x: iterative loop must equal the unrolled form")
      println(s"[soak] x340/x341 at 10x: ${tr.length} census rows, " +
        s"$pts10 points conserved every round, declared == native")
    }

    // Round-16 tier at 10×: x352's fold must stay linear in series length
    // (10× events = same day count per type, bigger daily y — the fold
    // cost is day-count-shaped); x353's pairwise block stays pool²-sized
    // whatever the corpus; x354/x355/x356/x357/x358 are census/key-shuffle
    // shaped.
    def r16tier(): Unit = {
      ensureFull()
      entryRows("x352_holt_native", "x353_mmr_rerank", "x354_embedding_anisotropy",
        "x355_dedup_occurrence_sweep", "x356_span_corruption_plan",
        "x357_cross_source_dup_matrix", "x358_temperature_weights",
        "x359_vocab_coverage", "x360_int8_quant_error",
        "x361_dup_cluster_profile", "x362_split_ngram_leakage")
      // invariants at 10×, not just timings: the sweep stays monotone
      // and its min_occ=2 row still reconciles with x47's drop list;
      // the temperature shares still conserve
      val sw = SparkEntry.queries("x355_dedup_occurrence_sweep")(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(sw.map(_._2).toSeq == sw.map(_._2).sortBy(-(_: Long)).toSeq,
        s"x355 at 10x: docs_cut must be non-increasing: ${sw.toSeq}")
      val x47n = SparkEntry.queries("x47_dedup_keep_first")(spark, out).count()
      assert(sw.head._2 == x47n, s"x355@2 ${sw.head._2} vs x47 $x47n at 10x")
      val wsum = SparkEntry.queries("x358_temperature_weights")(spark, out)
        .collect().map(_.getLong(3)).sum
      assert(wsum > 9900L && wsum <= 10000L, s"x358 at 10x: shares sum $wsum")
      println(s"[soak] r16tier invariants: x355 monotone + reconciled " +
        s"($x47n drops), x358 shares sum $wsum")
    }

    // Round-17 tier at 10×: the scale-safe four of the seven new entries.
    // x363 is scale-FLAT by construction here (replication keeps sources,
    // so per-source DISTINCT shingle sets are unchanged); x366 is a
    // (label, half, dim) partial agg; x368 a hash census; x369 is 8
    // broadcast queries × corpus. The three quadratic audit entries
    // (x364/x365/x367) are exactBaselines — contract-SF only, by design
    // (their exact pair join IS the oracle-side truth being audited).
    def r17tier(): Unit = {
      ensureFull()
      entryRows("x363_kmv_source_jaccard", "x366_embedding_centroid_shift",
        "x368_boilerplate_edges", "x369_int8_rank_stability")
      // invariants at 10×: x363's exact per-source sets are unchanged
      // under source-preserving replication, so its whole output must
      // be IDENTICAL to sf0.1's, row for row; x369's overlaps stay in
      // [0, 10] with all 8 queries answered
      val j1 = SparkEntry.queries("x363_kmv_source_jaccard")(spark, sf)
        .collect().map(_.toSeq).toSeq
      val j10 = SparkEntry.queries("x363_kmv_source_jaccard")(spark, out)
        .collect().map(_.toSeq).toSeq
      assert(j1 == j10,
        "x363 must be invariant under source-preserving 10x replication")
      val ov = SparkEntry.queries("x369_int8_rank_stability")(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(ov.length == 8 && ov.forall(o => o._2 >= 0 && o._2 <= 10),
        s"x369 at 10x: ${ov.toSeq}")
      println(s"[soak] r17tier invariants: x363 replication-invariant, " +
        s"x369 overlaps ${ov.map(_._2).mkString(",")}")
    }

    // Late-round-17 tier at 10×: the scale-safe r17b entries. x372 is
    // signature-sized grouping; x373/x374/x375 censuses and rollups; x376
    // two windows over the key shuffle; x377 x107's running-total window
    // + boundary explode; x378 label-keyed windows. x379 is
    // exactBaselines (tri-width exact gram joins over the banded
    // candidates) — contract-SF only, x365's rule.
    def r17btier(): Unit = {
      ensureFull()
      entryRows("x372_lsh_bucket_skew", "x373_dup_group_purity",
        "x374_padding_waste", "x375_bigram_entropy_rate",
        "x376_quality_keeper_uplift", "x377_chunk_boundary_loss",
        "x378_embedding_norm_outliers",
        "x380_dedup_idempotence", "x381_novelty_decay",
        "x382_pq_code_balance", "x383_epoch_plan",
        "x384_key_partition_balance", "x385_doc_freq_spectrum",
        "x387_top_pc_power", "x388_template_strip_savings",
        "x389_langid_confusion", "x390_dup_position_profile",
        "x391_dim_variance_profile", "x392_ivf_recall_curve",
        "x393_context_ladder", "x394_ivf_list_balance",
        "x395_code_switch_screen")
      // invariants at 10×, not just timings: x374's token balances
      // must stay exact; x376 must still keep exactly one doc per
      // group under both policies; x377's per-boundary destruction
      // stays in [1, 7] windows
      SparkEntry.queries("x374_padding_waste")(spark, out).collect().foreach { r =>
        assert(r.getLong(3) + r.getLong(5) == r.getLong(2),
          s"x374 at 10x: kept+truncated != toks for ${r.getString(0)}")
      }
      val up = SparkEntry.queries("x376_quality_keeper_uplift")(spark, out).collect()
      assert(up.map(_.getLong(3)).sum == up.map(_.getLong(4)).sum,
        "x376 at 10x: keeper conservation across policies")
      SparkEntry.queries("x377_chunk_boundary_loss")(spark, out).collect().foreach { r =>
        assert(r.getLong(3) >= r.getLong(2) && r.getLong(3) <= 7 * r.getLong(2),
          s"x377 at 10x: destroyed outside [b, 7b] for ${r.getString(0)}")
      }
      // x380's fixpoint must hold at 10× too (pass 2 finds zero dups),
      // and x384's buckets must still conserve the corpus
      val fx = SparkEntry.queries("x380_dedup_idempotence")(spark, out)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(fx(2L) == 0L, s"x380 at 10x: pass 2 must be a fixpoint: $fx")
      val pb = SparkEntry.queries("x384_key_partition_balance")(spark, out)
        .collect().map(_.getLong(2)).sum
      val nd = Catalog.load(spark, out, "documents").count()
      assert(pb == nd, s"x384 at 10x: bucket docs $pb != corpus $nd")
      println("[soak] r17btier invariants: x374 balances exact, " +
        "x376 keeper conservation, x377 destruction in [1,7] per boundary, " +
        "x380 fixpoint, x384 conservation")
    }

    // x161 exact (Expand multi-distinct) vs profileApprox (HLL sketch) at
    // 1× and 10× (VERDICT r6 #6, SCALE.md §18): Expand feeds k+1 row
    // replicas per scanned row into the first-stage agg, so its cost
    // scales with rows × profiled columns; the sketch path shuffles
    // fixed-size state only.
    def profiler(): Unit = {
      ensureFull()
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")
      Seq(("sf0.1", sf), ("10x", out)).foreach { case (label, dir) =>
        val li = Catalog.load(spark, dir, "lineitem")
        val (tEx, _) = med3(clear = false)(operators.ColumnProfile.profile(li, cols).count())
        val (tAp, _) = med3(clear = false)(operators.ColumnProfile.profileApprox(li, cols).count())
        println(f"[soak] x161 profiler $label%-6s exact ${tEx * 1000}%8.1f ms   approx ${tAp * 1000}%8.1f ms   speedup ${tEx / tAp}%5.2f")
      }
    }

    /** The layout soak (no tier named): pruning, bucketing, hierarchical
      * dedup and CBO on the date-partitioned/bucketed 10× build. */
    def layout(): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      // li_big/ord_big live in the session (in-memory) catalog — a fresh JVM
      // loses them even when the events directory survived on disk, so gate
      // the rebuild on BOTH (ADVICE r2 #1).
      val built = fs.exists(new org.apache.hadoop.fs.Path(s"$root/events")) &&
        spark.catalog.tableExists("li_big") && spark.catalog.tableExists("ord_big")
      if (!built || args.contains("rebuild")) build(spark, sf)

      val events1 = Catalog.load(spark, sf, "events")
      val events10 = sources.Layout.readDatePartitioned(spark, s"$root/events")
      val li10 = spark.table("li_big")
      val ord10 = spark.table("ord_big")
      val li1 = Catalog.load(spark, sf, "lineitem")
      val ord1 = Catalog.load(spark, sf, "orders")

      println(s"[soak] rows: events ${events1.count()} -> ${events10.count()}, " +
        s"lineitem ${li1.count()} -> ${li10.count()}, orders ${ord1.count()} -> ${ord10.count()}")

      def bench(label: String, small: => Long, big: => Long,
                cols: (String, String) = ("sf0.1", "10x")): Unit = {
        val (ts, _) = med3(clear = false)(small)
        val (tb, _) = med3(clear = false)(big)
        println(f"[soak] $label%-24s ${cols._1} ${ts * 1000}%7.1f ms   ${cols._2} ${tb * 1000}%7.1f ms   ratio ${tb / ts}%5.2f")
      }

      // warm both inputs (footers, codegen)
      events1.groupBy("event_type").count().collect()
      events10.groupBy("event_type").count().collect()

      bench("histogram groupBy",
        { events1.groupBy("event_type").count().collect().length.toLong },
        { events10.groupBy("event_type").count().collect().length.toLong })

      bench("hourly series agg",
        { events1.groupBy(date_trunc("hour", col("ts"))).agg(count(lit(1)), sum("value")).collect().length.toLong },
        { events10.groupBy(date_trunc("hour", col("ts"))).agg(count(lit(1)), sum("value")).collect().length.toLong })

      val byUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy("ts", "event_id").rowsBetween(Long.MinValue, 0)
      def runningTotal(ev: DataFrame): Long =
        ev.select(col("event_id"), sum("value").over(byUser).as("rt"))
          .agg(count(lit(1))).collect()(0).getLong(0)
      bench("per-user running total", runningTotal(events1), runningTotal(events10))

      // Partition pruning: a one-day filter touches 1 of 30 dt partitions on
      // the 10× layout, vs a full scan + row filter on the single-file corpus.
      val minDate = events10.select(min("dt")).collect()(0).getDate(0)
      val oneDay = events10.where(col("dt") === lit(minDate))
      // every FileSourceScan prints `PartitionFilters: [...]` (even empty) —
      // require a NON-EMPTY filter on the dt partition column (ADVICE r2 #2)
      val pruned = "PartitionFilters: \\[[^\\]]*dt".r
        .findFirstIn(oneDay.queryExecution.executedPlan.toString).isDefined
      bench("one-day count",
        { events1.where(to_date(col("ts")) === lit(minDate)).count() },
        { oneDay.count() })
      println(s"[soak] partition pruning in 10x plan: $pruned")

      // Bucketed fact-fact join at 6M × 1.5M rows. Disable auto-broadcast:
      // at this size the dim side would broadcast (correctly hiding the
      // shuffle question); the point here is the co-located join path the
      // 100 TB deployment needs when BOTH sides are too big to broadcast.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketJoin = li10.join(ord10, li10("l_orderkey") === ord10("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity"))
      val bucketPlan = bucketJoin.queryExecution.executedPlan.toString
      val plainJoin10 = sources.Layout.readDatePartitioned(spark, s"$root/li_plain")
        .join(sources.Layout.readDatePartitioned(spark, s"$root/ord_plain"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity"))
      val plainPlan = plainJoin10.queryExecution.executedPlan.toString
      def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).length
      bench("fact join 10x (same data)",
        { plainJoin10.collect().length.toLong },
        { bucketJoin.collect().length.toLong },
        cols = ("unbucketed", "bucketed"))
      println(s"[soak] shuffle exchanges: bucketed=${exchanges(bucketPlan)} " +
        s"(SMJ=${bucketPlan.contains("SortMergeJoin")}) vs unbucketed=${exchanges(plainPlan)}")

      // ---- hierarchical exact dedup: shuffle-bytes head-to-head ----------
      // Same output rows, two plans: (a) groupBy+join-back (shuffles the
      // full rows twice), (b) min_by single-shuffle with map-side partial
      // dedup (SCALE.md §4). Measured on the 1M-row 10x events with a
      // replicated-content key so real duplicates exist in every map task.
      // content key EXCLUDING the per-replica ids (event_id/user_id are
      // offset per copy): each original row has exactly 10 content-equal
      // replicas — the duplication profile hierarchical dedup exists for
      val dupKey = md5(concat_ws("|", unix_micros(col("ts")), col("event_type"),
        col("value"), col("props")))
      // at 100 TB the keeper set never fits a broadcast — auto-broadcast
      // stays disabled so the join-back path pays the shuffle it would
      // pay at scale
      val (_, nJoin, bJoin) = shuffled {
        val keyed = events10.withColumn("key", dupKey)
        val keep = keyed.groupBy("key").agg(min("event_id").as("event_id"))
        keyed.join(keep, Seq("key", "event_id")).drop("key").count()
      }
      val (_, nHier, bHier) = shuffled {
        llm.Dedup.exactKeepFirst(events10.drop("dt"), dupKey, "event_id").count()
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      println(f"[soak] exact dedup: rows join-back=$nJoin hier=$nHier equal=${nJoin == nHier}; " +
        f"shuffle MB join-back=${bJoin / 1e6}%.1f hier=${bHier / 1e6}%.1f " +
        f"(${bJoin.toDouble / math.max(bHier, 1)}%.1fx less)")

      // ---- table statistics + CBO probe ----------------------------------
      // With column stats, the optimizer can see that a selective filter on
      // the 1.5M-row orders side shrinks it under the broadcast threshold —
      // without stats the estimate is raw file size and the join stays
      // sort-merge. (VERDICT r2 missing #2.)
      spark.sql("ANALYZE TABLE li_big COMPUTE STATISTICS")
      spark.sql("ANALYZE TABLE ord_big COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_totalprice, o_orderstatus")
      def joinNode(p: String): String =
        if (p.contains("BroadcastHashJoin")) "BroadcastHashJoin"
        else if (p.contains("SortMergeJoin")) "SortMergeJoin"
        else "other"
      // ~5% selective filter (p5 of o_totalprice ≈ 26k); the 22 MB orders
      // table sits above the 10 MB broadcast threshold, its 5% slice below —
      // only an optimizer that can SEE the filter selectivity (CBO + column
      // stats) picks the broadcast plan.
      // IMPORTANT: resolve the tables FRESH after ANALYZE — a DataFrame's
      // LogicalRelation captures catalog stats at resolution time, so
      // pre-ANALYZE handles never see the new statistics.
      val selective = () => {
        val li = spark.table("li_big"); val ord = spark.table("ord_big")
        li.join(ord.where(col("o_totalprice") < lit(26000.0)),
          li("l_orderkey") === ord("o_orderkey"))
          .groupBy("o_orderstatus").agg(sum("l_quantity"))
      }
      def sizeEst(df: DataFrame): String =
        f"${df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1e6}%.1f MB"
      def filteredOrd() = spark.table("ord_big").where(col("o_totalprice") < lit(26000.0))
      // column pruning alone squeezes the 3-col projection of the 22 MB
      // table under the default 10 MB broadcast bar — pin the bar at 4 MB so
      // only an estimate that also SEES the 5% filter selectivity (CBO +
      // column stats) clears it; the contrast, not the absolute threshold,
      // is the at-scale point (validated at 4 MB: no-stats est stays above
      // the bar, cbo+stats est drops below it)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (4 * 1024 * 1024).toString)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val planNoCbo = joinNode(selective().queryExecution.executedPlan.toString)
      val estNo = sizeEst(filteredOrd())
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val planCbo = joinNode(selective().queryExecution.executedPlan.toString)
      val estCbo = sizeEst(filteredOrd())
      val (tSel, nSel) = med3(clear = false) { selective().collect().length.toLong }
      println(s"[soak] CBO probe (selective fact-fact join, $nSel groups, " +
        f"${tSel * 1000}%.1f ms): no-stats est=$estNo join=$planNoCbo vs " +
        s"cbo+stats est=$estCbo join=$planCbo")
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  /** Build a FULL 10× copy of every table as multi-file parquet (each
    * `<t>.parquet` is a directory of part files — the layout real
    * pipelines read), with referentially consistent key offsets, so the
    * complete query inventory can be verified by Verify + the DuckDB
    * oracle at a fourth scale point. Invoked via
    * `runMain graft.ScaleSoak full`. */
  def buildFull(spark: SparkSession, sf: String, out: String): Unit = {
    println(s"[soak] building full 10x corpus under $out")
    val stride = 10 * 1000 * 1000L
    // repartition BEFORE the 10x explode: the source tables are
    // single-row-group files, so without this the whole build (and every
    // later scan of the output) is one task — each output table must be
    // a genuinely multi-file parquet directory.
    def rep10(df: DataFrame): DataFrame =
      df.repartition(16).withColumn("rep", explode(sequence(lit(0), lit(9))))
    def shift(df: DataFrame, cols: String*): DataFrame =
      cols.foldLeft(rep10(df)) { (d, c) =>
        d.withColumn(c, col(c) + col("rep") * lit(stride))
      }.drop("rep")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dims unchanged (joins stay valid: replicated custkeys keep their
    // original nationkeys, lineitems their part/supp keys)
    Seq("region", "nation", "part", "supplier").foreach { t =>
      write(Catalog.load(spark, sf, t), t)
    }
    write(shift(Catalog.load(spark, sf, "customer"), "c_custkey"), "customer")
    write(shift(Catalog.load(spark, sf, "orders"), "o_orderkey", "o_custkey"), "orders")
    write(shift(Catalog.load(spark, sf, "lineitem"), "l_orderkey"), "lineitem")
    // events: µs-timestamp view materialized directly (Catalog detects
    // the TimestampType column and skips the ns conversion on read)
    write(rep10(Catalog.load(spark, sf, "events"))
      .withColumn("event_id", col("event_id") * 10 + col("rep"))
      .withColumn("user_id", col("user_id") + col("rep") * lit(10000L))
      .drop("rep"), "events")
    write(shift(Catalog.load(spark, sf, "documents"), "doc_id"), "documents")
    write(shift(Catalog.load(spark, sf, "embeddings"), "vec_id"), "embeddings")
  }

  /** Build the 10× corpus: replicate each sf0.1 row 10 times with disjoint
    * keys (new event/order ids, 10× the user population) so group counts
    * and join fan-outs scale the way real growth would. */
  private def build(spark: SparkSession, sf: String): Unit = {
    println("[soak] building 10x corpus under " + root)
    val events = Catalog.load(spark, sf, "events")
    val events10 = events
      .withColumn("rep", explode(sequence(lit(0), lit(9))))
      .withColumn("event_id", col("event_id") * 10 + col("rep"))
      .withColumn("user_id", col("user_id") + col("rep") * lit(10000L))
      .drop("rep")
    sources.Layout.writeEventsDatePartitioned(events10, s"$root/events")

    val keyStride = 10 * 1000 * 1000L
    val lineitem = Catalog.load(spark, sf, "lineitem")
    val li10 = lineitem
      .withColumn("rep", explode(sequence(lit(0), lit(9))))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * lit(keyStride))
      .drop("rep")
    val orders = Catalog.load(spark, sf, "orders")
    val ord10 = orders
      .withColumn("rep", explode(sequence(lit(0), lit(9))))
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * lit(keyStride))
      .drop("rep")
    sources.Layout.writeBucketed(li10, "li_big", "l_orderkey", 16)
    sources.Layout.writeBucketed(ord10, "ord_big", "o_orderkey", 16)
    // Same 10× data unbucketed, for the exchange-count comparison.
    li10.write.mode("overwrite").parquet(s"$root/li_plain")
    ord10.write.mode("overwrite").parquet(s"$root/ord_plain")
  }
}
