package graft

/** Plan-shape regression guards (SCALE.md §1): the physical properties
  * that make each query family scale are asserted on the actual plans, so
  * a refactor that silently de-optimizes (drops pushdown, breaks
  * broadcast, loses partial aggregation) fails CI — not the 100 TB run.
  */
class PlanAuditSpec extends SparkSpec {

  // Bypass Catalog's plan cache: a cached DataFrame another spec already
  // EXECUTED has a mutated AdaptiveSparkPlanExec whose text shows final
  // ShuffleQueryStage nodes instead of the Exchange operators these
  // assertions match — audit a fresh, un-executed plan instead.
  private def physical(name: String): String =
    Queries.sparkSql.get(name) match {
      case Some(sql) =>
        Catalog.ensure(spark, sf0001)
        spark.sql(sql).queryExecution.executedPlan.toString
      case None =>
        SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    }

  test("q02: filter and projection reach the parquet scan") {
    val p = physical("q02_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("q24: dimension join broadcasts") {
    val p = physical("q24_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"dim join did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q16: all three dim joins broadcast; only the agg shuffles") {
    val p = physical("q16_multiway_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3, s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact scan should never shuffle for dims:\n$p")
  }

  test("q10: top-k short-circuits (no global sort)") {
    val p = physical("q10_topk_users")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q05: aggregation is two-phase (partial before the exchange)") {
    val p = physical("q05_histogram")
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"expected partial+final agg:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly one shuffle:\n$p")
  }

  test("x89: sketch aggregate merges map-side (partial ObjectHashAggregate)") {
    val p = physical("x89_source_minhash")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final sketch agg:\n$p")
  }

  test("x333: centroid fan-out joins broadcast (512-row side never shuffles the points)") {
    val p = physical("x333_kmeans_step")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"expected the 8-centroid × 64-dim sides to broadcast in both distance passes:\n$p")
  }

  test("x341: a k-means round broadcasts centroids and moves zero corpus bytes through new shuffles") {
    // The training loop's per-round plan (llm.KMeans.assignTo over the
    // once-repartitioned point table): the centroid side must broadcast
    // (k × dims rows), and BOTH aggregations must reuse the vec_id
    // clustering — the ONLY exchange in the whole assignment plan is
    // the one the upfront repartition itself introduces. A second
    // Exchange here means a round started shuffling the corpus, the
    // exact regression the driver-held-centroid design exists to
    // prevent.
    Catalog.ensure(spark, sf0001)
    val emb = Catalog.load(spark, sf0001, "embeddings")
    val pts = llm.KMeans.quantizedPoints(emb, 8, 64)
      .repartition(org.apache.spark.sql.functions.col("vec_id"))
    val cent = (0L until 8L).flatMap(c => (1 to 64).map(d => (c, d, 0L)))
    val p = llm.KMeans.assignTo(spark, pts, cent)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"centroid side did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"centroid join must never shuffle the points:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected ONLY the upfront repartition exchange — a round must not re-shuffle the corpus:\n$p")
  }

  test("x342: the PQ codebook (256 rows) broadcasts into both distance passes") {
    val p = physical("x342_pq_codebook_train")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"expected the sub-space codebook sides to broadcast in both distance passes:\n$p")
  }

  test("x336: reference gram set broadcasts into the novelty probe") {
    val p = physical("x336_ngram_novelty")
    // executedPlan.toString renders as "BroadcastHashJoin [g], [g],
    // LeftOuter, BuildRight" — match the pieces, not one literal
    assert("BroadcastHashJoin .*LeftOuter, BuildRight".r.findFirstIn(p).isDefined,
      s"expected the distinct reference-gram side to broadcast:\n$p")
  }

  test("q43: cosine runs as the native expression, not HOF fallback") {
    val p = physical("q43_cosine_topk")
    assert(p.contains("cosine_sim"), s"native expression missing:\n$p")
  }

  test("x137: salted agg is four-phase (two partial+final pairs), salt never sorts") {
    // the skew shape: (key, salt) agg → key re-agg. Each groupBy is
    // itself two-phase, so four HashAggregates; a hot key splits across
    // `nSalts` reducers in the first exchange and collapses in the second.
    val p = physical("x137_salted_agg")
    assert("HashAggregate".r.findAllIn(p).length == 4,
      s"expected two two-phase aggs:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"expected exactly the two agg shuffles:\n$p")
  }

  test("x141: chunk extraction is map-only (no shuffle before the output sort)") {
    // the doc→sequence step must stay a per-row explode: one scan, one
    // generate, and ONLY the final ORDER BY's range exchange — any
    // hashpartitioning exchange means a join/agg crept into a pipeline
    // that 100 TB needs embarrassingly parallel.
    val p = physical("x141_chunking")
    assert(p.contains("Generate explode"), s"expected explode generator:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"map-only stage must not hash-shuffle:\n$p")
  }

  test("x258: bucket-pruned skyline broadcasts its offsets, no pair join") {
    val p = physical("x258_skyline_native")
    assert(p.contains("BroadcastHashJoin"), s"per-bucket offsets should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline must never pair-join the points:\n$p")
    // round-10 fast path: integral x (price_c) must use the direct
    // RANGE-on-x frame — the dense_rank surrogate (and its extra
    // per-bucket window sort) is reserved for fractional x
    assert(!p.contains("__xr"),
      s"integral-x skyline must not pay the dense_rank surrogate:\n$p")
  }

  test("x261: quantile-sketch aggregate merges ladders map-side (partial ObjectHashAggregate)") {
    val p = physical("x261_quantile_sketch")
    // partial aggregation BELOW the exchange = the shuffle carries one
    // ladder per (group, map partition), not the group's rows — the
    // mergeable-summary property the operator exists for.
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0, s"sketch should run as ObjectHashAggregate:\n$p")
    assert(firstExchange >= 0 && p.indexOf("ObjectHashAggregate", firstExchange) >= 0,
      s"expected a partial agg on the map side of the exchange:\n$p")
  }

  test("x140: iterative pagerank truncates lineage, never unrolls the fact join") {
    // Since r6 PageRank.run owns its persists: it materializes via
    // localCheckpoint and unpersists the edge/vertex caches before
    // returning (ADVICE r5 #4), so the returned plan is a truncated
    // ExistingRDD scan. The at-scale property to pin is the NEGATIVE
    // one: the final plan must not have unrolled the iterations into
    // repeated scans of the 4-table trade join (x136's unrolled SQL
    // carries 58 FileScans; the operator's plan may scan only the
    // nation dim it joins for display names).
    val df = SparkEntry.queries("x140_pagerank_native")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"result should be lineage-truncated (localCheckpoint):\n$p")
    val fileScans = "FileScan parquet".r.findAllIn(p).length
    assert(fileScans <= 1,
      s"iterations must not unroll into fact re-scans ($fileScans FileScans):\n$p")
    assert(!p.contains("lineitem"),
      s"no lineitem scan may survive into the final plan:\n$p")
    spark.catalog.clearCache()
  }

  test("x327: iterative HITS truncates lineage; only the declared x326 unrolls the fact join") {
    // The x140 pin applied to the round-11 HITS pair (SCALE.md §29):
    // recursive CTE inlining hands the DECLARED x326 plan dozens of
    // fact-scan nodes at 2 iterations (33 lineitem Locations in the
    // formatted plan), while Graph.hits aggregates the 4-table trade
    // join ONCE (persisted) and iterates over checkpointed score
    // frames. Pin the asymmetry, not the exact node count (a
    // Spark-version detail): the declared plan re-reaches lineitem,
    // the native plan's only surviving FileScan is the nation dim it
    // joins for display names.
    val declared = physical("x326_hits_hubs")
    assert("lineitem".r.findAllIn(declared).length > 1,
      s"x326's unrolled form should re-scan the fact (else drop the native tier):\n$declared")
    val df = SparkEntry.queries("x327_hits_native")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"scores should be lineage-truncated (localCheckpoint):\n$p")
    Seq("lineitem", "orders", "customer", "supplier").foreach { t =>
      assert(!p.contains(t), s"no $t scan may survive into the final plan:\n$p")
    }
    assert("FileScan parquet".r.findAllIn(p).length <= 1,
      s"only the nation display join may scan parquet:\n$p")
    spark.catalog.clearCache()
  }

  // ---- inventory-wide sweep (VERDICT r2 next-#7) -----------------------
  // Every declared query's physical plan must be free of the two
  // anti-patterns that silently kill 100x scale-ups: CartesianProduct
  // (except the operators DECLARED as cross/all-pairs shapes) and UDFs in
  // the SQL tier (whose plans must stay 100% codegen'd built-ins — the
  // custom-Expression tier excepted by construction since cosine_sim IS
  // codegen'd, printed as cosine_sim(...), never UDF(...)).
  test("CBO: collected stats reorder a badly-written join (fact no longer first)") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    // At 100 TB, join order on fact-fact joins is stats-driven: ANALYZE
    // feeds row counts + column min/max/ndv to CostBasedJoinReorder,
    // which must rewrite a query whose WRITTEN order joins the big fact
    // first into the selective-dimension-first shape (SCALE.md §1).
    Catalog.ensure(spark, sf0001)
    for (t <- Seq("lineitem", "orders", "customer")) {
      spark.sql(s"DROP TABLE IF EXISTS cbo_$t")
      spark.sql(s"CREATE TABLE cbo_$t USING parquet AS SELECT * FROM $t")
      spark.sql(s"ANALYZE TABLE cbo_$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    // badly written: the 6k-row fact scans first, while the c_acctbal
    // filter makes customer the by-far smallest input (stats know it)
    val bad =
      """SELECT count(*) AS c
        |FROM cbo_lineitem JOIN cbo_orders ON l_orderkey = o_orderkey
        |  JOIN cbo_customer ON o_custkey = c_custkey
        |WHERE c_acctbal < -900.0""".stripMargin
    def leafOrder(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.catalogTable.map(_.identifier.table)
      case _ => None
    }
    def withCbo[A](on: Boolean)(f: => A): A = {
      spark.conf.set("spark.sql.cbo.enabled", on)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", on)
      try f finally {
        spark.conf.set("spark.sql.cbo.enabled", false)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", false)
      }
    }
    val off = withCbo(false)(leafOrder(spark.sql(bad).queryExecution.optimizedPlan))
    val on = withCbo(true)(leafOrder(spark.sql(bad).queryExecution.optimizedPlan))
    assert(off.head == "cbo_lineitem", s"written order must start at the fact: $off")
    assert(on != off && on.head != "cbo_lineitem",
      s"CBO must reorder the filtered dimension ahead of the fact: off=$off on=$on")
    for (t <- Seq("lineitem", "orders", "customer"))
      spark.sql(s"DROP TABLE IF EXISTS cbo_$t")
  }

  test("x152: vocab IN-probe compiles to a broadcast existence join") {
    // the top-k vocab is dict-sized; the per-token membership probe
    // must be a broadcast LeftSemi, never a shuffled semi or a
    // nested-loop — at 100 TB the token stream is the corpus itself
    val p = physical("x152_oov_rate")
    // Catalyst compiles IN-under-CASE to an ExistenceJoin (semi join
    // with a membership flag) — still hash-built and broadcast
    assert(p.contains("BroadcastHashJoin") && p.contains("ExistenceJoin"),
      s"vocab probe should be a broadcast existence join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop probe:\n$p")
  }

  test("x153: ranked-limit output short-circuits (no full sort after the window)") {
    val p = physical("x153_pareto_bands")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("runtime bloom filter: selective dim filter injects a probe-side bloom") {
    // At 100 TB the win is reading less of the FACT table: when a join's
    // build side is selectively filtered, Spark's InjectRuntimeFilter can
    // plant bloom_filter_agg(build keys) and might_contain() on the probe
    // scan, cutting shuffled fact rows before the join. The default
    // application-side threshold (10 GB) is sized for clusters, so the
    // sf0.001 corpus never triggers it — lower it to zero to pin the
    // MECHANISM here; production keeps the default.
    Catalog.ensure(spark, sf0001)
    val conf = spark.conf
    val prevApp = conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prevEnabled = conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    val prevBcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // The rule only fires for probably-shuffled joins: a build side
      // this small would broadcast (where the bloom is pointless), so
      // model the 100 TB case — both sides too big to broadcast.
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = spark.sql(
        """SELECT count(*) AS c
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected an injected runtime bloom filter on the probe side:\n$p")
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter"),
        s"expected the build-side bloom aggregate:\n$p")
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prevApp)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prevEnabled)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("x161: fused profiler scans the table ONCE (x160's SQL scans per column)") {
    val p160 = physical("x160_column_profile")
    val p161 = physical("x161_column_profile_native")
    assert("FileScan parquet".r.findAllIn(p160).length == 4,
      s"oracle form is declared one-scan-per-column:\n$p160")
    assert("FileScan parquet".r.findAllIn(p161).length == 1,
      s"fused profile must scan once:\n$p161")
    // the scale split (VERDICT r6 #6): the exact fused profiler pays
    // Expand (k+1 row replicas feed the multi-distinct); the HLL form
    // must profile the same columns in one scan with NO Expand — the
    // shuffle carries fixed-size sketches, not replicated rows
    assert(p161.contains("Expand"),
      s"exact multi-distinct is the Expand form by construction:\n$p161")
    val pApprox = graft.operators.ColumnProfile.profileApprox(
        Catalog.load(spark, sf0001, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"))
      .queryExecution.executedPlan.toString
    assert(!pApprox.contains("Expand"),
      s"sketch profiler must not replicate rows:\n$pApprox")
    assert("FileScan parquet".r.findAllIn(pApprox).length == 1,
      s"sketch profiler must scan once:\n$pApprox")
  }

  test("x230: radius join is cell-keyed, never a point-level nested loop") {
    val p = physical("x230_grid_radius_join")
    assert(!p.contains("CartesianProduct"), s"point-level cartesian:\n$p")
    // the candidate join must be an equi-join on the (cx, cy) cell keys —
    // the 3x3 neighborhood explode sides are 3-row LocalRelations and may
    // broadcast however Catalyst likes; the POINT join may not
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"no equi-join on cell keys:\n$p")
  }

  test("x241: native expression + top-k short-circuit, no UDF") {
    val p = physical("x241_jaro_winkler")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(p.contains("jaro_winkler"), s"native expression missing:\n$p")
    assert(!p.contains("UDF("), s"UDF crept into the scoring path:\n$p")
  }

  test("x240: each label-propagation round is a hash join on the label key") {
    val p = physical("x240_label_prop3")
    // three rounds of label joins + per-node argmax: equi-joins on node
    // keys (the tiny threshold scalar may broadcast-nested-loop), never
    // a cartesian over the edge set
    assert(!p.contains("CartesianProduct"), s"cartesian in LPA round:\n$p")
    assert("HashJoin".r.findAllIn(p).length >= 3, s"label joins not hash joins:\n$p")
  }

  test("x245: clamped fold shuffles once into MapGroups") {
    val p = physical("x245_clamped_running_sum")
    assert(p.contains("MapGroups"), s"expected the mapGroups fold:\n$p")
    // groupByKey shuffles on its EXTRACTED key (value#N, the user_id
    // lambda output); the final orderBy adds one rangepartitioning
    // exchange — exactly one hash shuffle total feeds the fold
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly one key shuffle:\n$p")
  }

  test("x253: top-k aggregate merges map-side (partial ObjectHashAggregate)") {
    val p = physical("x253_topk_agg")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final top-k agg:\n$p")
    // the whole point: the pre-shuffle side must NOT be a window sort
    assert(!p.contains("Window"), s"window crept back in:\n$p")
  }

  test("x305: interval join plans as an EQUI-join on the grid cell") {
    val p = physical("x305_interval_native")
    // the operator's whole point: the overlap predicate alone can only
    // nested-loop; bucket gridding must turn it into a hash-keyed join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"), s"expected equi-join on __cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degenerated to a loop join:\n$p")
  }

  test("x301: CMS probes read the broadcast grid in place (no UDF over the array)") {
    val p = physical("x301_cms_counts")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final CMS agg:\n$p")
    // element_at probing keeps the 524k-long grid out of any
    // collection-boxing UDF (the 82x r9 soak fix, SCALE.md §28) —
    // only the scalar bucket-index UDF may appear
    assert(!p.contains("UDF(sk"), s"grid passed through a UDF again:\n$p")
  }

  test("x384/x385: the r17b censuses are pure agg pipelines — no Window, no SortMergeJoin") {
    Seq("x384_key_partition_balance", "x385_doc_freq_spectrum").foreach { n =>
      val p = physical(n)
      assert(!p.contains("Window"), s"$n: census must not need a window:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n: census must not shuffle-join:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$n: expected partial+final agg:\n$p")
    }
  }

  test("x372: bucket-load census aggregates map-side before every exchange") {
    val p = physical("x372_lsh_bucket_skew")
    // sig min-agg, band-key agg, bucket-size agg, final per-band rollup —
    // each two-phase (no single-phase shuffle-everything stage)
    assert("HashAggregate".r.findAllIn(p).length >= 6, s"expected staged partial aggs:\n$p")
    assert(!p.contains("CartesianProduct"), s"the 16-perm expansion must broadcast:\n$p")
  }

  test("x392: recall curve never self-joins the corpus; tiny sides broadcast") {
    val p = physical("x392_ivf_recall_curve")
    assert(!p.contains("CartesianProduct"),
      s"nProbe expansion (4 rows) and query side (8 vecs) must broadcast:\n$p")
  }

  // ---- r18 optimization-round guards (VERDICT r17 #1/#3/#4/#5) ---------

  test("r18: the md5-prefix hash composition is fused in every hot SQL site") {
    // FuseMd5Prefix32 must route the per-row conv(substr(md5)) chain
    // through the codegen'd kernel in EVERY declared query whose Spark
    // text spells it — the set is derived, so a new site is guarded the
    // day it is declared, and its floor (the 21 covered queries at r18)
    // keeps the guard from going silently empty. Optimized-plan
    // assertions: the rewrite is an optimizer rule, and the compact
    // PHYSICAL tree string elides aggregate result projections (x79's
    // fused hash lives in one)
    val covered = Queries.all.filter(_.spark.contains("conv(substr(md5(")).map(_.name)
    assert(covered.size >= 21, s"fusion guard covers only: $covered")
    // x307's second and third Bloom hashes slice md5 at offsets 9 and 17,
    // which the prefix kernel does not cover: its prefix slice must fuse
    // (an unfused one prints as `…, 1, 8), 16, 10`), the offset slices stay
    val offsetSlices = Set("x307_bloom_fpr")
    covered.foreach { n =>
      val p = SparkEntry.queries(n)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert(p.contains("md5_prefix32"), s"$n: hash not fused:\n${p.take(1500)}")
      val survivor = if (offsetSlices(n)) ", 1, 8), 16, 10" else "conv("
      assert(!p.contains(survivor), s"$n: unfused conv survived:\n${p.take(1500)}")
    }
  }

  test("r18 x126: cheap band conjuncts evaluate BEFORE the levenshtein DP") {
    val p = physical("x126_levenshtein")
    // the join condition must short-circuit on the ±40 key band first —
    // the r17 shape ran the O(|a|·|b|) DP on every brand-equal pair
    // (plans/r18/x126_levenshtein_before.txt)
    val cond = p.linesIterator.find(_.contains("levenshtein")).getOrElse("")
    assert(cond.nonEmpty, s"levenshtein not in plan:\n$p")
    assert(cond.indexOf("levenshtein") > cond.indexOf("<= 40"),
      s"levenshtein ordered before the key band:\n$cond")
  }

  test("r18 x274: the recursion is referenced ONCE (single UnionLoop)") {
    // the fin-join form inlined the whole recursive CTE twice — one
    // events-agg + window + join PER DAY STEP, per copy (549 stages)
    val opt = SparkEntry.queries("x274_holt_linear")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert("UnionLoop ".r.findAllIn(opt).length == 1,
      s"recursion inlined more than once:\n${opt.take(1500)}")
  }

  test("x274: stage count at or under its single-UnionLoop ceiling") {
    // 276 stages at sf0.001 under this spec session (fresh plan, no
    // Catalog plan cache), measured when the ceiling was set; a plan
    // change that re-inlines the recursion multiplies it
    Catalog.ensure(spark, sf0001)
    val l = Harness.listen(spark)
    try {
      val c0 = l.quiesce()
      spark.sql(Queries.sparkSql("x274_holt_linear")).collect()
      val d = l.quiesce() - c0
      assert(d.stages <= 276, s"x274 stage count over its ceiling: $d")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("r18 x363: bottom-64 restriction is pushed per source; sizes stated once") {
    val opt = SparkEntry.queries("x363_kmv_source_jaccard")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    // two rank-limit sites now: per-source (the hv64 restriction) and
    // per-pair (the original kmv ranking)
    assert("WindowGroupLimit".r.findAllIn(opt).length >= 2,
      s"expected per-source AND per-pair group limits:\n${opt.take(1500)}")
    // the tokenize→3-gram→explode pipeline appears 4× (hv, inter×2,
    // sizes×1) — the r17 form inlined it 5× (sizes was joined twice)
    assert("Generate explode".r.findAllIn(opt).length <= 4,
      s"shingle pipeline re-inlined:\n${opt.take(1500)}")
  }

  test("r18: per-key ranked top-k ops carry the Partial WindowGroupLimit shape") {
    // VERDICT r17 #5: the engine's InferWindowGroupLimit plans
    // row_number()<=k windows as Partial→Exchange→Final group limits —
    // the same bounded-buffer-per-(map partition, key) shape as
    // TopKPerKey, with only k rows per key crossing the exchange. Guard
    // the shape on the ranked ops the audit walked, so a filter form
    // the rule cannot see (rank alias compared != , rn in an OR, …)
    // regresses loudly.
    Seq("x284_negative_sampling", "x363_kmv_source_jaccard").foreach { n =>
      val p = physical(n)
      assert(p.contains("WindowGroupLimit"), s"$n: rank-limit pushdown lost:\n${p.take(1500)}")
      assert("""row_number\(\), \d+, Partial""".r.findFirstIn(p).isDefined,
        s"$n: no map-side partial group limit:\n${p.take(1500)}")
    }
  }

  test("inventory sweep: no cartesian product, no UDF, plans all build") {
    val cartesianAllowed = Set(
      "q21_cross_join",    // the declared cross-join operator itself
      "x48_jaccard_topk",  // declared exact all-pairs baseline (banded twin: x52)
      "x49_cosine_pairs")  // declared exact all-pairs baseline (ANN twins: x54/x59)
    Catalog.ensure(spark, sf0001)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, sf0001).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct") && !cartesianAllowed(name))
          failures += s"$name: CartesianProduct in plan"
        if (p.contains("BatchEvalPython"))
          failures += s"$name: python UDF in plan"
        if (Queries.sparkSql.contains(name) && p.contains("UDF("))
          failures += s"$name: UDF in SQL-tier plan"
      } catch {
        case e: Throwable => failures += s"$name: planning failed: ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, s"${failures.length} plan regressions:\n${failures.mkString("\n")}")
  }
}
