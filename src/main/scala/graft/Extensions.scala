package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.llm.{Ann, Dedup, Fingerprint}

/** LLM-data-pipeline operators beyond the oracle-checked SQL inventory
  * (SURVEY.md §2.9). Two correctness tiers:
  *  - the dedup operators (x52/x53/x55) run under the portable
  *    md5-affine hash family ([[graft.llm.Dedup.portablePerms]]) with
  *    generated DuckDB oracles below → full rows+schema+hash checks of
  *    the Scala operator code paths;
  *  - the ANN tier (x54/x59/x103/x104) runs its declared entry at FULL
  *    probe budget (probe set = every bucket/list), where the index
  *    machinery — signatures, IVF training/assignment, PQ encode + LUT
  *    scoring + re-rank, sorted multi-probe enumeration — must reproduce
  *    the exact brute-force top-k bit-for-bit, so each shares q43's
  *    DuckDB oracle and sits under the full rows+schema+hash gate
  *    (VERDICT r5 #1). The partial-probe production configs (the
  *    default parameters) stay recall-spec'd in LlmOpsSpec;
  *  - x56 (distinct-count sketch) joined the dual-mode family in r13:
  *    sparse-exact ≤ k ⇒ full hash gate at contract SFs; the HLL
  *    register regime stays error-bound-spec'd (InvariantsSpec).
  */
object Extensions {

  /** q43's final selection applied to an ANN candidate frame
    * (vec_id, sim): round to 4dp FIRST, then order by (sim desc,
    * vec_id) — the same ordering the oracle computes, so boundary
    * ties at the k-th row resolve identically on both engines. The
    * ANN call above supplies a candidate buffer (5×k) so a rounded
    * reorder almost never needs a row the unrounded internal top-k
    * discarded — "almost": if one 4dp tie group spanned the whole
    * buffer boundary (ranks k..buffer+ all rounding equal), a
    * smaller-vec_id row outside the buffer could enter the oracle's
    * top-k and not ours (ADVICE r6). That needs ≥40 distinct float
    * cosines within 5e-5 at the boundary — not observed on any pinned
    * corpus, and CORRECTNESS would flag it loudly if a regeneration
    * ever produced it; the buffer is the mitigation, not a proof. */
  private def topKRounded(cands: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    cands.withColumn("sim", round(col("sim"), 4))
      .orderBy(desc("sim"), col("vec_id")).limit(k)
  }

  /** The nation-trade edge list — weighted src→dst nation edges from the
    * orders⋈customer⋈lineitem⋈supplier fact join — shared by BOTH graph
    * natives (x140 PageRank, x327 HITS) and their soak/probe harnesses.
    * ONE definition on purpose: the x136/x326 oracle SQL unrolls this
    * exact CTE, so every consumer must stay bit-identical to it for the
    * declared-vs-native equivalence to hold; four hand-copies drifting
    * apart (a join-key typo in one) would break that silently. */
  def nationTradeEdges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Catalog.load(s, dir, "orders")
      .join(Catalog.load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Catalog.load(s, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Catalog.load(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinHash+LSH near-dup: banded candidates, exact-Jaccard verified.
    // Runs the full Scala operator pipeline (shingling → signature →
    // 16×4 banding → candidate join → exact-Jaccard verify) under the
    // PORTABLE md5-affine hash family, so the generated DuckDB oracle
    // below reproduces it bit-for-bit — the whole code path sits under
    // the driver's rows+schema+hash gate (VERDICT r4 #1). The xxhash64
    // production family (Dedup.minHashNearDups) stays the Pipeline/
    // streaming default, recall-spec'd in LlmOpsSpec.
    "x52_minhash_neardup" -> ((s, dir) =>
      Dedup.minHashNearDupsPortable(Catalog.load(s, dir, "documents"))),

    // SimHash near-dup (banded, pigeonhole-exact) — portable 32-bit
    // family, hash-checked against the x79-twin DuckDB form; the 64-bit
    // xxhash64 production path stays spec-held (LlmOpsSpec,
    // NearDupStreamSpec).
    "x53_simhash_neardup" -> ((s, dir) =>
      Dedup.simHashNearDupsPortable(Catalog.load(s, dir, "documents"))),

    // LSH ANN top-10 vs the vec_id=0 embedding, declared at FULL probe
    // radius (probeRadius = numPlanes ⇒ every bucket within Hamming
    // distance ⇒ the bucketed path must equal exact brute force) —
    // hash-checked against q43's oracle. Production config
    // (probeRadius=2) is recall-spec'd in LlmOpsSpec.
    "x54_ann_lsh" -> { (s, dir) =>
      val q = Catalog.load(s, dir, "embeddings")
        .where("vec_id = 0").select("embedding")
        .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
      topKRounded(Ann.lshTopK(
        Catalog.load(s, dir, "embeddings").where("vec_id <> 0"),
        q, k = 50, numPlanes = 8, probeRadius = 8), k = 10)
    },

    // Winnowing fingerprint containment (copy-paste detection) —
    // portable md5 k-gram family, hash-checked against the x80-twin
    // DuckDB form; the native WinnowFps production path stays spec-held
    // (LlmOpsSpec bit-identity + containment specs).
    "x55_fingerprint_contain" -> ((s, dir) =>
      Fingerprint.containmentPortable(Catalog.load(s, dir, "documents"),
        minContainBp = 5000L)),

    // Native as-of join operator (plans.AsOfJoin: custom LogicalPlan +
    // Strategy + merge SparkPlan) — same semantics as q23, verified
    // row-identical by AsOfJoinSpec at sf0.001/sf0.01.
    "x57_asof_native" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val events = Catalog.load(s, dir, "events")
      val purchases = events.where("event_type = 'purchase'")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = events.where("event_type = 'click'")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsOf.join(purchases, clicks,
          "user_id", "c_user", "ts", "c_ts", "click_id")
        .select(col("purchase_id"), col("click_id"))
        .orderBy("purchase_id")
    },

    // IVF ANN top-10 vs the vec_id=0 embedding, declared at FULL probe
    // (nProbe = nLists ⇒ the trained index + assignment + probe path
    // must equal exact brute force) — hash-checked against q43's
    // oracle. Production config (nProbe=4 of 16, the partition-
    // prunable tier) is recall-spec'd in LlmOpsSpec.
    "x59_ann_ivf" -> { (s, dir) =>
      val q = Catalog.load(s, dir, "embeddings")
        .where("vec_id = 0").select("embedding")
        .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
      topKRounded(Ann.ivfTopK(
        Catalog.load(s, dir, "embeddings").where("vec_id <> 0"),
        q, k = 50, nLists = 16, nProbe = 16), k = 10)
    },

    // IVFADC ANN top-10: product-quantized residual codes over the IVF
    // lists (memory-bounded index: 64 float dims → 16 byte-codes + norm,
    // 11.6× smaller), probe + asymmetric-distance scoring + exact
    // re-rank. Params pinned from the IVFPQ sf0.1 sweep (SCALE.md
    // §9.4). Declared at FULL probe (nProbe = nLists), where — like
    // x54/x59/x104 — equality with brute force is STRUCTURAL: the
    // full-probe path trains/encodes/probes but never consults the PQ
    // LUT, so the candidate set is the whole corpus re-ranked exactly
    // (Ann.pqTopK full-probe branch; LlmOpsSpec pins it with garbage
    // codebooks + a no-sim_approx plan assertion). Hash-checked
    // against q43's oracle; a corpus regeneration cannot trip the
    // gate. Production config (nProbe=4) keeps the LlmOpsSpec recall
    // contracts (full-probe ≥0.9, planted-cluster ≥0.9).
    "x103_ann_ivfpq" -> { (s, dir) =>
      val q = Catalog.load(s, dir, "embeddings")
        .where("vec_id = 0").select("embedding")
        .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
      topKRounded(Ann.pqTopK(
        Catalog.load(s, dir, "embeddings").where("vec_id <> 0"),
        q, k = 20, nLists = 16, nProbe = 16), k = 10)
    },

    // Sorted multi-probe LSH ANN top-10 (x54's scale successor): probe
    // the `maxProbes` most likely buckets in increasing flipped-margin
    // order (Lv et al. VLDB'07 design) — an explicit, partition-prunable
    // bucket IN list instead of x54's full-scan Hamming filter. Measured
    // at sf0.1 (SCALE.md §9.3): recall ≥ IVF at equal candidate budget,
    // beats radius-2 probing at every budget. Declared at FULL budget
    // (maxProbes = 2^numPlanes ⇒ the successor-heap enumeration must
    // reach every bucket ⇒ exact brute force) — hash-checked against
    // q43's oracle; the maxProbes=64 production budget stays
    // recall-spec'd in LlmOpsSpec.
    "x104_ann_lsh_multiprobe" -> { (s, dir) =>
      val q = Catalog.load(s, dir, "embeddings")
        .where("vec_id = 0").select("embedding")
        .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
      topKRounded(Ann.lshTopKMultiProbe(Catalog.load(s, dir, "embeddings")
        .where("vec_id <> 0"), q, k = 50, numPlanes = 8, maxProbes = 256),
        k = 10)
    },

    // Near-dup CLUSTERS: connected components over the x74 banded-MinHash
    // pair list (operators.ConnectedComponents — min-label propagation +
    // pointer jumping, O(log n) rounds). Pairs alone can't drive "keep
    // one doc per duplicate group": the transitive closure can merge
    // pairs into larger groups (sf0.01 already has a 3-cluster). The
    // oracle recomputes the same edge set in DuckDB SQL and closes it
    // with a recursive CTE → full hash check of an iterative distributed
    // algorithm against a declarative fixpoint.
    "x111_neardup_clusters" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val pairs = Catalog.sql(s, dir, Queries.sparkSql("x74_minhash_sql"))
      graft.operators.ConnectedComponents.withSizes(pairs.select("a", "b"))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          col("csize"))
        .orderBy("doc_id")
    },

    // Dual-mode distinct-count sketch (the 100 TB path for q08-style
    // distincts: mergeable bounded state instead of an exact expand).
    // Promoted from rows-only in r13 (VERDICT r12 #4): the native
    // HllDistinct aggregator is SPARSE-EXACT while distinct users ≤ k,
    // so at every contract SF the output equals a plain COUNT(DISTINCT)
    // — full hash gate, flag computed identically by the oracle from
    // its own count. Over capacity the HLL register estimate applies
    // (σ ≈ 1.04/√4096; InvariantsSpec asserts the 5σ envelope and
    // merge-order invariance on a >k corpus).
    "x56_approx_distinct" -> { (s, dir) =>
      graft.operators.Sketches.distinctCount(
        Catalog.load(s, dir, "events"), "event_type", "user_id", 262144)
    },

    // Two-pass scalable global windows (operators.GlobalWindow.ranks):
    // q29's exact output computed WITHOUT the single-task global-window
    // plan — range-partitioned local ranks + broadcast offsets. Oracle =
    // q29's own SQL, so the hash check proves plan-shape change ⇏
    // result change.
    "x100_global_ntile" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      graft.operators.GlobalWindow
        .ranks(Catalog.load(s, dir, "customer"),
          Seq("c_acctbal", "c_custkey"), ntileBuckets = 4)
        .select(col("c_custkey"), col("g_ntile").cast("int").as("quart"),
          round(col("g_percent_rank"), 4).as("pr"))
        .orderBy("c_custkey")
    },

    // Tie-bearing global ranks (c_acctbal alone is non-unique at
    // sf≥0.01): rank/dense_rank/cume_dist are tie-invariant, so the
    // output ordered by the unique c_custkey is deterministic on both
    // engines even though ties straddle nothing.
    "x101_global_rank_ties" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      graft.operators.GlobalWindow
        .ranks(Catalog.load(s, dir, "customer"), Seq("c_acctbal"))
        .select(col("c_custkey"), col("g_rank").as("rk"),
          col("g_dense_rank").as("drk"),
          round(col("g_cume_dist"), 4).as("cd"))
        .orderBy("c_custkey")
    },

    // Integral global running sum via the two-pass runningSum — exact
    // (order-independent) arithmetic, so it hash-checks where a float
    // running sum could only ulp-match.
    "x102_global_running_sum" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      graft.operators.GlobalWindow
        .runningSum(Catalog.load(s, dir, "orders"),
          Seq("o_orderkey"), "o_custkey", "rs")
        .select(col("o_orderkey"), col("rs").cast("long").as("rs"))
        .orderBy("o_orderkey")
    },

    // Corpus-level similarity via the mergeable MinHash sketch Aggregator
    // (functions.Udfs.MinHashSketch): one 16-slot sketch per source, pair
    // similarity = matching slots. Oracle-checkable because the sketch
    // uses x74's md5-based hash family, which DuckDB reproduces with a
    // group-min (see oracleSql below).
    "x89_source_minhash" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val sketch = udaf(new graft.functions.Udfs.MinHashSketch(16))
      val tok = Catalog.load(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val sig = tok.groupBy("source").agg(sketch(col("w")).as("sig"))
      sig.as("x").join(sig.as("y"), col("x.source") < col("y.source"))
        .select(col("x.source").as("a"), col("y.source").as("b"),
          expr("cast(aggregate(zip_with(x.sig, y.sig, (p, q) -> IF(p = q, 1, 0)), 0, (acc, v) -> acc + v) AS INT)").as("m"))
        .orderBy("a", "b")
    },

    // Iterative PageRank (operators.PageRank): the scale-shaped twin of
    // x136's unrolled-CTE SQL. Same integer nano-unit arithmetic → same
    // DuckDB oracle checks both, proving iterative-materialized ==
    // declarative-unrolled bit-for-bit; but THIS plan aggregates the
    // 4-table trade join once (persisted) instead of 7× (58 scans →
    // one scan per table; see PageRank.scala scaladoc).
    "x140_pagerank_native" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val edges = nationTradeEdges(s, dir)
      val nation = Catalog.load(s, dir, "nation")
      val nodes = nation.select(col("n_nationkey").as("node"))
      graft.operators.PageRank
        .run(edges, nodes, iters = 3,
          startNano = 40000000L, teleportNano = 6000000L)
        .join(nation, col("node") === col("n_nationkey"))
        .select(col("node").as("nationkey"), col("n_name").as("nation"),
          col("r").as("rank_nano"))
        .orderBy("nationkey")
    },

    // Iterative HITS (operators.Graph.hits): the scale-shaped twin of
    // x326's unrolled-CTE SQL (VERDICT r10 #1 — the x140 treatment).
    // Same BIGINT micro-unit arithmetic with per-half-step max-
    // normalization → the same DuckDB oracle checks both, proving
    // iterative-materialized == declarative-unrolled bit-for-bit; but
    // THIS plan aggregates the 4-table trade join once (persisted)
    // instead of once per CTE reference, and carries an in-plan
    // overflow guard the declared form only documents (Graph.scala
    // scaladoc; ADVICE r10 #4).
    "x327_hits_native" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val edges = nationTradeEdges(s, dir)
      val nation = Catalog.load(s, dir, "nation")
      val nodes = nation.select(col("n_nationkey").as("node"))
      graft.operators.Graph.hits(edges, nodes, iters = 2)
        .join(nation, col("node") === col("n_nationkey"))
        .select(col("node").as("nationkey"), col("n_name").as("nation"),
          col("h").as("hub_micro"), col("a").as("auth_micro"))
        .orderBy("nationkey")
    },

    // Raw-text log ingestion, oracle-gated (VERDICT r10 #4 — closes the
    // one §2 row whose correctness rested on ScalaTest alone): events is
    // rendered once as deterministic log-line TEXT FILES (ms-floored
    // timestamp, level, [evt-user] component, "type value=v" message —
    // LogLines.ensureEventsFixture), re-ingested through the real
    // schema-on-read path (spark.read.text + regexp parse), and
    // aggregated. The DuckDB oracle computes the same rollup STRAIGHT
    // from the events table, so any defect in render→parse→type
    // round-trip (a regex group off by one, lines with spaces in the
    // message dropped, a malformed line silently parsed) lands as a
    // hash mismatch. All-BIGINT outputs; ts compared at the fixture's
    // ms precision (epoch µs floor-divided by 1000 on the oracle side,
    // matching date_format's sub-ms truncation).
    "x328_logparse" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val fixture = graft.sources.LogLines.ensureEventsFixture(s, dir)
      graft.sources.LogLines.read(s, fixture)
        .groupBy(col("level"),
          regexp_extract(col("component"), "^evt-(\\d+)$", 1)
            .cast("long").as("uid"))
        .agg(count(lit(1)).as("n"),
          max(unix_millis(col("ts"))).as("max_ms"),
          countDistinct(split(col("message"), " ").getItem(0)).as("types"))
        .orderBy("uid", "level")
    },

    // Multimodal perceptual-hash near-dup (VERDICT r12 #3): aHash +
    // dHash 32-bit signatures (functions/PerceptualHash32, codegen'd,
    // portable integer kernel — quantize to basis points first, every
    // bit a strict integer compare) over the embeddings table's 64-d
    // vectors read as 8×8 luminance grids, Hamming-banded through the
    // SAME pigeonhole machinery as the x53 text path. The DuckDB twin
    // recomputes both signatures bit-for-bit from the same parquet
    // (the x53/x79 policy), so the full pipeline — quantize, two
    // perceptual hashes, banding, radius verify, dhash annotation —
    // sits under the hash gate. Radius 7 over 32 bits = 4-bit bands
    // (contract config; production 64-bit sigs give the x53 8-bit
    // shape). Real-image decode→hash behavior (brightness invariance,
    // perturbation locality) is spec'd in MultimodalSpec on actual
    // PNGs through the javax.imageio path.
    "x329_phash_neardup" -> ((s, dir) =>
      graft.multimodal.Multimodal.perceptualNearDups(
        Catalog.load(s, dir, "embeddings"), "vec_id", "embedding",
        maxHamming = 7)),

    // Incremental perceptual near-dup (r13): the x118 daily-increment
    // shape for images — every 10th vector plays the fresh batch, the
    // rest the standing corpus; banding join restricted to new×corpus,
    // best corpus match per new image at Hamming ≤ 7 on aHash. Oracle
    // brute-forces the same integers in DuckDB (the candidate set is
    // tiny there), so banding + best-match selection sit under the
    // hash gate.
    "x330_phash_incremental" -> { (s, dir) =>
      val vecs = Catalog.load(s, dir, "embeddings")
      graft.multimodal.Multimodal.perceptualMatchNew(
        vecs.where("vec_id % 10 != 0"), vecs.where("vec_id % 10 = 0"),
        "vec_id", "embedding", maxHamming = 7)
    },

    // Multimodal pipeline census (r13): the x177 staged-composition
    // pattern for the image modality — exact dedup on the quantized
    // grid (identical images collapse before any pair join forms, the
    // §34-measured ordering), perceptual near-dup pairs over the
    // survivors, transitive closure to duplicate groups, canonical
    // survivors. One row per stage; the DuckDB oracle recomputes the
    // whole chain declaratively (recursive-CTE closure, the x111
    // pattern), putting the stage COMPOSITION under the hash gate.
    "x331_phash_census" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val vecs = Catalog.load(s, dir, "embeddings")
      val q = vecs.select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          e => round(e.cast("double") * 10000).cast("long")).as("g"))
      val exact = Dedup.exactKeepFirst(q, col("g"), "vec_id")
      val pairs = graft.multimodal.Multimodal
        .perceptualNearDups(exact, "vec_id", "embedding", maxHamming = 7)
        .localCheckpoint(true) // closure + counts reuse the pair list
      val cc = graft.operators.ConnectedComponents.run(pairs.select("a", "b"))
      def cnt(stage: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(stage).as("stage"), col("n"))
      val surv = exact.agg(count(lit(1)).as("ne")).crossJoin(
          cc.agg(count(lit(1)).as("m"), countDistinct(col("label")).as("grp")))
        .select(lit("5_survivors").as("stage"), (col("ne") - col("m") + col("grp")).as("n"))
      cnt("1_total", vecs)
        .unionAll(cnt("2_exact_survivors", exact))
        .unionAll(cnt("3_neardup_pairs", pairs))
        .unionAll(cc.agg(countDistinct(col("label")).as("n"))
          .select(lit("4_dup_groups").as("stage"), col("n")))
        .unionAll(surv)
        .orderBy("stage")
    },

    // Iterative BPE trainer (llm.Bpe): same contract as the unrolled
    // x148 SQL — one oracle text, two Spark plans — but the loop
    // materializes the encoded dict per step (lineage-truncated), so
    // step k+1 never re-executes steps 1..k. The x136/x140 policy,
    // applied to tokenizer training.
    "x149_bpe_native" -> ((s, dir) =>
      graft.llm.Bpe.trainReport(Catalog.load(s, dir, "documents"))),

    // Fused one-pass column profiler: x160's per-column UNION scans the
    // table once per column; this computes all four stats for all four
    // columns in ONE aggregate over ONE scan (Expand replicates rows
    // inside the stage for the multi-distinct, pruned to the profiled
    // columns). Same oracle text as x160.
    "x161_column_profile_native" -> ((s, dir) =>
      graft.operators.ColumnProfile.profile(
        Catalog.load(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"))),

    // Persist-once triangle enumeration: x163's SQL references its
    // edge CTE three times and Spark inlines CTEs (3 edge builds);
    // this builds the frequent-co-purchase edges once, caches, and
    // closes wedges against the cached relation. Same oracle as x163.
    "x165_triangles_native" -> ((s, dir) =>
      graft.operators.Graph.triangles(
        graft.operators.Graph.coOccurrenceEdges(
          Catalog.load(s, dir, "lineitem"), "l_orderkey", "l_partkey"))),

    // End-to-end pipeline census (VERDICT r5 #7): the COMPOSITION of
    // the training-data stages — quality filter (x50 scoring) → exact
    // dedup (x47 key, min_by keep-first) → MinHash near-dup closed
    // into clusters and deduped to canonicals (x52 pairs + x111
    // components) → benchmark decontamination (x108 grams) → stable
    // hash split (x106) — run through the ACTUAL Scala operators
    // (Dedup.exactKeepFirst / minHashNearDupsPortable /
    // keepClusterCanonical / ContaminationStream), emitting one row
    // per stage with its survivor count. The DuckDB oracle recomputes
    // the whole chain declaratively, so the hash gate now covers the
    // stage hand-offs, not just each stage in isolation.
    "x177_pipeline_census" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import s.implicits._
      val docs = Catalog.load(s, dir, "documents")
      val quality = docs.withColumn("w", split(col("text"), " "))
        .withColumn("n_toks", size(col("w")))
        .withColumn("n_types", size(array_distinct(col("w"))))
        .withColumn("n_stop", size(filter(col("w"), x => x.isin("a", "the"))))
        .withColumn("quality_bp", floor(
          (lit(0.4) * (col("n_types") / col("n_toks").cast("double"))
            + lit(0.3) * (lit(1.0) - col("n_stop") / col("n_toks").cast("double"))
            + lit(0.3) * least(col("n_toks") / lit(100.0), lit(1.0))) * 10000)
          .cast("long"))
        .where(col("quality_bp") >= 6500)
        .select("doc_id", "text", "source")
      val exact = Dedup.exactKeepFirst(quality,
        md5(array_join(sort_array(array_distinct(split(col("text"), " "))), " ")),
        "doc_id")
      val pairs = Dedup.minHashNearDupsPortable(exact)
      val canon = Dedup.keepClusterCanonical(exact, pairs, "doc_id")
      val bench = graft.streaming.ContaminationStream
        .benchmarkGrams(docs.where(col("source") === "src0"))
      val candidates = canon.where(col("source") =!= "src0")
      val hits = graft.streaming.ContaminationStream
        .contaminationHits(candidates, bench).select("doc_id")
      val decon = candidates.join(hits, Seq("doc_id"), "left_anti")
      val splits = decon.withColumn("b",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 100)
        .withColumn("stage", when(col("b") < 80, "6_train")
          .when(col("b") < 90, "7_val").otherwise("8_test"))
        .groupBy("stage").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      // stage counts are 1-row aggregates — driver-sized by definition
      val counts = Seq(
        ("1_raw", docs.count()), ("2_quality", quality.count()),
        ("3_exact", exact.count()), ("4_neardup_canonical", canon.count()),
        ("5_decontaminated", decon.count())) ++ splits
      counts.toDF("stage", "n").orderBy("stage")
    },

    // Fixed-round 2-core peeling of the co-purchase graph (x163's edge
    // set): iterative vertex removal with degree feedback — dropping a
    // sub-threshold vertex can push neighbors below threshold next
    // round. Spark side is the materialized-per-round operator
    // (Graph.kCorePeel, the x140/x149 policy — per-round
    // localCheckpoint, so round r+1 reads round r, never re-executes
    // it); the DuckDB oracle unrolls the identical 3-round recurrence
    // declaratively.
    "x179_kcore_peel" -> ((s, dir) =>
      graft.operators.Graph.kCorePeel(
        graft.operators.Graph.coOccurrenceEdges(
          Catalog.load(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        k = 2, rounds = 3)),

    // Fused data-quality audit: x172's per-rule UNION scans fuse into
    // one conditional aggregate per table + one anti-join per FK rule.
    // Same oracle as x172.
    "x173_dq_native" -> ((s, dir) => {
      import graft.operators.DataQuality._
      val li = Catalog.load(s, dir, "lineitem")
      val ord = Catalog.load(s, dir, "orders")
      audit(li, Seq(
          InRange("lineitem.qty_in_1_45", "l_quantity", 1.0, 45.0),
          NotNull("lineitem.orderkey_not_null", "l_orderkey"),
          Violates("lineitem.positive_price",
            org.apache.spark.sql.functions.col("l_extendedprice") <= 0),
          ForeignKey("lineitem.fk_orders", "l_orderkey", ord, "o_orderkey")))
        .union(audit(ord, Seq(Unique("orders.pk_unique", "o_orderkey"))))
        .orderBy("rule")
    }),

    // Bloom-filter file skipping (sources/BloomSkip.scala) on the layout
    // where min/max zone maps prune NOTHING: orders hash-bucketed by
    // o_custkey (every file's [min,max] spans the key domain). The
    // declared entry writes the table into that layout and its per-file
    // Bloom manifest (one distributed scan) once per source corpus
    // (Catalog.writeOnce), then answers a point lookup through the
    // index — reading only the files whose
    // filter can contain the key (no false negatives by construction;
    // LayoutSpec pins the skip ratio and the never-skips-a-match
    // invariant). The result must be byte-identical to the plain
    // full-scan predicate, which is exactly the DuckDB oracle below.
    "x242_bloom_skip" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val root = s"/tmp/graft_bloom/${Catalog.cacheKey(dir)}"
      val (orders, index) = (s"$root/orders", s"$root/orders_bloom")
      Catalog.writeOnce(s, s"$root/_GRAFT_DONE", Catalog.fingerprint(s"$dir/orders.parquet")) {
        Catalog.load(s, dir, "orders")
          .repartition(16, col("o_custkey"))
          .write.mode("overwrite").parquet(orders)
        graft.sources.BloomSkip.build(s, orders, "o_custkey")
          .write.mode("overwrite").parquet(index)
      }
      graft.sources.BloomSkip.readEq(s, Catalog.readParquet(s, index), "o_custkey", 101L)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    },

    // Iterative greedy set-cover (operators/SetCover.scala): must land
    // on exactly the picks x243's 3-round unrolled SQL lands on — the
    // x148/x149 one-oracle-two-plans pattern. Per round: term-keyed
    // anti-join + agg + 1-row argmax; the covered set never leaves the
    // cluster.
    "x244_setcover_native" -> ((s, dir) =>
      graft.operators.SetCover.greedySelect(
        graft.operators.SetCover.bigramMembership(
          Catalog.load(s, dir, "documents")), k = 3)),

    // Clamped running balance (operators/Sequential.scala): the
    // non-associative per-key fold no window frame expresses — Spark
    // runs groupByKey+mapGroups across users, the DuckDB oracle is
    // forced into a recursive CTE for the same reason.
    "x245_clamped_running_sum" -> ((s, dir) =>
      graft.operators.Sequential.clampedRunningSum(
        Catalog.load(s, dir, "events"))),

    // Grouped top-k via the mergeable TopK Aggregator (Udfs.TopK):
    // bounded k-pair state per group, map-side partial merge — the
    // shuffle carries |groups|·k pairs where the oracle's window form
    // shuffles every row. posexplode of the rank-ordered output
    // reproduces the window rows exactly (shared hash gate).
    "x253_topk_agg" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val topk = udaf(new graft.functions.Udfs.TopK(3))
      Catalog.load(s, dir, "events")
        .select(col("event_type"),
          expr("cast(round(value * 100) AS BIGINT)").as("cents"),
          col("event_id"))
        .groupBy("event_type")
        .agg(topk(col("cents"), col("event_id")).as("tk"))
        .select(col("event_type"), posexplode(col("tk")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
          col("col.score").as("cents"), col("col.id").as("event_id"))
        .orderBy("event_type", "rk")
    },

    // Bucket-pruned 2-d skyline (operators/Skyline.scala): the exact
    // linear two-pass plan for the frontier x257's NOT EXISTS form
    // computes quadratically — one oracle, two plans. Range-bucketed by
    // price with pinned boundaries; only per-bucket maxima cross the
    // cluster.
    "x258_skyline_native" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val p = Catalog.load(s, dir, "part").select(
        col("p_partkey"),
        expr("cast(round(p_retailprice*100) AS BIGINT)").as("price_c"),
        col("p_size").cast("long").as("size"))
      graft.operators.Skyline.skyline2d(p, "price_c", "size")
        .select("p_partkey", "price_c", "size")
        .orderBy("price_c", "p_partkey")
    },

    // Mergeable quantile sketch (functions/QuantileSketch.scala) at
    // FULL capacity (k ≥ every group's row count at contract and soak
    // SFs) — the ladder never compacts, so the sketch IS the exact
    // multiset and the rank math is pure integer: structural equality
    // with the explicit-rank DuckDB oracle (the x54/x103 full-probe
    // pattern). Production capacities (k=256) are error-bound-spec'd in
    // InvariantsSpec. The shuffle carries one ladder per group, not the
    // group's rows — the mergeable-summary shape of a fleet rollup.
    "x261_quantile_sketch" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      // Dual-mode (round 10, operators/Sketches.scala): `exact` = 1
      // while every group ≤ k (ladder never compacts — structural
      // equality with the explicit-rank oracle, which computes the same
      // flag); over capacity the MRL rank bound applies and the flag
      // drops to 0 instead of the r8-era assert_true killing the job.
      graft.operators.Sketches.quantileLadder(
        Catalog.load(s, dir, "lineitem")
          .where("l_partkey % 40 = 0")
          .select(col("l_returnflag").as("g"),
            expr("cast(round(l_extendedprice*100) AS BIGINT)").as("cents")),
        "g", "cents", 262144)
    },

    // Misra-Gries heavy hitters (functions/HeavyHitters.scala) at a
    // capacity ≥ the distinct-user count at every contract/soak SF —
    // the decrement path provably never fires, counters are exact in
    // any merge order, and the top-10 must equal the plain GROUP BY
    // oracle (x261's structural-gate pattern). Production capacities
    // are ε-bound-spec'd in InvariantsSpec. The shuffle carries ≤ k
    // (item, count) pairs, not rows — frequent-items as a fleet rollup.
    "x266_heavy_hitters" -> { (s, dir) =>
      // Dual-mode (round 10, operators/Sketches.scala): `exact` = 1
      // while distinct users ≤ k (the decrement path provably never
      // fires — top-10 equals the plain GROUP BY oracle, which computes
      // the same flag from its own countDistinct); over capacity the MG
      // undercount bound applies and the flag drops to 0 instead of the
      // r8-era assert_true killing the job.
      graft.operators.Sketches.heavyHittersTop(
        Catalog.load(s, dir, "events"), "user_id", 262144, 10)
    },

    // Count-Min sketch point estimates (functions/CountMinSketch.scala)
    // for a deterministic probe set of users — completes the mergeable-
    // summary family (x253 top-k / x261 quantiles / x266 frequent
    // items / x301 frequencies). Structural exactness: row 0 of the
    // grid is the identity bucket, injective while every user_id lies
    // in [0, width) — asserted INSIDE the plan — and CMS never
    // undercounts, so min-over-rows equals the exact GROUP BY count the
    // oracle computes. Production capacities (depth 4 × width 2048) are
    // ε-bound-spec'd in InvariantsSpec. The shuffle carries one grid,
    // not the rows.
    "x301_cms_counts" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      // Dual-mode (round 10, operators/Sketches.scala): `exact` = 1
      // while every user_id lies in [0, width) — row 0's identity
      // bucket injective, min-over-rows = the exact GROUP BY count the
      // oracle computes (plus the same flag from its own min/max);
      // outside that range the ε·N overcount bound applies and the flag
      // drops to 0 instead of the r9-era assert_true killing the job.
      // The grid stays an in-place element_at read (never through a
      // UDF — the r9 boxing postmortem, SCALE.md §28).
      val ev = Catalog.load(s, dir, "events")
      graft.operators.Sketches.cmsProbe(
        ev, "user_id",
        ev.select(col("user_id")).where(col("user_id") % 7 === 0).distinct(),
        depth = 2, width = 262144)
    },

    // Native interval overlap join (operators/IntervalJoin.scala):
    // 30-min-gap sessions (q31's definition, half-open [first_event,
    // last_event+1)) overlap-joined to the 6h wall-clock grid via
    // bucket gridding — sessions active per window. The declarative
    // overlap predicate has no equi-key (Catalyst can only nested-loop
    // it); the operator explodes intervals to grid cells and
    // equi-joins on the cell, O(span/bucket + matches). DuckDB walks
    // the same semantics with a plain range-predicate join over
    // generate_series — one oracle, two plans.
    "x305_interval_native" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val sixH = 21600000000L // 6h in µs
      val ev = Catalog.load(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val sess = ev
        .withColumn("new_s",
          when(lag("us", 1).over(w).isNull ||
               col("us") - lag("us", 1).over(w) > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(min("us").as("s_start"), (max("us") + lit(1L)).as("s_end"))
        .withColumn("skey", col("user_id") * lit(1000000L) + col("sid"))
        .select("skey", "s_start", "s_end")
      val wins = ev.agg(min("us").as("mn"), max("us").as("mx"))
        .select(explode(sequence(
          floor(col("mn") / lit(sixH)).cast("long"),
          floor(col("mx") / lit(sixH)).cast("long"))).as("widx"))
        .select(col("widx"),
          (col("widx") * lit(sixH)).as("w_start_us"),
          ((col("widx") + lit(1L)) * lit(sixH)).as("w_end_us"))
      graft.operators.IntervalJoin
        .overlap(sess, "s_start", "s_end", "skey",
                 wins, "w_start_us", "w_end_us", "widx", bucket = sixH)
        .groupBy("widx")
        .agg(count(lit(1)).as("active_sessions"))
        .select(col("widx").cast("long").as("w"), col("active_sessions"))
        .orderBy("w")
    },

    // Grid-DBSCAN density clustering over the embedding plane (dims
    // 1-2): core cells (≥ 3 points) connected through 8-adjacency by
    // the native ConnectedComponents operator (pointer-jumped, O(log)
    // rounds). The point→cell pass is one hash aggregation at any
    // scale; the cell graph is bounded by the GRID (data-independent),
    // and adjacency is an equi-join on the exploded x-offset — no
    // cartesian anywhere. DuckDB walks the same cell graph with a
    // recursive closure — one oracle, two engines' plans. Singleton
    // core cells never enter the edge list; the coalesce keeps them as
    // their own clusters (the operator only labels edge-incident ids).
    "x267_grid_dbscan" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val pts = Catalog.load(s, dir, "embeddings").select(
        expr("cast(floor(cast(element_at(embedding,1) AS DOUBLE)*40) AS BIGINT)").as("cx"),
        expr("cast(floor(cast(element_at(embedding,2) AS DOUBLE)*40) AS BIGINT)").as("cy"))
      val core = pts.groupBy("cx", "cy").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 3)
        .withColumn("id", (col("cx") + 100) * 1000 + (col("cy") + 100))
      val withOff = core.select(col("id"), col("cx"), col("cy"))
        .withColumn("nx", explode(array(col("cx") - 1, col("cx"), col("cx") + 1)))
      val nbr = core.select(col("id").as("bid"), col("cx").as("bx"), col("cy").as("by"))
      val edges = withOff.join(nbr,
          col("nx") === col("bx") &&
          abs(col("cy") - col("by")) <= 1 && col("id") =!= col("bid"))
        .select(col("id").as("a"), col("bid").as("b"))
      val labels = graft.operators.ConnectedComponents.run(edges)
        .withColumnRenamed("id", "vid")
      core.join(labels, core("id") === labels("vid"), "left")
        .select(coalesce(col("label"), col("id")).as("cluster"), col("cnt"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("cells"), sum("cnt").as("points"))
        .orderBy("cluster")
    },

    // Incremental aggregate maintenance — the materialized-view
    // identity a 100 TB pipeline lives on: two ingest batches (split by
    // event_id parity, so their GROUP BY keys OVERLAP) are aggregated
    // independently and merged with a full-outer coalesce-sum join; the
    // result must be byte-identical to the full recompute (the DuckDB
    // oracle). At scale the delta agg touches only new data and the
    // merge is state-sized — no fact rescan. (count/sum merge
    // losslessly; avg/var would carry (sum, count) / (sum, sum², count)
    // — the same partial-state shapes Spark's own partial aggregation
    // uses, and x261/x266's ladders generalize.)
    "x270_incremental_agg" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ev = Catalog.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts").cast("date").as("day"),
          expr("cast(round(value*100) AS BIGINT)").as("c"))
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"), sum("c").as("cents"))
      val base = aggOf(ev.where(col("event_id") % 2 === 0))
        .withColumnRenamed("n", "bn").withColumnRenamed("cents", "bc")
      val delta = aggOf(ev.where(col("event_id") % 2 === 1))
        .withColumnRenamed("n", "dn").withColumnRenamed("cents", "dc")
      base.join(delta, Seq("event_type", "day"), "full_outer")
        .select(col("event_type"), col("day"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("cents"))
        .orderBy("event_type", "day")
    },

    // Persist-once exact-substring dedup APPLY (r14): x332's declared
    // CTE chain tokenizes the corpus three times and hashes the windows
    // twice (Spark inlines CTEs); llm.SubstringDedup materializes both
    // once and returns the FULL cleaned corpus — the production "write
    // the deduped corpus back out" surface. The entry applies x332's
    // diagnostic selection (top-15 by removal) so it shares x332's
    // oracle verbatim — declared-vs-native bit-equality is the check.
    "x339_substring_dedup_native" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      graft.llm.SubstringDedup.cleanedDocs(
          Catalog.load(s, dir, "documents"), window = 8)
        .orderBy(desc("n_removed"), col("doc_id")).limit(15)
    },

    // Iterative k-means training loop (r15): llm.KMeans runs the x340
    // rounds with driver-held centroids (k × dims — index-sized, the
    // IVF/BPE ceiling), a once-repartitioned persisted point table
    // (zero corpus shuffle per round — PlanAuditSpec pins the shape),
    // and per-round assignment persistence with convergence stop. The
    // entry fixes 3 rounds with the stop disabled so it lands exactly
    // on x340's closed-form oracle — declared-vs-native bit-equality
    // is the check (the x148/x149 policy).
    "x341_kmeans_native" -> { (s, dir) =>
      graft.llm.KMeans.train(Catalog.load(s, dir, "embeddings"),
        k = 8, dims = 64, maxIters = 3, stopWhenStable = false).summary
    },

    // Full-corpus paragraph-dedup apply (r15): llm.ParagraphDedup keeps
    // text out of the ownership shuffle (the window ranks (doc_id, i,
    // h) only; text joins back once for survivors of affected docs) and
    // returns every rewritten document. The entry applies x346's
    // diagnostic selection (top-15 by paragraphs removed) so it shares
    // x346's oracle verbatim — declared-vs-native bit-equality is the
    // check (the x339 pattern, one granularity up).
    "x347_paragraph_dedup_native" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      graft.llm.ParagraphDedup.cleanedDocs(Catalog.load(s, dir, "documents"))
        .orderBy(desc("n_removed"), col("doc_id")).limit(15)
    },

    // Holt smoothing as a per-series fold (r16): x274's recursive CTE
    // stays declared-verbatim for the oracle; this groupByKey+mapGroups
    // fold is the production path (one shuffle by series + O(length)
    // per key vs one frontier re-join per recursion step). Shares
    // x274's oracle verbatim — bit-equal IEEE trajectories (the
    // x341/x347 policy, closing the xops heavy-tail adjudication).
    "x352_holt_native" -> { (s, dir) =>
      graft.operators.Sequential.holtLinear(Catalog.load(s, dir, "events"))
    }
  )

  /** Oracles for the extension operators that ARE deterministically
    * SQL-expressible in DuckDB. The native as-of operator's contract is
    * exactly q23's semantics, and DuckDB has first-class ASOF JOIN — so
    * x57 gets a real hash check, not just the rows-only fallback.
    */
  /** VALUES list for the portable affine-permutation constants —
    * interpolated into the generated oracles so DuckDB evaluates the
    * IDENTICAL hash family the Scala operators use (one source of
    * truth: [[Dedup.portablePerms]]). */
  private def permValues(perms: Seq[(Long, Long)]): String =
    perms.zipWithIndex.map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")

  def oracleSql: Map[String, String] = Map(
    // ANN tier at full probe budget: every index path must reproduce
    // the exact cosine top-10 — q43's oracle text, four index plans
    // (LSH radius scan / IVF probe / IVFADC encode+re-rank / sorted
    // multi-probe). One oracle, the brute-force ground truth.
    "x54_ann_lsh" -> Queries.oracleSql("q43_cosine_topk"),
    "x59_ann_ivf" -> Queries.oracleSql("q43_cosine_topk"),
    "x103_ann_ivfpq" -> Queries.oracleSql("q43_cosine_topk"),
    "x104_ann_lsh_multiprobe" -> Queries.oracleSql("q43_cosine_topk"),

    // x140: the iterative operator must land exactly where the unrolled
    // declarative form lands — one oracle text, two Spark plans.
    "x140_pagerank_native" -> Queries.oracleSql("x136_pagerank"),

    // x327: same policy for HITS — the persist-once iterative operator
    // shares x326's unrolled oracle verbatim.
    "x327_hits_native" -> Queries.oracleSql("x326_hits_hubs"),

    // x329: both perceptual hashes recomputed bit-for-bit in DuckDB —
    // quantize (round-half-away ×10000, the x267/x270 parity pattern),
    // aHash bit j = (64·q[j+1] > Σq) integer-exact mean test, dHash
    // bit j = (q[2j+1] > q[2j+2]) disjoint adjacent pairs, banding on
    // the same 4-bit chunks (pigeonhole for Hamming ≤ 7 over 32 bits).
    "x329_phash_neardup" ->
      """WITH q AS (SELECT vec_id,
        |             list_transform(embedding,
        |               e -> cast(round(cast(e AS DOUBLE)*10000) AS BIGINT)) AS g
        |           FROM embeddings),
        |s AS (SELECT vec_id, g, cast(list_sum(g) AS BIGINT) AS sm FROM q),
        |sig AS (SELECT vec_id,
        |          cast(sum(CASE WHEN 64*g[j+1] > sm
        |                        THEN (cast(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS ha,
        |          cast(sum(CASE WHEN g[2*j+1] > g[2*j+2]
        |                        THEN (cast(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS hd
        |        FROM s CROSS JOIN (SELECT unnest(generate_series(0,31)) AS j) b(j)
        |        GROUP BY vec_id, g, sm),
        |chunks AS (SELECT vec_id, ha, hd, c, (ha >> (4*c)) & 15 AS ck
        |           FROM sig CROSS JOIN (SELECT unnest(generate_series(0,7)) AS c) cs(c)),
        |pairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
        |                 cast(bit_count(xor(x.ha, y.ha)) AS INT) AS ham_a,
        |                 cast(bit_count(xor(x.hd, y.hd)) AS INT) AS ham_d
        |          FROM chunks x JOIN chunks y
        |            ON x.c = y.c AND x.ck = y.ck AND x.vec_id < y.vec_id)
        |SELECT a, b, ham_a, ham_d FROM pairs WHERE ham_a <= 7 ORDER BY a, b""".stripMargin,

    // x330: same signature construction as x329; the oracle brute-forces
    // the new×corpus Hamming predicate (no banding needed at oracle
    // scale) and picks the same (ham_a, match_id) minimum per new image.
    "x330_phash_incremental" ->
      """WITH q AS (SELECT vec_id,
        |             list_transform(embedding,
        |               e -> cast(round(cast(e AS DOUBLE)*10000) AS BIGINT)) AS g
        |           FROM embeddings),
        |s AS (SELECT vec_id, g, cast(list_sum(g) AS BIGINT) AS sm FROM q),
        |sig AS (SELECT vec_id,
        |          cast(sum(CASE WHEN 64*g[j+1] > sm
        |                        THEN (cast(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS ha,
        |          cast(sum(CASE WHEN g[2*j+1] > g[2*j+2]
        |                        THEN (cast(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS hd
        |        FROM s CROSS JOIN (SELECT unnest(generate_series(0,31)) AS j) b(j)
        |        GROUP BY vec_id, g, sm),
        |cand AS (SELECT f.vec_id AS new_id, c.vec_id AS match_id,
        |                cast(bit_count(xor(f.ha, c.ha)) AS INT) AS ham_a,
        |                cast(bit_count(xor(f.hd, c.hd)) AS INT) AS ham_d
        |         FROM (SELECT * FROM sig WHERE vec_id % 10 = 0) f
        |         JOIN (SELECT * FROM sig WHERE vec_id % 10 != 0) c
        |           ON bit_count(xor(f.ha, c.ha)) <= 7)
        |SELECT new_id, match_id, ham_a, ham_d FROM (
        |  SELECT cand.*, row_number() OVER (PARTITION BY new_id
        |           ORDER BY ham_a, match_id) AS rn FROM cand)
        |WHERE rn = 1 ORDER BY new_id""".stripMargin,

    // x331: the staged composition recomputed declaratively — exact
    // dedup by grouping on the quantized grid, brute-force perceptual
    // pairs over survivors, recursive-CTE transitive closure (the x111
    // pattern), survivor arithmetic ne − members + groups.
    "x331_phash_census" ->
      """WITH RECURSIVE
        |q AS (SELECT vec_id,
        |        list_transform(embedding,
        |          e -> cast(round(cast(e AS DOUBLE)*10000) AS BIGINT)) AS g
        |      FROM embeddings),
        |ex AS (SELECT min(vec_id) AS vec_id, g FROM q GROUP BY g),
        |s AS (SELECT vec_id, g, cast(list_sum(g) AS BIGINT) AS sm FROM ex),
        |sig AS (SELECT vec_id,
        |          cast(sum(CASE WHEN 64*g[j+1] > sm
        |                        THEN (cast(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS ha
        |        FROM s CROSS JOIN (SELECT unnest(generate_series(0,31)) AS j) b(j)
        |        GROUP BY vec_id, g, sm),
        |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b FROM sig x JOIN sig y
        |          ON x.vec_id < y.vec_id AND bit_count(xor(x.ha, y.ha)) <= 7),
        |nodes AS (SELECT DISTINCT v FROM (SELECT a AS v FROM pairs
        |                                  UNION ALL SELECT b FROM pairs)),
        |e2 AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(id, r) AS (
        |  SELECT v, v FROM nodes
        |  UNION
        |  SELECT e2.a, reach.r FROM e2 JOIN reach ON e2.b = reach.id),
        |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
        |SELECT stage, n FROM (
        |  SELECT '1_total' AS stage, cast(count(*) AS BIGINT) AS n FROM embeddings
        |  UNION ALL SELECT '2_exact_survivors', cast(count(*) AS BIGINT) FROM ex
        |  UNION ALL SELECT '3_neardup_pairs', cast(count(*) AS BIGINT) FROM pairs
        |  UNION ALL SELECT '4_dup_groups', cast(count(DISTINCT label) AS BIGINT) FROM lab
        |  UNION ALL SELECT '5_survivors',
        |    cast((SELECT count(*) FROM ex) - (SELECT count(*) FROM lab)
        |         + (SELECT count(DISTINCT label) FROM lab) AS BIGINT)
        |) ORDER BY stage""".stripMargin,

    // x328: the round-trip oracle — the Spark side reads rendered text
    // files; the oracle computes the identical rollup straight from
    // the events table the fixture was rendered from. epoch_us // 1000
    // = the fixture's ms-floor timestamp precision.
    "x328_logparse" ->
      """SELECT CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END AS level,
        |       CAST(user_id AS BIGINT) AS uid,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(epoch_us(ts) // 1000) AS BIGINT) AS max_ms,
        |       CAST(count(DISTINCT event_type) AS BIGINT) AS types
        |FROM events GROUP BY 1, 2 ORDER BY uid, level""".stripMargin,

    // x149: same policy for the BPE trainer — the iterative operator
    // shares the unrolled x148 oracle verbatim.
    "x149_bpe_native" -> Queries.oracleSql("x148_bpe_train3"),

    // x161: the fused profiler must land exactly where x160's
    // per-column scans land.
    "x161_column_profile_native" -> Queries.oracleSql("x160_column_profile"),

    // x165: the persist-once triangle pass must enumerate exactly the
    // triangles x163's three-scan SQL enumerates.
    "x165_triangles_native" -> Queries.oracleSql("x163_triangles"),

    // x173: the fused audit must report exactly x172's rule rows.
    "x173_dq_native" -> Queries.oracleSql("x172_dq_audit"),

    // x242: the Bloom-skipped point lookup must return exactly what the
    // plain predicate returns on the original table — skipping is an
    // access-path optimization, never a semantics change.
    "x242_bloom_skip" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey = 101 ORDER BY o_orderkey""".stripMargin,

    // x244: the iterative greedy selector shares x243's unrolled oracle
    // verbatim (one oracle, two plans).
    "x244_setcover_native" -> Queries.oracleSql("x243_setcover3"),

    // x258: the bucket-pruned two-pass skyline must return exactly the
    // frontier x257's NOT EXISTS form declares (one oracle, two plans).
    "x258_skyline_native" -> Queries.oracleSql("x257_skyline"),

    // x261: the full-capacity sketch must land on the explicit-rank
    // quantiles — rank targets in pure integer math (ceil(p·n) =
    // (p_num·n + p_den−1) // p_den), so no float boundary exists on
    // either side. max(CASE...) collapses the rank probe rows.
    "x261_quantile_sketch" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |                  cast(round(l_extendedprice*100) AS BIGINT) AS cents
        |           FROM lineitem WHERE l_partkey % 40 = 0),
        |r AS (SELECT g, cents, row_number() OVER (PARTITION BY g ORDER BY cents) AS rn,
        |             count(*) OVER (PARTITION BY g) AS n FROM b)
        |SELECT g,
        |       max(CASE WHEN rn = (25*n + 99)//100 THEN cents END) AS p25,
        |       max(CASE WHEN rn = (50*n + 99)//100 THEN cents END) AS p50,
        |       max(CASE WHEN rn = (75*n + 99)//100 THEN cents END) AS p75,
        |       max(CASE WHEN rn = (95*n + 99)//100 THEN cents END) AS p95,
        |       max(n) AS n,
        |       cast(CASE WHEN max(n) <= 262144 THEN 1 ELSE 0 END AS BIGINT) AS exact
        |FROM r GROUP BY g ORDER BY g""".stripMargin,

    // x270: the incremental merge must equal the full recompute — the
    // materialized-view maintenance contract.
    "x270_incremental_agg" ->
      """SELECT event_type, cast(date_trunc('day', ts) AS DATE) AS day,
        |       cast(count(*) AS BIGINT) AS n,
        |       cast(sum(cast(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // x267: the operator-clustered cell graph must match the recursive
    // closure DuckDB computes over the SAME core cells and adjacency.
    "x267_grid_dbscan" ->
      """WITH RECURSIVE pts AS (SELECT cast(floor(cast(embedding[1] AS DOUBLE)*40) AS BIGINT) AS cx,
        |       cast(floor(cast(embedding[2] AS DOUBLE)*40) AS BIGINT) AS cy FROM embeddings),
        |cells AS (SELECT cx, cy, cast(count(*) AS BIGINT) AS cnt FROM pts GROUP BY 1, 2),
        |core AS (SELECT (cx+100)*1000 + (cy+100) AS id, cx, cy, cnt FROM cells WHERE cnt >= 3),
        |e AS (SELECT a.id AS s, b.id AS t FROM core a JOIN core b
        |      ON abs(a.cx-b.cx) <= 1 AND abs(a.cy-b.cy) <= 1 AND a.id <> b.id),
        |reach(id, r) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.id
        |),
        |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY 1)
        |SELECT lab.label AS cluster, cast(count(*) AS BIGINT) AS cells,
        |       cast(sum(core.cnt) AS BIGINT) AS points
        |FROM lab JOIN core ON lab.id = core.id GROUP BY 1 ORDER BY 1""".stripMargin,

    // x266: the full-capacity MG summary must reproduce the exact
    // top-10 frequent users — count-desc, user-asc tie-break on both
    // sides.
    "x266_heavy_hitters" ->
      """SELECT cast(rk AS BIGINT) AS rk, user_id, cnt,
        |       cast(CASE WHEN (SELECT count(DISTINCT user_id) FROM events) <= 262144
        |                 THEN 1 ELSE 0 END AS BIGINT) AS exact
        |FROM (
        |  SELECT user_id, cast(count(*) AS BIGINT) AS cnt,
        |         row_number() OVER (ORDER BY count(*) DESC, user_id) AS rk
        |  FROM events GROUP BY user_id) t
        |WHERE rk <= 10 ORDER BY rk""".stripMargin,

    // x56: in the sparse-exact regime (distinct users ≤ k) the sketch's
    // count IS the exact distinct count, and the flag is the same pure
    // function of the data on both engines.
    "x56_approx_distinct" ->
      """SELECT event_type, cast(count(DISTINCT user_id) AS BIGINT) AS u_cnt,
        |       cast(CASE WHEN count(DISTINCT user_id) <= 262144
        |                 THEN 1 ELSE 0 END AS BIGINT) AS exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // x301: in the identity-row-injective regime the CMS point estimate
    // must equal the exact per-user multiset count.
    "x301_cms_counts" ->
      """SELECT user_id, cast(count(*) AS BIGINT) AS est,
        |       cast(CASE WHEN (SELECT max(user_id) FROM events) < 262144
        |                  AND (SELECT min(user_id) FROM events) >= 0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS exact
        |FROM events
        |WHERE user_id % 7 = 0 GROUP BY user_id ORDER BY user_id""".stripMargin,

    // x305: the bucket-gridded native interval join must reproduce the
    // plain range-predicate overlap join over the same sessions × 6h
    // windows (half-open on both sides).
    "x305_interval_native" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
        |s AS (SELECT user_id, us,
        |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |               OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |sid AS (SELECT user_id, us,
        |               sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS sess
        |        FROM s),
        |sess AS (SELECT user_id, sess, min(us) AS s0, max(us) + 1 AS s1
        |         FROM sid GROUP BY 1, 2),
        |b AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
        |w AS (SELECT unnest(generate_series((SELECT mn // 21600000000 FROM b),
        |                                    (SELECT mx // 21600000000 FROM b))) AS widx)
        |SELECT cast(w.widx AS BIGINT) AS w,
        |       cast(count(*) AS BIGINT) AS active_sessions
        |FROM w JOIN sess
        |  ON sess.s0 < (w.widx + 1) * 21600000000
        | AND w.widx * 21600000000 < sess.s1
        |GROUP BY w.widx ORDER BY w""".stripMargin,

    // x253: the bounded-state aggregate must reproduce the window-rank
    // rows exactly — same integer-cent scores, same (score desc, id)
    // tie-break.
    "x253_topk_agg" ->
      """SELECT event_type, cast(rk AS BIGINT) AS rk, cents, event_id FROM (
        |  SELECT event_type, cast(round(value*100) AS BIGINT) AS cents, event_id,
        |         row_number() OVER (PARTITION BY event_type ORDER BY cast(round(value*100) AS BIGINT) DESC, event_id) AS rk
        |  FROM events) t WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin,

    // x245: the clamped fold is order-dependent, so DuckDB walks each
    // user's sequence with a recursive CTE — per-user recursion over
    // row_number steps, joined back to the per-user max step for the
    // final state. Deposits/spends and the clamp rule mirror
    // Sequential.clampedRunningSum exactly.
    "x245_clamped_running_sum" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |         CASE WHEN event_type IN ('purchase','signup') THEN cast(round(value*100) AS BIGINT)
        |              ELSE -cast(round(value*100) AS BIGINT) END AS delta
        |  FROM events),
        |n AS (SELECT user_id, max(rn) AS mx FROM e GROUP BY 1),
        |r(user_id, rn, bal, clamps) AS (
        |  SELECT user_id, 1 AS rn, greatest(delta, 0) AS bal,
        |         CASE WHEN delta < 0 THEN 1 ELSE 0 END AS clamps
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |         greatest(r.bal + e.delta, 0),
        |         r.clamps + CASE WHEN r.bal + e.delta < 0 THEN 1 ELSE 0 END
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT r.user_id AS user_id, cast(r.bal AS BIGINT) AS final_cents,
        |       cast(r.clamps AS BIGINT) AS clamps, cast(n.mx AS BIGINT) AS n_events
        |FROM r JOIN n ON r.user_id = n.user_id AND r.rn = n.mx
        |ORDER BY r.user_id""".stripMargin,

    // x52: the DuckDB reproduction of minHashNearDupsPortable — distinct
    // 3-shingles (with the operator's short-doc partial-shingle
    // fallback), 64 md5-affine minhashes, 16 bands of 4 (band key =
    // the ordered 4-slot slice), candidates = any shared band, exact
    // Jaccard >= 0.5 in basis points.
    "x52_minhash_neardup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |         [array_to_string(w[i:i+2],' ') FOR i IN range(1, greatest(len(w)-2,1)+1)])) AS sh
         |       FROM w),
         |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hv AS (SELECT doc_id, sh, cast(('0x'||substr(md5(sh),1,8)) AS BIGINT) AS hv FROM sh),
         |perm AS (SELECT * FROM (VALUES ${permValues(Dedup.portablePerms(64))}) AS perm(i,a,b)),
         |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
         |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
         |bands AS (SELECT doc_id, i//4 AS band, string_agg(mh, ',' ORDER BY i) AS bkey
         |          FROM sig GROUP BY 1,2),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |common AS (SELECT c.a, c.b, count(*) AS cc
         |           FROM cand c JOIN sh sa ON sa.doc_id = c.a
         |                       JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |           GROUP BY 1,2)
         |SELECT a, b, jac_bp FROM (
         |  SELECT common.a, common.b,
         |         cast(floor(cc*10000.0/(na.n + nb.n - cc)) AS BIGINT) AS jac_bp
         |  FROM common JOIN n na ON common.a = na.doc_id JOIN n nb ON common.b = nb.doc_id)
         |WHERE jac_bp >= 5000 ORDER BY jac_bp DESC, a, b""".stripMargin,

    // x53: the x79 SQL twin's DuckDB form verbatim — 32-bit md5-prefix
    // TF-weighted SimHash, pigeonhole 8-bit chunks, Hamming <= 3.
    "x53_simhash_neardup" ->
      """WITH tok AS (SELECT doc_id, w, count(*) AS n
        |             FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |             GROUP BY 1,2),
        |hv AS (SELECT doc_id, n, cast(('0x'||substr(md5(w),1,8)) AS BIGINT) AS h FROM tok),
        |bits AS (SELECT doc_id, j, cast(sum(n * (2*((h >> j) & 1) - 1)) AS BIGINT) AS wt
        |         FROM hv CROSS JOIN (SELECT unnest(generate_series(0,31)) AS j) b
        |         GROUP BY 1,2),
        |sig AS (SELECT doc_id, cast(sum(CASE WHEN wt > 0 THEN (cast(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sig
        |        FROM bits GROUP BY 1),
        |chunks AS (SELECT doc_id, sig, c, (sig >> (8*c)) & 255 AS ck
        |           FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS c) cs(c)),
        |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |                 cast(bit_count(xor(x.sig, y.sig)) AS INT) AS ham
        |          FROM chunks x JOIN chunks y
        |            ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id)
        |SELECT a, b, ham FROM pairs WHERE ham <= 3 ORDER BY a, b""".stripMargin,

    // x55: the x80 SQL twin's DuckDB form verbatim — md5-prefix char
    // 8-gram hashes, per-4-window minima (full windows only), distinct
    // fingerprint sets, containment vs the smaller set >= 50%.
    "x55_fingerprint_contain" ->
      """WITH pos AS (SELECT doc_id, unnest(generate_series(1, greatest(length(text)-7,1))) AS i, text FROM documents),
        |h AS (SELECT doc_id, i, cast(('0x'||substr(md5(substr(text,i,8)),1,8)) AS BIGINT) AS h FROM pos),
        |wmin AS (SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE i >= 4),
        |n AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
        |rep AS (SELECT doc_id, fp FROM (
        |          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
        |        WHERE df >= 2),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM rep x JOIN rep y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1,2)
        |SELECT a, b, contain_bp FROM (
        |  SELECT common.a, common.b, cast(floor(common.c*10000.0/least(na.n, nb.n)) AS BIGINT) AS contain_bp
        |  FROM common JOIN n na ON common.a = na.doc_id JOIN n nb ON common.b = nb.doc_id)
        |WHERE contain_bp >= 5000 ORDER BY contain_bp DESC, a, b""".stripMargin,
    // x177: the DuckDB re-statement of the full pipeline composition.
    // Each CTE block is a verbatim-semantics copy of an already-checked
    // stage oracle (x50 scoring / x47 keep-first / x52 banded MinHash
    // with the short-doc fallback / x111 recursive closure / x108
    // 5-gram gate / x106 hash split), chained on each other's
    // survivors instead of the raw table.
    "x177_pipeline_census" ->
      s"""WITH RECURSIVE
         |raw AS (SELECT doc_id, source, text FROM documents),
         |qs AS (SELECT doc_id, source, text, len(w) AS n_toks,
         |         len(list_distinct(w)) AS n_types,
         |         len(list_filter(w, x -> x IN ('a','the'))) AS n_stop
         |       FROM (SELECT doc_id, source, text, string_split(text,' ') AS w FROM raw)),
         |q AS (SELECT doc_id, source, text FROM qs
         |      WHERE cast(floor((0.4*(n_types/cast(n_toks AS DOUBLE))
         |             + 0.3*(1.0 - n_stop/cast(n_toks AS DOUBLE))
         |             + 0.3*least(n_toks/100.0, 1.0))*10000.0) AS BIGINT) >= 6500),
         |k AS (SELECT doc_id, source, text,
         |        md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS key
         |      FROM q),
         |f AS (SELECT key, min(doc_id) AS keeper FROM k GROUP BY 1),
         |e AS (SELECT k.doc_id, k.source, k.text FROM k
         |      JOIN f ON k.key = f.key AND k.doc_id = f.keeper),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |         [array_to_string(w[i:i+2],' ') FOR i IN range(1, greatest(len(w)-2,1)+1)])) AS sh
         |       FROM (SELECT doc_id, string_split(text,' ') AS w FROM e)),
         |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hv AS (SELECT doc_id, sh, cast(('0x'||substr(md5(sh),1,8)) AS BIGINT) AS hv FROM sh),
         |perm AS (SELECT * FROM (VALUES ${permValues(Dedup.portablePerms(64))}) AS perm(i,a,b)),
         |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
         |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
         |bands AS (SELECT doc_id, i//4 AS band, string_agg(mh, ',' ORDER BY i) AS bkey
         |          FROM sig GROUP BY 1,2),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |common AS (SELECT c.a, c.b, count(*) AS cc
         |           FROM cand c JOIN sh sa ON sa.doc_id = c.a
         |                       JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |           GROUP BY 1,2),
         |pairs AS (SELECT a, b FROM (
         |            SELECT common.a, common.b,
         |                   cast(floor(cc*10000.0/(na.n + nb.n - cc)) AS BIGINT) AS jac_bp
         |            FROM common JOIN n na ON common.a = na.doc_id
         |                        JOIN n nb ON common.b = nb.doc_id)
         |          WHERE jac_bp >= 5000),
         |und AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b AS s, a AS d FROM pairs),
         |reach(id, r) AS (
         |  SELECT s AS id, s AS r FROM (SELECT DISTINCT s FROM und)
         |  UNION
         |  SELECT u.d AS id, reach.r FROM reach JOIN und u ON u.s = reach.id
         |),
         |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |canon AS (SELECT e.doc_id, e.source, e.text FROM e
         |          LEFT JOIN lab ON e.doc_id = lab.doc_id
         |          WHERE lab.doc_id IS NULL OR lab.cluster_id = e.doc_id),
         |benchg AS (SELECT DISTINCT unnest(
         |             [array_to_string(w[i:i+4],' ') FOR i IN range(1, len(w)-3)]) AS g
         |           FROM (SELECT string_split(text,' ') AS w FROM raw WHERE source='src0')
         |           WHERE len(w) >= 5),
         |contam AS (SELECT DISTINCT doc_id FROM (
         |             SELECT doc_id, unnest(
         |               [array_to_string(w[i:i+4],' ') FOR i IN range(1, len(w)-3)]) AS g
         |             FROM (SELECT doc_id, string_split(text,' ') AS w
         |                   FROM canon WHERE source <> 'src0')
         |             WHERE len(w) >= 5)
         |           WHERE g IN (SELECT g FROM benchg)),
         |decon AS (SELECT * FROM canon WHERE source <> 'src0'
         |          AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |sp AS (SELECT CASE WHEN b < 80 THEN '6_train'
         |                   WHEN b < 90 THEN '7_val' ELSE '8_test' END AS stage
         |       FROM (SELECT cast(('0x'||substr(md5(cast(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100 AS b
         |             FROM decon))
         |SELECT stage, n FROM (
         |  SELECT '1_raw' AS stage, cast(count(*) AS BIGINT) AS n FROM raw
         |  UNION ALL SELECT '2_quality', cast(count(*) AS BIGINT) FROM q
         |  UNION ALL SELECT '3_exact', cast(count(*) AS BIGINT) FROM e
         |  UNION ALL SELECT '4_neardup_canonical', cast(count(*) AS BIGINT) FROM canon
         |  UNION ALL SELECT '5_decontaminated', cast(count(*) AS BIGINT) FROM decon
         |  UNION ALL SELECT stage, cast(count(*) AS BIGINT) FROM sp GROUP BY stage
         |) ORDER BY stage""".stripMargin,

    // x179: the unrolled declarative statement of the 3-round 2-core
    // peel — edge base = x163's frequent co-purchase pairs; each round
    // keeps endpoints whose degree in the previous round's edge set is
    // ≥ 2. DuckDB materializes CTEs, so the unrolled form is linear
    // there (the Spark twin must NOT be written this way: CTE inlining
    // would re-evaluate the edge build ~3^rounds times — SCALE.md §12).
    "x179_kcore_peel" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |u0 AS (SELECT p1 AS a, p2 AS b FROM e0 UNION ALL SELECT p2 AS a, p1 AS b FROM e0),
        |k1 AS (SELECT a FROM u0 GROUP BY a HAVING count(*) >= 2),
        |u1 AS (SELECT u0.a, u0.b FROM u0
        |       JOIN k1 ka ON u0.a = ka.a JOIN k1 kb ON u0.b = kb.a),
        |k2 AS (SELECT a FROM u1 GROUP BY a HAVING count(*) >= 2),
        |u2 AS (SELECT u1.a, u1.b FROM u1
        |       JOIN k2 ka ON u1.a = ka.a JOIN k2 kb ON u1.b = kb.a),
        |k3 AS (SELECT a FROM u2 GROUP BY a HAVING count(*) >= 2),
        |u3 AS (SELECT u2.a, u2.b FROM u2
        |       JOIN k3 ka ON u2.a = ka.a JOIN k3 kb ON u2.b = kb.a)
        |SELECT a AS part, cast(count(*) AS BIGINT) AS deg
        |FROM u3 GROUP BY a ORDER BY part""".stripMargin,

    // x100 is q29's contract restated — the two-pass operator must hash-
    // match the same single-task-window SQL the oracle runs.
    "x100_global_ntile" ->
      """SELECT c_custkey, ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quart,
        |       round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey),4) AS pr
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "x101_global_rank_ties" ->
      """SELECT c_custkey,
        |       cast(rank() OVER (ORDER BY c_acctbal) AS BIGINT) AS rk,
        |       cast(dense_rank() OVER (ORDER BY c_acctbal) AS BIGINT) AS drk,
        |       round(cume_dist() OVER (ORDER BY c_acctbal),4) AS cd
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // x111: the x74 edge set (verbatim CTE chain through `pairs`) closed
    // into components by a recursive CTE — min reachable id per vertex ≡
    // the operator's min-label fixpoint.
    "x111_neardup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |         [array_to_string(w[i:i+2],' ') FOR i IN range(1, len(w)-1)])) AS sh
        |       FROM w WHERE len(w) >= 3),
        |hv AS (SELECT doc_id, cast(('0x'||substr(md5(sh),1,8)) AS BIGINT) AS hv FROM sh),
        |perm AS (SELECT * FROM (VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891)) AS perm(i,a,b)),
        |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
        |pairs AS (SELECT sa.doc_id AS a, sb.doc_id AS b
        |          FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.mh = sb.mh AND sa.doc_id < sb.doc_id
        |          GROUP BY 1,2 HAVING count(*) >= 8),
        |und AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b AS s, a AS d FROM pairs),
        |reach(id, r) AS (
        |  SELECT s AS id, s AS r FROM (SELECT DISTINCT s FROM und)
        |  UNION
        |  SELECT u.d AS id, reach.r FROM reach JOIN und u ON u.s = reach.id
        |),
        |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
        |SELECT doc_id, cluster_id,
        |       cast(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS csize
        |FROM lab ORDER BY doc_id""".stripMargin,
    "x102_global_running_sum" ->
      """SELECT o_orderkey,
        |       cast(sum(o_custkey) OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rs
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x89_source_minhash" ->
      """WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS w FROM documents),
        |hv AS (SELECT source, cast(('0x'||substr(md5(w),1,8)) AS BIGINT) AS hv FROM tok),
        |perm AS (SELECT * FROM (VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891)) AS perm(i,a,b)),
        |sig AS (SELECT source, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2)
        |SELECT sa.source AS a, sb.source AS b,
        |       cast(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS INT) AS m
        |FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.source < sb.source
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // Click side pre-deduped per (user_id, ts) keeping max event_id: the
    // native operator resolves equal-timestamp ties toward the largest
    // click_id deterministically, while DuckDB ASOF's pick among duplicate
    // right timestamps is unspecified — dedup makes the oracle tie-free
    // (ADVICE r2 #3).
    "x57_asof_native" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type='purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id
        |                FROM events WHERE event_type='click' GROUP BY 1,2) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // x339: the persist-once apply shares the declared form's oracle
    // verbatim (the x327/x149/x161 policy) — same keep-first ownership,
    // same island merge, same top-15 diagnostic selection.
    "x339_substring_dedup_native" ->
      Queries.oracleSql("x332_substring_dedup_apply"),

    // x341: the iterative training loop lands exactly where the
    // unrolled 3-round form lands — one oracle text, two Spark plans
    // (the x140/x327/x149 policy).
    "x341_kmeans_native" ->
      Queries.oracleSql("x340_kmeans_train3"),

    // x347: the full-corpus paragraph-dedup apply shares the declared
    // slice's oracle verbatim (the x339 pattern).
    "x347_paragraph_dedup_native" ->
      Queries.oracleSql("x346_paragraph_dedup_apply"),

    // x352: the Holt fold lands exactly where the recursive CTE lands —
    // one oracle text, two Spark plans (the heavy-tail adjudication).
    "x352_holt_native" ->
      Queries.oracleSql("x274_holt_linear")
  )
}
