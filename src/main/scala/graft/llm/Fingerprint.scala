package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document fingerprinting (winnowing): rolling char k-gram hashes →
  * per-window minima → distinct fingerprint set. Containment of one doc's
  * fingerprints in another's detects copy-paste/substring reuse that
  * token-set measures miss. Entirely row-local (codegen'd HOFs). */
object Fingerprint {

  /** Winnowing fingerprint set: min hash of each sliding window of
    * `window` consecutive k-gram hashes, deduplicated. One fused
    * codegen'd loop per row (functions.WinnowFps — same xxhash64/substr
    * semantics as [[fingerprintsHof]], which LlmOpsSpec holds
    * bit-identical). */
  def fingerprints(docs: DataFrame, textCol: String = "text",
                   k: Int = 8, window: Int = 4): DataFrame = {
    graft.functions.WinnowFps.register(docs.sparkSession)
    // spread first — single-row-group parquet otherwise pins this
    // CPU-bound kernel to one task (see fingerprintsHof's note);
    // Dedup.spread is the ONE copy of the parallelism sizing rule
    Dedup.spread(docs)
      .withColumn("fps", graft.functions.WinnowFps(col(textCol), k, window))
  }

  /** The original HOF composition of [[fingerprints]] — kept as the
    * executable specification the native expression is equivalence-
    * tested against (LlmOpsSpec "winnow_fps native == HOF"). */
  def fingerprintsHof(docs: DataFrame, textCol: String = "text",
                      k: Int = 8, window: Int = 4): DataFrame =
    fingerprintsHofWith(docs, textCol, k, window,
      HashFamily.Production, fullWindowsOnly = false)

  /** THE winnowing HOF kernel, shared by both families (round 10,
    * VERDICT r9 #7): rolling k-gram hashes under `family`, per-window
    * minima, distinct. `fullWindowsOnly` pins the portable twin's
    * boundary semantics — a doc with fewer than `window` k-gram
    * positions yields NO fingerprints (exactly the x80 SQL twin's
    * `i >= window` row filter), while the production default keeps a
    * partial-window fallback for tiny docs; the two modes differ only
    * below `k + window - 1` chars.
    *
    * SQL expr() because Column-lambda substring(start=i) is clumsy in
    * the DSL. The k-gram hash array is LET-BOUND via a single-element
    * transform: projection collapse would otherwise inline its
    * construction into the window lambda — O(n) rebuilds of an O(n)
    * array per doc (observed: sf0.1 runtime went from minutes to
    * seconds; see graft.llm.Cols.bind). */
  def fingerprintsHofWith(docs: DataFrame, textCol: String, k: Int,
                          window: Int, family: HashFamily,
                          fullWindowsOnly: Boolean): DataFrame = {
    val hash = family.sqlHash(s"substr($textCol, i, $k)")
    val hashes =
      s"transform(sequence(1, greatest(length($textCol)-${k - 1}, 1)), i -> $hash)"
    val body =
      if (fullWindowsOnly)
        s"""CASE WHEN size(hs) >= $window
           |     THEN array_distinct(transform(sequence(1, size(hs)-${window - 1}),
           |                                   j -> array_min(slice(hs, j, $window))))
           |     ELSE slice(hs, 1, 0) END""".stripMargin
      else
        s"""array_distinct(transform(sequence(1, greatest(size(hs)-${window - 1}, 1)),
           |                         j -> array_min(slice(hs, j, $window))))""".stripMargin
    val fps = s"element_at(transform(array($hashes), hs -> $body), 1)"
    // spread first: single-row-group input parquet pins the scan to
    // one task, serializing this row-local compute otherwise — sized by
    // cluster parallelism via Dedup.spread, the one copy of the rule
    // (measured: under numShufflePartitions=4 the extraction dominated
    // x55 at ~5 s of its runtime)
    Dedup.spread(docs).withColumn("fps", expr(fps))
  }

  /** Containment of the smaller doc's fingerprints in the larger's (basis
    * points). Because fingerprint sets are distinct per doc, |common| falls
    * straight out of the inverted-index pair counts — no per-pair set
    * intersection, so the shuffle carries only (fp → doc_id) and the
    * aggregation is a plain pair count.
    *
    * Plan shape pinned by measurement (sf0.1, history/BENCH_r04_xops.json;
    * 16.2 s naive → 6.3 s):
    *  1. The rolling-hash extraction dominates, twice over: every plan
    *     branch referencing it re-ran it (3 branches ≈ 15 s), and it was
    *     parallelized by numShufflePartitions (4 in the bench protocol)
    *     instead of cluster cores. `persist()` materializes it once and
    *     [[fingerprints]] now sizes by defaultParallelism. At 100 TB the
    *     same decision holds — write fingerprints to parquet once, every
    *     consumer reads the materialization.
    *  2. Prefilter counter-measurements, recorded so nobody re-walks
    *     them: a df ≥ 2 count-WINDOW over the high-cardinality fp column
    *     is a full sort (41.8 s — 2.6× WORSE than no prefilter), and a
    *     collect_list pair-generation aggregate falls back to sort-based
    *     object aggregation (51.1 s). The hash-agg + broadcast semi-join
    *     prefilter is a wash at this scale (12.8 vs 12.3 s pre-
    *     parallelism) — at 100 TB, add exactly x80's agg-based df ≥ 2
    *     prefilter before this join so only repeated fingerprints are
    *     shuffled.
    *  3. Round 12: the pair count itself is adaptive — see the kernel
    *     notes on [[invertedPairs]]/[[densePairs]] and SCALE.md §30. On
    *     a corpus whose fingerprint dictionary is broadcast-sized (the
    *     bench corpus: 5 000 docs, 6 579 distinct fps, 94.9 M-row
    *     expansion) the identical exact result is computed as bitset
    *     AND+popcount with no shuffle at all (8.28 s → 1.39 s; the §17
    *     10× replica point 246.6 s → 17.2 s). */
  def containment(docs: DataFrame, minContainBp: Long = 5000L,
                  maxDf: Int = Int.MaxValue): DataFrame =
    containmentFrom(fingerprints(docs), minContainBp, maxDf)

  /** [[containment]] under the portable md5 hash family — same
    * inverted-index pair-count machinery, hash-checked against the x80
    * SQL twin's DuckDB form (Extensions.oracleSql "x55", cap off). */
  def containmentPortable(docs: DataFrame, minContainBp: Long = 5000L,
                          maxDf: Int = Int.MaxValue): DataFrame =
    containmentFrom(fingerprintsPortable(docs), minContainBp, maxDf)

  /** The fingerprints a df-capped [[containment]] skips: every fp whose
    * doc-frequency exceeds `maxDf`, with its df — the "log what was
    * dropped" half of the cap contract (same reporting shape as the
    * x119/semDeDup cap). Sized by distinct over-cap fps, not docs.
    * `portable = true` derives the report from the md5-affine family so
    * it audits [[containmentPortable]] runs — the two hash families
    * produce disjoint fingerprint universes, so the audit MUST use the
    * same family as the capped run it explains. */
  def droppedFingerprints(docs: DataFrame, maxDf: Int,
                          portable: Boolean = false): DataFrame = {
    val withFps = if (portable) fingerprintsPortable(docs) else fingerprints(docs)
    withFps
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
      .orderBy(desc("df"), col("fp"))
  }

  /** Winnowing fingerprints under the portable family: md5-prefix 32-bit
    * k-gram hashes (identical on both engines), minima over FULL windows
    * only — a doc with fewer than `window` k-gram positions yields no
    * fingerprints, exactly as the x80 twin's `i >= window` row filter.
    * (The production [[fingerprints]] keeps its partial-window fallback
    * for tiny docs; the two differ only below `k + window - 1` chars.)
    *
    * One fused codegen'd loop per row (functions.WinnowFpsMd5 — same
    * md5-prefix/substr semantics as [[fingerprintsPortableHof]], which
    * LlmOpsSpec holds bit-identical). The HOF form paid a substring
    * copy + md5 hex render + base-16 parse per CHARACTER position and
    * dominated x55's bench cost. */
  def fingerprintsPortable(docs: DataFrame, textCol: String = "text",
                           k: Int = 8, window: Int = 4): DataFrame = {
    graft.functions.WinnowFpsMd5.register(docs.sparkSession)
    Dedup.spread(docs)
      .withColumn("fps", graft.functions.WinnowFpsMd5(col(textCol), k, window))
  }

  /** The original HOF composition of [[fingerprintsPortable]] — kept as
    * the executable specification the native md5 expression is
    * equivalence-tested against (LlmOpsSpec
    * "winnow_fps_md5 native == HOF"). */
  def fingerprintsPortableHof(docs: DataFrame, textCol: String = "text",
                              k: Int = 8, window: Int = 4): DataFrame =
    fingerprintsHofWith(docs, textCol, k, window,
      HashFamily.Portable, fullWindowsOnly = true)

  /** `maxDf` is the quadratic-blow-up guard (SCALE.md §17: a 10×-replica
    * corpus makes the inverted-index self-join pay Σ C(df,2) — 52× wall
    * clock). Fingerprints shared by more than `maxDf` docs are excluded
    * from the self-join (one extra hash-agg + fp-key join, co-partitioned
    * with the self-join it feeds), so out-of-order use — containment
    * BEFORE exact dedup — degrades boundedly: join cost ≤ Σ_{df≤cap}
    * C(df,2) ≤ |fps|·cap²/2. Containment for pairs whose overlap was
    * carried by dropped fps is then an UNDERestimate (denominators keep
    * full set sizes) — the x119 bounded-degradation semantic; audit what
    * was dropped with [[droppedFingerprints]]. Default = no cap, which is
    * the x55 oracle contract. */
  /** Test seam: run [[containmentPortable]] with the pair-count kernel
    * pinned to one side, so LlmOpsSpec can hold dense == inverted on the
    * same corpus without depending on what the gate would choose. */
  private[graft] def containmentPortableVia(docs: DataFrame,
                                            minContainBp: Long,
                                            maxDf: Int,
                                            dense: Boolean): DataFrame =
    containmentFrom(fingerprintsPortable(docs), minContainBp, maxDf,
      pathOverride = Some(dense))

  private def containmentFrom(withFps: DataFrame, minContainBp: Long,
                              maxDf: Int = Int.MaxValue,
                              pathOverride: Option[Boolean] = None): DataFrame = {
    val fps = withFps.select(col("doc_id"),
      size(col("fps")).as("n"), col("fps"))
      .where(col("n") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = cappedInv(fps, maxDf)
    try {
      if (pathOverride.getOrElse(useDense(fps, inv, minContainBp)))
        densePairs(fps, inv, minContainBp)
      else invertedPairs(fps, inv, minContainBp)
    } finally fps.unpersist()
  }

  // --- exact pair-count kernels (identical output, adaptive choice) ----
  //
  // The inverted-index self-join pays Σ_fp C(df,2) shuffled rows — exact
  // and scale-safe (keys only, never text), but on a boilerplate-heavy
  // corpus the expansion is brutal: the sf0.1 documents table yields
  // 5 000 docs, just 6 579 DISTINCT fingerprints, and a 94.9 M-row
  // expansion that collapses to 11.7 M distinct pairs — ~6 s of x55's
  // bench cost against ~1 s of everything else. When the corpus is that
  // dense, the EXACT result is cheaper as a dense-bitset kernel: map
  // fingerprints to dense bit positions, give each doc a (F/64+1)-word
  // bitset, and AND+popcount all doc pairs — D²/2 · words long-ops with
  // no shuffle at all (sf0.1: 12.5 M pairs × 104 words ≈ 1.3 G word-ops,
  // well under a second across 32 threads). This is also the natural
  // INNER kernel at 100 TB: after LSH bucketing, within-bucket exact
  // verification is exactly a small-D dense problem.
  //
  // The choice is gated on exact, cheap statistics (never a guess):
  //  1. collected volume, priced at its BOXED cost — collect() of
  //     array<bigint> rows materializes boxed Longs inside Row Seqs, so
  //     the estimate is 32 B per fingerprint instance + 64 B per doc
  //     row, not 8 B per long — must fit the collect budget: the lesser
  //     of 256 MB and maxMemory/8, so a small-heap driver refuses the
  //     dense path that a 3 GiB+ one takes (same bounded-collect
  //     discipline as Ann's centroid/codebook training: index METADATA
  //     may ride the driver, corpus data never does). The pinned 3 GiB
  //     §20 protocol measured the 10× point (≈180 MB boxed transient)
  //     completing with ≤ 109 MB post-GC heap;
  //  2. broadcast bitset volume D·words·8 (primitive, exact) must fit
  //     the same lesser-of bound;
  //  3. ΣC(df,2) = 0 → inverted: no fingerprint is shared, the join
  //     emits nothing near-free, and the dense scan would pay its full
  //     D²/2 popcount sweep to produce provably zero rows;
  //  4. predicted dense work D²/2·words must beat the inverted
  //     expansion: ≤ DenseWorkPerShuffledRow·ΣC(df,2) + DenseWorkFloor.
  //     Measured calibration (sf0.1, 16 threads): the inverted path
  //     moved ~1 M expanded rows/s/core (~1 µs/row — shuffle write/read
  //     + hash-agg per row) vs ~1 ns/word-op dense, so the honest
  //     equivalence constant is ~1 000 word-ops per shuffled row;
  //     200 is kept deliberately conservative.
  // A corpus failing any gate (100 TB: D and F both huge) takes the
  // inverted path unchanged, with the documented maxDf cap as the
  // quadratic guard. Dense is also skipped when minContainBp < 1: the
  // inverted join never emits pairs sharing ZERO fingerprints, so the
  // dense kernel filters common > 0 to match — but at minContainBp = 0
  // the two shapes would then still agree only because of that filter,
  // and the gate keeps the definitional path authoritative there.
  private val DenseCollectBudget = 256L << 20
  private val DenseBoxedBytesPerFp = 32L
  private val DenseBoxedBytesPerDoc = 64L
  private val DenseWorkPerShuffledRow = 200L
  private val DenseWorkFloor = 2000000000L

  /** The df-capped inverted index over a fingerprint frame — shared by
    * the kernel chooser and both pair-count paths. */
  private def cappedInv(fps: DataFrame, maxDf: Int): DataFrame = {
    val invAll = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    if (maxDf == Int.MaxValue) invAll
    else invAll.join(
      invAll.groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("fp"),
      "fp")
  }

  /** The gate's decision for `docs` under the portable family,
    * recomputed from the same statistics [[containmentPortable]] would
    * use — a diagnostic surface for soak modes that record WHICH kernel
    * a corpus takes (SCALE.md §30); no mutable state. */
  private[graft] def wouldUseDensePortable(docs: DataFrame,
                                           minContainBp: Long,
                                           maxDf: Int = Int.MaxValue): Boolean = {
    val fps = fingerprintsPortable(docs).select(col("doc_id"),
      size(col("fps")).as("n"), col("fps")).where(col("n") > 0)
    useDense(fps, cappedInv(fps, maxDf), minContainBp)
  }

  private def useDense(fps: DataFrame, inv: DataFrame,
                       minContainBp: Long): Boolean = {
    if (minContainBp < 1) return false
    val budget = math.min(DenseCollectBudget,
      Runtime.getRuntime.maxMemory / 8)
    val pre = fps.agg(count(lit(1)), sum(col("n"))).head()
    val d = pre.getLong(0)
    val sumN = if (pre.isNullAt(1)) 0L else pre.getLong(1)
    if (d < 2 ||
        sumN * DenseBoxedBytesPerFp + d * DenseBoxedBytesPerDoc > budget)
      return false
    // small corpus by the collect gate ⇒ the df stats pass is cheap
    val st = inv.groupBy("fp").agg(count(lit(1)).as("df"))
      .agg(count(lit(1)), sum(expr("df*(df-1)"))).head()
    val f = st.getLong(0)
    val sumPairs = (if (st.isNullAt(1)) 0L else st.getLong(1)) / 2
    if (f == 0 || sumPairs == 0) return false
    val words = f / 64 + 1
    d * words * 8 <= budget &&
      (d * d / 2) * words <= DenseWorkPerShuffledRow * sumPairs + DenseWorkFloor
  }

  /** The inverted-index pair count (the scale path): shuffle (fp →
    * doc_id) only, Σ C(df,2) expanded rows, hash-agg per (a,b). */
  private def invertedPairs(fps: DataFrame, inv: DataFrame,
                            minContainBp: Long): DataFrame = {
    val common = inv.as("x").join(inv.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(fps.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(fps.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("contain_bp",
        floor(col("common") * lit(10000.0) / least(col("na"), col("nb"))).cast("long"))
      .where(col("contain_bp") >= minContainBp)
      .select(col("a"), col("b"), col("contain_bp"))
      .orderBy(desc("contain_bp"), col("a"), col("b"))
      // materialize off the persisted fps so it can be released NOW —
      // the operator owns its persists (ADVICE r5 #4: returning a lazy
      // plan over a cached frame leaks one cache entry per call, the
      // cache-accumulation failure mode; same discipline as
      // Dedup.nearDupsWithSig)
      .localCheckpoint(true)
  }

  /** The dense-bitset pair count (the small-dictionary path): bit-for-bit
    * the same output as [[invertedPairs]] (LlmOpsSpec holds the two
    * identical), computed as AND+popcount over broadcast per-doc bitsets.
    * `inv` (the possibly df-capped inverted index) defines each doc's
    * countable fingerprints; `fps.n` keeps the FULL set size as the
    * denominator, exactly as the capped inverted form does. */
  private def densePairs(fps: DataFrame, inv: DataFrame,
                         minContainBp: Long): DataFrame = {
    val spark = fps.sparkSession
    val rows = inv.groupBy("doc_id").agg(collect_list(col("fp")).as("fs"))
      .join(fps.select(col("doc_id"), col("n")), "doc_id")
      .select(col("doc_id"), col("n"), col("fs"))
      .collect()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("contain_bp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (rows.length < 2)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // sorted dictionary → dense bit positions (determinism for debugging;
    // popcounts are invariant to the id assignment)
    val dictSet = new java.util.TreeSet[java.lang.Long]()
    rows.foreach(_.getSeq[Long](2).foreach(v => dictSet.add(v)))
    val dict = {
      val a = new Array[Long](dictSet.size)
      val it = dictSet.iterator(); var i = 0
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      a
    }
    val words = dict.length / 64 + 1
    val sorted = rows.sortBy(_.getLong(0)) // index order == doc_id order ⇒ a < b
    val ids = sorted.map(_.getLong(0))
    val ns = sorted.map(_.getInt(1))
    val bits = sorted.map { r =>
      val w = new Array[Long](words)
      r.getSeq[Long](2).foreach { v =>
        val ix = java.util.Arrays.binarySearch(dict, v)
        w(ix >> 6) |= 1L << (ix & 63)
      }
      w
    }
    val dCount = ids.length
    val bc = spark.sparkContext.broadcast((ids, ns, bits))
    // interleave rows across partitions (i ≡ p mod parts) so each
    // partition samples the triangular loop uniformly — contiguous
    // i-ranges gave the earliest partitions ~2× the average popcount
    // work (ADVICE r12 #4); striding makes every partition's total a
    // uniform sample of the row costs regardless of parts
    val parts = math.min(dCount, spark.sparkContext.defaultParallelism * 8)
    val out = spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitions { pit =>
        val (ids, ns, bits) = bc.value
        val n = ids.length
        pit.flatMap(p => Iterator.range(p, n, parts)).flatMap { i =>
          val bi = bits(i); val ni = ns(i); val ai = ids(i)
          val buf = scala.collection.mutable.ArrayBuffer.empty[
            org.apache.spark.sql.Row]
          var j = i + 1
          while (j < n) {
            val bj = bits(j)
            var c = 0; var w = 0
            while (w < bi.length) {
              c += java.lang.Long.bitCount(bi(w) & bj(w)); w += 1
            }
            if (c > 0) {
              val bp = math.floor(c * 10000.0 / math.min(ni, ns(j))).toLong
              if (bp >= minContainBp)
                buf += org.apache.spark.sql.Row(ai, ids(j), bp)
            }
            j += 1
          }
          buf.iterator
        }
      }
    val res = spark.createDataFrame(out, schema)
      .orderBy(desc("contain_bp"), col("a"), col("b"))
      .localCheckpoint(true) // materialize before releasing the broadcast
    bc.destroy()
    res
  }
}
