package graft

import graft.llm.{Ann, Dedup, Fingerprint}
import org.apache.spark.sql.functions._

/** Contracts for the sketch/LSH operators that have no SQL oracle:
  * recall against the exact operators, plus algebraic invariants. */
class LlmOpsSpec extends SparkSpec {

  lazy val docs = Catalog.load(spark, sf0001, "documents")
  lazy val embs = Catalog.load(spark, sf0001, "embeddings")

  // --- exact dedup -----------------------------------------------------
  test("exactKeepFirst == groupBy+join-back dedup, full rows preserved") {
    val key = md5(array_join(sort_array(array_distinct(split(col("text"), " "))), " "))
    val keyed = docs.withColumn("key", key)
    val keep = keyed.groupBy("key").agg(min("doc_id").as("doc_id"))
    val want = keyed.join(keep, Seq("key", "doc_id")).drop("key")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val got = Dedup.exactKeepFirst(docs, key, "doc_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    assert(Dedup.exactKeepFirst(docs, key, "doc_id").columns.toSeq
      == docs.columns.toSeq, "column set/order must be preserved")
  }

  // --- MinHash ---------------------------------------------------------
  test("minhash: exact dups get jac_bp 10000 and are always candidates") {
    // plant: duplicate the first 5 docs with shifted ids
    val planted = docs.limit(5)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .unionByName(docs)
    val dups = Dedup.minHashNearDups(planted, minJacBp = 9999L)
      .where(col("b") >= 1000000L && col("a") === col("b") - 1000000L)
    assert(dups.count() == 5, "all 5 planted exact dups must be found")
  }

  test("minhash: recall 1.0 on high-similarity pairs vs exact x48") {
    // exact top pairs with J >= 0.8 from the oracle-checked query
    val exact = SparkEntry.queries("x48_jaccard_topk")(spark, sf0001)
      .where(col("jac_bp") >= 8000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.minHashNearDups(docs, minJacBp = 8000L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus must contain high-sim pairs")
    assert(exact.subsetOf(got),
      s"missed ${exact -- got} of ${exact.size} high-sim pairs")
  }

  // --- portable (oracle-reproducible) family ---------------------------
  // The md5-affine family is what the x52/x53/x55 CORRECTNESS entries run
  // (full DuckDB hash checks); these specs pin that the portable and
  // production families agree where their contracts overlap, so the
  // hash-gated portable path vouches for the xxhash64 scale path.
  test("portable minhash: planted exact dups found at jac_bp 10000") {
    val planted = docs.limit(5)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .unionByName(docs)
    val dups = Dedup.minHashNearDupsPortable(planted, minJacBp = 9999L)
      .where(col("b") >= 1000000L && col("a") === col("b") - 1000000L)
    assert(dups.count() == 5, "all 5 planted exact dups must be found")
  }

  test("portable minhash: verified pairs agree with production family") {
    // Both families verify candidates with the SAME exact Jaccard, so on
    // pairs BOTH surface the jac_bp values must be identical; and at the
    // planted-dup tier (J >= 0.99) neither family may miss.
    val prod = Dedup.minHashNearDups(docs, numHashes = 64, rowsPerBand = 4,
        minJacBp = 5000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val port = Dedup.minHashNearDupsPortable(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val shared = prod.keySet intersect port.keySet
    assert(shared.nonEmpty)
    assert(shared.forall(k => prod(k) == port(k)),
      "exact-Jaccard verification must not depend on the candidate family")
    val high = (prod ++ port).collect { case (k, v) if v >= 9900 => k }
    assert(high.forall(k => prod.contains(k) && port.contains(k)),
      "near-exact dups must be candidates under BOTH hash families")
  }

  test("portable simhash: exact dups at hamming 0, found via banding") {
    val planted = docs.limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .unionByName(docs)
    val found = Dedup.simHashNearDupsPortable(planted, maxHamming = 0)
      .where(col("b") >= 1000000L).count()
    assert(found >= 3)
  }

  test("portable winnowing: full-substring containment found, tiny docs drop") {
    import spark.implicits._
    val half = docs.limit(3).select(col("doc_id") + 1000000L,
      substring(col("text"), 1, 200)).toDF("doc_id", "text")
    val tiny = Seq((2000001L, "short")).toDF("doc_id", "text") // < k+window-1 chars
    val all = docs.select("doc_id", "text").unionByName(half).unionByName(tiny)
    val hits = Fingerprint.containmentPortable(all, minContainBp = 9000L)
      .where(col("b") >= 1000000L)
    assert(hits.count() >= 3, "substring prefixes must contain >= 0.9")
    assert(Fingerprint.fingerprintsPortable(tiny).select(size(col("fps")))
      .head().getInt(0) == 0, "sub-window docs yield no fingerprints (x80 twin rule)")
  }

  test("minhash: candidate pairs are a small fraction of all pairs") {
    val n = docs.count()
    val cands = Dedup.candidatePairs(docs, numHashes = 64, rowsPerBand = 4).count()
    assert(cands < n * (n - 1) / 2 / 10,
      s"$cands candidates vs ${n * (n - 1) / 2} total pairs — LSH not pruning")
  }

  // --- SimHash ---------------------------------------------------------
  test("simhash: identical and token-permuted texts hash identically") {
    val base = docs.select(col("doc_id"), col("text"))
    val permuted = base.withColumn("text",
      array_join(reverse(split(col("text"), " ")), " "))
    val a = Dedup.simHashes(base).withColumnRenamed("simhash", "ha")
    val b = Dedup.simHashes(permuted).withColumnRenamed("simhash", "hb")
    val diff = a.join(b, "doc_id").where(col("ha") =!= col("hb")).count()
    assert(diff == 0, "simhash must be token-order invariant")
  }

  test("simhash: native expression == HOF reference, corpus + edge cases") {
    import spark.implicits._
    graft.functions.SimHash64.register(spark)
    // every corpus doc, plus edges: "" splits to [""] (single empty
    // token), one-token doc (all votes ±1, no ties beyond bit identity)
    val edges = Seq((9000001L, ""), (9000002L, "solo"))
      .toDF("doc_id", "text")
    val both = docs.select(col("doc_id"), col("text")).unionByName(edges)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        graft.functions.SimHash64(col("w")).as("native"),
        Dedup.simHashHof(col("w")).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0,
      "native simhash64 must be bit-identical to the HOF reference")
  }

  test("simhash near-dups: exact dups at hamming 0, found via banding") {
    val planted = docs.limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .unionByName(docs)
    val found = Dedup.simHashNearDups(planted, maxHamming = 0)
      .where(col("b") >= 1000000L).count()
    assert(found >= 3)
  }

  // --- ANN -------------------------------------------------------------
  lazy val queryVec: Seq[Double] = embs.where("vec_id = 0")
    .select("embedding").collect().head.getSeq[Float](0).map(_.toDouble).toSeq

  test("ann brute force matches oracle-checked q43 exactly") {
    val q43 = SparkEntry.queries("q43_cosine_topk")(spark, sf0001)
      .collect().map(_.getLong(0)).toSeq
    val bf = Ann.bruteForceTopK(embs.where("vec_id <> 0"), queryVec, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(bf == q43)
  }

  test("ann lsh: planted near-identical vector is always retrieved") {
    // plant a copy of the query vector with tiny deterministic noise
    import spark.implicits._
    val planted = Seq((999999L, queryVec.map(x => (x + 1e-4).toFloat).toArray))
      .toDF("vec_id", "embedding")
    val all = embs.select("vec_id", "embedding").where("vec_id <> 0")
      .unionByName(planted)
    val got = Ann.lshTopK(all, queryVec, k = 10).collect().map(_.getLong(0))
    assert(got.headOption.contains(999999L),
      s"planted near-dup not ranked first: ${got.toSeq}")
  }

  test("multiprobe lsh: probe sequence invariants (pure, no Spark)") {
    val mat = Ann.planes(8, 64, 42L)
    val probes = Ann.multiProbeBuckets(queryVec, mat, 64)
    assert(probes.size == 64, "must emit exactly maxProbes buckets")
    assert(probes.distinct.size == 64, "probes must be distinct")
    assert(probes.forall(b => b >= 0 && b < 256), "buckets within 2^numPlanes")
    // first probe is the query's own bucket (empty flip set has sum 0)
    val dots = mat.map(_.zip(queryVec).map { case (a, b) => a * b }.sum)
    val qSig = dots.foldLeft(0L)((acc, d) => acc * 2 + (if (d > 0) 1L else 0L))
    assert(probes.head == qSig)
    // probe 2 flips exactly the single lowest-|margin| bit
    val minBit = dots.map(math.abs).zipWithIndex.minBy(_._1)._2
    assert(probes(1) == (qSig ^ (1L << (8 - 1 - minBit))))
    // margin sums are non-decreasing along the sequence
    def flipSum(b: Long): Double = {
      val diff = b ^ qSig
      (0 until 8).filter(i => (diff & (1L << (8 - 1 - i))) != 0)
        .map(i => math.abs(dots(i))).sum
    }
    val sums = probes.map(flipSum)
    assert(sums.zip(sums.tail).forall { case (a, b) => a <= b + 1e-12 },
      "probes must come in increasing flipped-margin order")
  }

  test("multiprobe lsh: planted near-identical vector retrieved, 4 probes") {
    import spark.implicits._
    val planted = Seq((999999L, queryVec.map(x => (x + 1e-4).toFloat).toArray))
      .toDF("vec_id", "embedding")
    val all = embs.select("vec_id", "embedding").where("vec_id <> 0")
      .unionByName(planted)
    val got = Ann.lshTopKMultiProbe(all, queryVec, k = 10, maxProbes = 4)
      .collect().map(_.getLong(0))
    assert(got.headOption.contains(999999L),
      s"planted near-dup not ranked first: ${got.toSeq}")
  }

  test("multiprobe lsh: recall >= IVF at equal candidate budget (sf0.1)") {
    // Measured sweep (SCALE.md §9.3): at ~500 candidates IVF
    // nProbe=4/16 reaches 6/10; multiprobe planes=8/probes=64 reaches
    // 6/10 over 529 — equal recall at equal budget, and the probe list
    // is a prunable IN where x54's radius filter is a full scan. At 2×
    // budget (probes=128, ~976 cands) multiprobe reaches 8/10, beating
    // both IVF nProbe=8 (6/10) and radius-2 probing (5/10). All seeded
    // and deterministic.
    val sf01 = "/root/testdata/sf0.1"
    val embs01 = Catalog.load(spark, sf01, "embeddings")
    val q = embs01.where("vec_id = 0").select("embedding")
      .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val corpus = embs01.where("vec_id <> 0")
    val exact = Ann.bruteForceTopK(corpus, q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Ann.ivfTopK(corpus, q, 10, nLists = 16, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val mp64 = Ann.lshTopKMultiProbe(corpus, q, 10, numPlanes = 8,
      maxProbes = 64).collect().map(_.getLong(0)).toSet
    assert(exact.intersect(mp64).size >= exact.intersect(ivf).size,
      s"multiprobe@64 ${exact.intersect(mp64).size} < ivf@4 ${exact.intersect(ivf).size}")
    val mp128 = Ann.lshTopKMultiProbe(corpus, q, 10, numPlanes = 8,
      maxProbes = 128).collect().map(_.getLong(0)).toSet
    val r2 = Ann.lshTopK(corpus, q, 10, numPlanes = 8, probeRadius = 2)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(mp128).size > exact.intersect(r2).size,
      s"multiprobe@128 ${exact.intersect(mp128).size} must beat radius-2 ${exact.intersect(r2).size}")
  }

  test("ann lsh: probes a strict subset yet overlaps exact top-10") {
    val exact = Ann.bruteForceTopK(embs.where("vec_id <> 0"), queryVec, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ann.lshTopK(embs.where("vec_id <> 0"), queryVec, 10,
      numPlanes = 8, probeRadius = 3).collect().map(_.getLong(0)).toSet
    assert(approx.nonEmpty)
    // random 64-d embeddings are weakly clustered; require non-trivial recall
    assert((exact intersect approx).nonEmpty,
      s"zero overlap between exact $exact and approx $approx")
  }

  // --- Fingerprint -----------------------------------------------------
  test("winnow_fps native expression == HOF composition, bit-identical") {
    val native = Fingerprint.fingerprints(docs)
      .select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = Fingerprint.fingerprintsHof(docs)
      .select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == hof.keySet)
    // same hashes, same window minima, same first-occurrence dedup order
    native.foreach { case (id, fps) => assert(fps == hof(id), s"doc $id") }
    // degenerate inputs: shorter than one k-gram / one window
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "ab"), (3L, "abcdefgh"), (4L, "abcdefghij"))
      .toDF("doc_id", "text")
    val ne = Fingerprint.fingerprints(edge).select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val he = Fingerprint.fingerprintsHof(edge).select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(ne == he)
  }

  test("winnow_fps_md5 native expression == portable HOF, bit-identical") {
    def fps(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select("doc_id", "fps").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = fps(Fingerprint.fingerprintsPortable(docs))
    val hof = fps(Fingerprint.fingerprintsPortableHof(docs))
    assert(native.keySet == hof.keySet)
    // same md5-prefix hashes, same full-window minima, same
    // first-occurrence dedup order — and the full-windows-only boundary
    native.foreach { case (id, v) => assert(v == hof(id), s"doc $id") }
    import spark.implicits._
    // boundary ladder around k + window - 1 = 11 chars, plus multi-byte
    // text where char positions != byte positions (2-byte é, 3-byte 中,
    // 4-byte/astral 😀) — the byte-walk must track code points exactly
    // as substr() does
    val edge = Seq(
      (1L, ""), (2L, "ab"), (3L, "abcdefgh"), (4L, "abcdefghij"),
      (5L, "abcdefghijk"), (6L, "abcdefghijkl"),
      (7L, "cafécafécafé"), (8L, "中文的文字符号中文的文字"),
      (9L, "a😀b😀c😀d😀e😀f😀g😀"), (10L, "añéíóúü日本語テキスト")
    ).toDF("doc_id", "text")
    val ne = fps(Fingerprint.fingerprintsPortable(edge))
    val he = fps(Fingerprint.fingerprintsPortableHof(edge))
    assert(ne == he)
    // sub-window docs yield the empty set on both paths (x80 twin rule)
    assert(ne(4L).isEmpty && ne(5L).nonEmpty)
  }

  test("affine_minsig native == HOF signature, bit-identical, both families") {
    import graft.llm.{Dedup, HashFamily}
    val perms = Dedup.portablePerms(64)
    val sets = Dedup.shingleSets(docs)
    for (family <- Seq(HashFamily.Production, HashFamily.Portable)) {
      val native = sets.select(col("doc_id"),
        Dedup.affineSignature(col("shs"), perms, family).as("sig")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val hof = sets.select(col("doc_id"),
        Dedup.affineSignatureHof(col("shs"), perms, family).as("sig")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native.keySet == hof.keySet)
      native.foreach { case (id, v) => assert(v == hof(id), s"$family doc $id") }
    }
    // null ladder parity: NULL array -> 64 null slots (the HOF shape),
    // empty array -> 64 null slots, null ELEMENTS skipped as array_min does
    graft.functions.AffineMinSig.register(spark)
    val edge = spark.sql(
      """SELECT affine_minsig(cast(null AS ARRAY<BIGINT>), 8) AS a,
        |       affine_minsig(cast(array() AS ARRAY<BIGINT>), 8) AS b,
        |       affine_minsig(array(cast(null AS BIGINT), cast(5 AS BIGINT)), 8) AS c,
        |       affine_minsig(array(cast(5 AS BIGINT)), 8) AS d""".stripMargin).head()
    assert(edge.getSeq[Any](0).forall(_ == null))
    assert(edge.getSeq[Any](1).forall(_ == null))
    assert(edge.getSeq[Long](2) == edge.getSeq[Long](3),
      "null elements must be skipped, not poison the min")
  }

  test("containment dense-bitset kernel == inverted-index kernel, exactly") {
    import graft.llm.Fingerprint
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the real corpus, at a threshold low enough to emit many pairs
    for (bp <- Seq(1L, 5000L, 9000L)) {
      val dense = rows(Fingerprint.containmentPortableVia(
        docs, bp, Int.MaxValue, dense = true))
      val inverted = rows(Fingerprint.containmentPortableVia(
        docs, bp, Int.MaxValue, dense = false))
      assert(dense == inverted, s"minContainBp=$bp")
      assert(dense.nonEmpty || bp > 5000L)
    }
    // the df-cap interplay: capped counts, FULL-set denominators — both
    // kernels must degrade identically (the §17 replica corpus shape)
    import spark.implicits._
    val base = docs.orderBy("doc_id").limit(10).select("doc_id", "text")
    val replicated = (0 until 5).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    for (cap <- Seq(3, 4, Int.MaxValue)) {
      val dense = rows(Fingerprint.containmentPortableVia(
        replicated, 1L, cap, dense = true))
      val inverted = rows(Fingerprint.containmentPortableVia(
        replicated, 1L, cap, dense = false))
      assert(dense == inverted, s"maxDf=$cap")
    }
    // degenerate inputs: empty corpus and a single doc take the dense
    // path's early exits without error
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Fingerprint.containmentPortableVia(
      empty, 1L, Int.MaxValue, dense = true).count() == 0)
    val one = Seq((1L, "abcdefghijklmnop")).toDF("doc_id", "text")
    assert(Fingerprint.containmentPortableVia(
      one, 1L, Int.MaxValue, dense = true).count() == 0)
  }

  test("fingerprint: doc fully contained in a concatenation scores 10000") {
    import spark.implicits._
    val two = docs.orderBy("doc_id").limit(2).collect()
    val concatenated = two(0).getAs[String]("text") + " " + two(1).getAs[String]("text")
    val planted = Seq((888888L, concatenated)).toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").unionByName(planted)
    val hits = Fingerprint.containment(all, minContainBp = 9000L)
      .where(col("b") === 888888L && col("a") === two(0).getLong(0))
    assert(hits.count() == 1, "full substring containment must score >= 0.9")
  }

  test("fingerprint df-cap: bounded pairs on 10x-replica corpus, identity when deduped") {
    // The SCALE.md §17 blow-up in miniature: replicate 20 docs 10x with
    // distinct ids — every fingerprint's df jumps to >= 10 and the
    // inverted-index self-join pays Sum C(df,2). maxDf = 9 must excise
    // exactly that tier: same-origin replica groups alone contribute
    // C(10,2) * 20 = 900 full-containment pairs uncapped, and zero
    // survive the cap (no fp in this corpus has df <= 9).
    val base = docs.orderBy("doc_id").limit(20).select("doc_id", "text")
    val replicated = (0 until 10).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    val uncapped = Fingerprint.containment(replicated, minContainBp = 1L).count()
    val capped = Fingerprint.containment(replicated, minContainBp = 1L, maxDf = 9).count()
    assert(uncapped >= 900L, s"replica corpus must blow up uncapped (got $uncapped)")
    assert(capped == 0L, s"cap must bound the replica blow-up to zero pairs (got $capped)")
    val dropped = Fingerprint.droppedFingerprints(replicated, maxDf = 9)
    assert(dropped.count() > 0 && dropped.agg(min("df")).head().getLong(0) >= 10L,
      "dropped-fp report must list exactly the over-cap tier")
    // auditing a capped containmentPortable run must draw from the
    // PORTABLE (md5-affine) fingerprint universe, not the native xxhash64
    // one — the families are disjoint, so a native-family report would
    // explain drops that never happened on the portable path (ADVICE r7 #1)
    val droppedP = Fingerprint.droppedFingerprints(replicated, maxDf = 9, portable = true)
    assert(droppedP.count() > 0 && droppedP.agg(min("df")).head().getLong(0) >= 10L,
      "portable dropped-fp report must list the over-cap tier too")
    val portableUniverse = Fingerprint.fingerprintsPortable(replicated)
      .select(explode(col("fps")).as("fp")).distinct()
    assert(droppedP.join(portableUniverse, "fp").count() == droppedP.count(),
      "portable report must be drawn from the portable fingerprint universe")
    assert(dropped.join(portableUniverse, "fp").count() == 0,
      "the two hash families are disjoint universes")
    // On the deduped corpus the cap is a no-op by construction when set at
    // the observed max df — the guard path (extra agg + join) must then be
    // output-identical to the contract (cap-off) form.
    val maxObservedDf = Fingerprint.droppedFingerprints(base, maxDf = 0)
      .agg(max("df")).head().getLong(0).toInt
    val off = Fingerprint.containment(base, minContainBp = 1L)
      .collect().map(_.toSeq).toSeq
    val on = Fingerprint.containment(base, minContainBp = 1L, maxDf = maxObservedDf)
      .collect().map(_.toSeq).toSeq
    assert(off == on, "cap at observed max df must be output-identical on deduped input")
  }

  test("pq-ivf (ivfadc): recall@10 >= 0.9 vs exact, >10x smaller codes") {
    // sf0.1: 2000 64-dim vectors — the largest corpus in the testdata.
    // The embeddings are random, so the exact top-10 of a query scatter
    // across IVF lists (measured ceiling: nProbe=4 reaches only 6 of the
    // 10, even UNquantized — IVFPQ sweep, SCALE.md §9.4). The contract
    // therefore tests the two failure modes separately:
    //  (1) full probe (nProbe = nLists): quantization + refine must be
    //      recall-lossless — any miss here is PQ's fault, not IVF's;
    //  (2) pruned probe (nProbe = 4): a planted near-identical cluster —
    //      data satisfying IVF's locality assumption — must be retrieved
    //      through the same encode → LUT-score → re-rank path.
    val sf01 = "/root/testdata/sf0.1"
    val embs01 = Catalog.load(spark, sf01, "embeddings")
    val q = embs01.where("vec_id = 0").select("embedding")
      .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val corpus = embs01.where("vec_id <> 0")
    val exact = Ann.bruteForceTopK(corpus, q, 10)
      .collect().map(_.getLong(0)).toSet
    // one sample-trained index serves both probes — new rows are encoded
    // with an index that never saw them, exactly the deployment shape
    val idx = Ann.pqTrain(corpus, nLists = 16, dim = 64)
    val full = Ann.pqTopK(corpus, q, 10, nProbe = 16, idx = Some(idx))
      .collect().map(_.getLong(0)).toSet
    val fullRecall = exact.intersect(full).size / 10.0
    assert(fullRecall >= 0.9,
      s"full-probe recall@10 $fullRecall < 0.9 (got=$full exact=$exact)")
    import spark.implicits._
    val plantedIds = (0 until 10).map(i => 999000L + i)
    val planted = plantedIds.map { id =>
      (id, q.zipWithIndex.map { case (x, d) =>
        (x + (id - 999000L + 1) * 1e-4 * (if (d % 2 == 0) 1 else -1)).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val withPlanted = corpus.select("vec_id", "embedding").unionByName(planted)
    val got = Ann.pqTopK(withPlanted, q, 10, nProbe = 4, idx = Some(idx))
      .collect().map(_.getLong(0)).toSet
    val plantedRecall = plantedIds.toSet.intersect(got).size / 10.0
    assert(plantedRecall >= 0.9,
      s"planted-cluster recall@10 $plantedRecall < 0.9 (got=$got)")
    // memory: 64 float dims (256 B) vs m byte-codes + f32 norm + list id
    val rawBytes = 64 * 4
    val codeBytes = idx.m * 1 + 4 + 2
    assert(rawBytes.toDouble / codeBytes > 10.0,
      s"expected >10x compression, got ${rawBytes.toDouble / codeBytes}x")
  }

  test("pq-ivf full probe is structurally exact: LUT never consulted (VERDICT r7 #2)") {
    // x103's hash gate must be equivalence-by-construction, immune to
    // corpus regeneration. Two structural pins:
    //  (1) garbage codebooks (all-zero — every LUT score degenerates to
    //      dot(q, centroid)) must NOT change the full-probe result: if
    //      the LUT influenced candidate selection at full probe, the
    //      top-10 would collapse to centroid order and diverge;
    //  (2) the full-probe plan contains no sim_approx stage (the
    //      approximate-scoring map only exists on the pruned path).
    val sf001 = "/root/testdata/sf0.01"
    val embs = Catalog.load(spark, sf001, "embeddings")
    val q = embs.where("vec_id = 0").select("embedding")
      .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val corpus = embs.where("vec_id <> 0")
    val exact = Ann.bruteForceTopK(corpus, q, 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    val idx = Ann.pqTrain(corpus, nLists = 16, dim = 64)
    val garbage = idx.copy(codebooks = Array.fill(idx.m)(
      Array.fill(idx.ksub)(new Array[Double](idx.dsub))))
    for (ix <- Seq(idx, garbage)) {
      val full = Ann.pqTopK(corpus, q, 10, nProbe = 16, idx = Some(ix))
      assert(full.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
        .toSeq == exact.toSeq,
        "full probe must equal brute force regardless of codebook content")
    }
    val plan = Ann.pqTopK(corpus, q, 10, nProbe = 16, idx = Some(idx))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("sim_approx"),
      s"full-probe plan must not contain the LUT scoring stage:\n$plan")
    // the pruned path still uses it (the approximate tier is intact)
    val prunedPlan = Ann.pqTopK(corpus, q, 10, nProbe = 4, idx = Some(idx))
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("sim_approx"),
      "pruned probe must keep the LUT scoring stage")
  }

  test("x56 dual-mode distinct: sparse-exact regime equals exact q08, flagged exact=1") {
    // promoted in r13 (VERDICT r12 #4): at contract SFs distinct users
    // per type ≤ k = 262144, so the sketch never leaves its sparse
    // regime — counts EQUAL q08's exact distinct, flag is 1 everywhere.
    // The over-capacity HLL regime is spec'd in InvariantsSpec.
    val exact = SparkEntry.queries("q08_distinct_users")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sk = SparkEntry.queries("x56_approx_distinct")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sk.keySet == exact.keySet)
    sk.foreach { case (k, (cnt, flag)) =>
      assert(flag == 1L, s"$k: contract corpus must sit in the exact regime")
      assert(cnt == exact(k), s"$k: sparse-exact count $cnt != exact ${exact(k)}")
    }
  }

  test("rows-only extension queries all return rows at sf0.001") {
    Extensions.queries.keys.foreach { name =>
      val n = SparkEntry.queries(name)(spark, sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }
}
