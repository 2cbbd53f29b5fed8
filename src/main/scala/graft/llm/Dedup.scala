package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at scale: MinHash+LSH banding and SimHash.
  *
  * Design for 100 TB (SURVEY.md §2.9, M4):
  *  - Signatures are computed row-local with codegen'd higher-order
  *    functions (no UDF, no shuffle) — one narrow pass over the corpus.
  *  - Candidate generation shuffles only (bandKey → docId) pairs, never
  *    text: the explode fan-out is numHashes/rowsPerBand ints per doc.
  *  - Exact Jaccard verification touches only candidate pairs (the LSH
  *    contract), joining back to shingle sets by doc id.
  *  - All hashes are Spark's xxhash64 — deterministic across executors,
  *    no driver-side state to broadcast.
  */
object Dedup {

  /** Distinct word n-gram shingles as an array column. */
  def shingles(words: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(words, i, lit(n)))))

  /** Spread row-local heavy compute across the cluster regardless of input
    * split count — the corpus files are single-row-group parquet, which
    * pins an unshuffled scan to ONE task no matter the split size. Sized
    * by CLUSTER parallelism, not numShufflePartitions: the latter is
    * tuned for shuffle volume (4 in the bench protocol) and starved the
    * CPU-bound signature kernels to 4 of 32 cores (same fix as
    * Fingerprint; measured on x52/x53 in history/BENCH_r04_xops.json). */
  private[llm] def spread(df: DataFrame): DataFrame =
    df.repartition(math.max(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      df.sparkSession.sparkContext.defaultParallelism))

  /** docs(doc_id, text) → (doc_id, shs: array<string>, n: int). */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame =
    spread(docs)
      .select(col("doc_id"), shingles(split(col("text"), " "), n).as("shs"))
      .where(size(col("shs")) > 0)
      .withColumn("n", size(col("shs")))

  /** MinHash signature, single-hash + affine-permutation construction
    * (Broder's classic form): hash every shingle ONCE with xxhash64,
    * then element i = min over shingles of (a_i·hv + b_i) mod 2^31-1.
    *
    * The previous form — element i = min of xxhash64(s, i) — re-hashed
    * every shingle STRING per signature slot: 64 string hashes per
    * shingle, vs one here plus 64 integer affine transforms. Honest
    * measurement (SCALE.md §4, fresh JVM, 3 alternating reps at
    * sf0.1): kernel 1.1–1.7 s affine vs 1.5–2.0 s per-slot — ~1.2–1.6×,
    * NOT the 46× an earlier in-battery timing suggested (that was cache
    * starvation across the battery, SCALE.md §13). The
    * win is asymptotic, not local: string-hash work drops 64× per
    * shingle byte, and this corpus's ~short synthetic shingles make the
    * kernel scheduling-bound; at real KB-document scale the per-slot
    * form's cost grows with text volume while the affine form's stays
    * one pass (SCALE.md §4). The 31-bit truncation costs ~n²/2^32
    * birthday collisions across distinct shingles — noise relative to
    * the LSH candidate-probability curve. Hash array let-bound
    * ([[Cols.bind]]) so it is built once per row. */
  def minHashSignature(shs: Column, numHashes: Int): Column =
    affineSignature(shs, portablePerms(numHashes), HashFamily.Production)

  /** THE MinHash signature kernel, shared by both families (round 10,
    * VERDICT r9 #7): hash every shingle once under `family`, then
    * element i = min over shingles of (a_i·hv + b_i) mod 2³¹−1. Only
    * the content hash differs between the production and portable
    * twins — this is where that difference is confined.
    *
    * Round 12: the reduction itself is the fused native
    * [[graft.functions.AffineMinSig]] when a session is available and
    * `perms` is the canonical [[portablePerms]] table (every repo call
    * site) — Spark runs HOF lambda bodies interpreted per element, so
    * the composition below paid numHashes × |shingles| boxed closure
    * dispatches per row (~1.7 s per sf0.1 corpus pass, SCALE.md
    * §30). The HOF form remains the executable specification
    * ([[affineSignatureHof]], LlmOpsSpec holds the two bit-identical,
    * nulls included). */
  def affineSignature(shs: Column, perms: Seq[(Long, Long)],
                      family: HashFamily): Column =
    Cols.bind(transform(shs, s => family.hash31(s))) { hvs =>
      // reference equality suffices: portablePerms memoizes, so the
      // canonical table for a given width is one shared instance
      // (ADVICE r12 #2) — and the native is wrapped directly, no
      // session registry involved (ADVICE r12 #1)
      if (perms eq portablePerms(perms.length))
        graft.functions.AffineMinSig(hvs, perms.length)
      else minSigHof(hvs, perms)
    }

  /** The original HOF composition of [[affineSignature]] — kept as the
    * executable specification the native expression is equivalence-
    * tested against (LlmOpsSpec "affine_minsig native == HOF"). */
  private[graft] def affineSignatureHof(shs: Column, perms: Seq[(Long, Long)],
                                        family: HashFamily): Column =
    Cols.bind(transform(shs, s => family.hash31(s)))(minSigHof(_, perms))

  private def minSigHof(hvs: Column, perms: Seq[(Long, Long)]): Column =
    array(perms.map { case (a, b) =>
      array_min(transform(hvs, hv => (hv * a + b) % 2147483647L))
    }: _*)

  // ---------------------------------------------------------------------
  // Portable (oracle-reproducible) hash family.
  //
  // The production family above hashes with xxhash64 — fast, but no other
  // engine reproduces it, so operators built on it can only ever get
  // rows-only correctness checks. This family trades per-hash speed for
  // bit-level portability: 32-bit md5-prefix content hashes pushed
  // through affine permutations mod the Mersenne prime 2^31-1, every
  // constant shared verbatim with the generated DuckDB oracle SQL
  // (Extensions.oracleSql). Running the SAME Scala operator code path
  // (shingling, signature, banding, candidate join, exact verification)
  // under the portable family puts the whole pipeline under the driver's
  // full rows+schema+hash gate — the VERDICT r4 twin-equality promotion.
  // ---------------------------------------------------------------------

  /** 32-bit content hash both engines evaluate identically:
    * first 8 hex chars of md5, as a BIGINT — delegates to the shared
    * [[HashFamily.Portable]] definition (one source of truth). */
  def md5Hash32(s: Column): Column = HashFamily.Portable.hash31(s)

  /** Affine permutation constants — consecutive primes from two fixed
    * seeds, generated (not listed) so the Scala operators and the
    * DuckDB oracle SQL interpolate the IDENTICAL values from one source
    * of truth. Memoized per width (ADVICE r12 #2: the trial-division
    * generation from 1.3M ran on every affineSignature call and again
    * per AffineMinSig expression instance); the cache also makes the
    * returned Seq a single shared instance per width, so the native-
    * kernel gate above is a reference comparison. */
  def portablePerms(n: Int): Seq[(Long, Long)] =
    permCache.computeIfAbsent(n, genPerms)

  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[(Long, Long)]]()

  private val genPerms: java.util.function.Function[Int, Seq[(Long, Long)]] =
    (n: Int) => {
      def isPrime(x: Long): Boolean =
        x > 1 && !(2L to math.sqrt(x.toDouble).toLong).exists(x % _ == 0)
      def primesFrom(start: Long): Iterator[Long] =
        Iterator.iterate(start)(_ + 1).filter(isPrime)
      primesFrom(1299721L).zip(primesFrom(104729L)).take(n).toSeq
    }

  /** MinHash signature under the portable family: element i =
    * min over shingles of (a_i * md5Hash32(s) + b_i) mod (2^31-1).
    * Same [[affineSignature]] kernel as production — one md5 pass per
    * shingle, reused by all |perms| permutations; a_i·hv < 2^21·2^32 =
    * 2^53, exact in BIGINT on both engines. */
  def affineMinHashSignature(shs: Column, perms: Seq[(Long, Long)]): Column =
    affineSignature(shs, perms, HashFamily.Portable)

  /** LSH banding: numHashes/rowsPerBand band keys per doc; docs sharing a
    * band key are candidates. P(candidate) = 1-(1-J^r)^b — pick r small
    * (2) for low-similarity corpora, large (8) for high thresholds. */
  def candidatePairs(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                     shingleN: Int = 3): DataFrame =
    candidatePairsFromSets(shingleSets(docs, shingleN), numHashes, rowsPerBand)

  /** Banding over precomputed shingle sets — lets [[minHashNearDups]]
    * share (and persist) ONE shingle extraction between candidate
    * generation and Jaccard verification instead of re-running the
    * row-local kernel per plan branch (the x55 lesson applied here). */
  private def candidatePairsFromSets(sets: DataFrame, numHashes: Int,
                                     rowsPerBand: Int): DataFrame =
    candidatePairsFromSig(sets, minHashSignature(col("shs"), numHashes),
      numHashes / rowsPerBand, rowsPerBand)

  /** Banding over an arbitrary signature expression — the hash family
    * (production xxhash64 vs portable md5-affine) is the caller's
    * choice; the candidate-generation machinery is shared.
    * private[graft]: the 100× rehearsal times this stage in isolation. */
  private[graft] def candidatePairsFromSig(sets: DataFrame, sigCol: Column,
                                           numBands: Int, rowsPerBand: Int): DataFrame = {
    val sig = sets.withColumn("sig", sigCol)
    // let-bind sig: the banding lambda must slice a computed signature,
    // not recompute it per band
    val bands = sig.select(
      col("doc_id"),
      explode(Cols.bind(col("sig")) { g =>
        transform(sequence(lit(0), lit(numBands - 1)),
          b => struct(b.as("band"),
            xxhash64(b, slice(g, b * rowsPerBand + 1, lit(rowsPerBand)))
              .as("key")))
      }).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    // pairs sharing any band bucket; distinct before the expensive verify.
    // The dedup runs AFTER an explicit (a, b) exchange, not map-side: a
    // pair repeats only across DIFFERENT bands, and the join stage is
    // partitioned by (band, key), so those repeats land in different
    // partitions — a partial (map-side) distinct dedups ~nothing while
    // its hash map competes with the join buffers and the shuffle
    // writer inside one task allowance. Measured at the 100×-replica
    // corpus (SCALE.md §34): the partial-agg shape OOMed the pinned
    // 3 GiB heap with a 32-byte refusal in ShuffleExternalSorter at
    // every cores/heap ratio tried; this shape completes. Cost: the raw
    // pair stream (≤ numBands× the distinct pairs, 16 B rows) rides the
    // exchange — sequential shuffle IO traded for bounded task memory.
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .repartition(col("a"), col("b"))
      .distinct()
  }

  /** Full near-dup pipeline: LSH candidates verified with exact Jaccard
    * (integer basis points), keeping pairs with jac_bp >= minJacBp. */
  def minHashNearDups(docs: DataFrame, numHashes: Int = 64,
                      rowsPerBand: Int = 2, minJacBp: Long = 3000L,
                      shingleN: Int = 3): DataFrame =
    nearDupsWithSig(docs, shingleN, minJacBp, rowsPerBand, numHashes,
      shs => minHashSignature(shs, numHashes))

  /** [[minHashNearDups]] under the portable md5-affine family — the SAME
    * shingling/banding/verification code path, hash-checkable against
    * the generated DuckDB oracle (Extensions.oracleSql "x52"). 64 perms
    * in 16 bands of 4 at jac >= 0.5 mirrors the production defaults. */
  def minHashNearDupsPortable(docs: DataFrame,
                              perms: Seq[(Long, Long)] = portablePerms(64),
                              rowsPerBand: Int = 4, minJacBp: Long = 5000L,
                              shingleN: Int = 3): DataFrame =
    nearDupsWithSig(docs, shingleN, minJacBp, rowsPerBand, perms.length,
      shs => affineMinHashSignature(shs, perms))

  private def nearDupsWithSig(docs: DataFrame, shingleN: Int,
                              minJacBp: Long, rowsPerBand: Int,
                              numHashes: Int,
                              sigOf: Column => Column): DataFrame = {
    val sets = shingleSets(docs, shingleN)
      .select(col("doc_id"), col("shs"), col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = candidatePairsFromSig(sets, sigOf(col("shs")),
        numHashes / rowsPerBand, rowsPerBand)
      cands
        .join(sets.select(col("doc_id").as("a"), col("shs").as("sa"), col("n").as("na")), "a")
        .join(sets.select(col("doc_id").as("b"), col("shs").as("sb"), col("n").as("nb")), "b")
        .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("jac_bp",
          floor(col("c") * lit(10000.0) / (col("na") + col("nb") - col("c"))).cast("long"))
        .where(col("jac_bp") >= minJacBp)
        .select(col("a"), col("b"), col("jac_bp"))
        .orderBy(desc("jac_bp"), col("a"), col("b"))
        // materialize off the cached shingle sets, then release them
        // (Graph.triangles discipline; ADVICE r5 #4)
        .localCheckpoint(true)
    } finally sets.unpersist()
  }

  /** Exact dedup keeping the lowest-`id` row per `key` — the hierarchical
    * per-partition-then-global dedup of SCALE.md §4 expressed Spark-first:
    * `min_by(struct(row), id)` runs as a PARTIAL aggregate inside each map
    * task (local dedup, no shuffle) and the exchange then carries at most
    * one candidate row per distinct key per task — vs the groupBy +
    * join-back shape, which shuffles the full corpus twice (both join
    * sides) to produce the same rows. Output column set/order preserved. */
  def exactKeepFirst(df: DataFrame, key: Column, id: String): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.groupBy(key.as("__key"))
      .agg(min_by(struct(cols.map(col): _*), col(id)).as("__row"))
      .select(cols.map(c => col(s"__row.$c")): _*)
  }

  /** Near-dup GROUP dedup: resolve a pair list (a, b) into connected
    * components ([[graft.operators.ConnectedComponents]]) and keep one
    * canonical doc (the min id) per duplicate group. Strictly stronger
    * than dropping the larger id of each pair: with pairs (1,3),(2,3)
    * pairwise dropping keeps BOTH 1 and 2 — near-dups of each other
    * through 3 — while the transitive closure keeps only 1. Cost: the
    * component loop runs on the pair graph (vertices = docs with ≥1
    * near-dup, typically a tiny fraction of the corpus), then one
    * broadcast-sized anti join back to the full table. */
  def keepClusterCanonical(df: DataFrame, pairs: DataFrame,
                           id: String): DataFrame = {
    val losers = graft.operators.ConnectedComponents
      .run(pairs.select(col("a"), col("b")))
      .where(col("label") =!= col("id"))
      .select(col("id").as(id))
    df.join(losers, Seq(id), "left_anti")
  }

  /** 64-bit SimHash over a document's tokens, entirely row-local:
    * bit b = sign of Σ_tokens (bit b of xxhash64(token) ? +1 : -1).
    * HOF reference form — kept as the executable spec for the native
    * [[graft.functions.SimHash64]] expression (LlmOpsSpec asserts
    * equality on the corpus); 64 interpreted aggregate() passes per row
    * made the HOF the x53 bottleneck (x53 end-to-end 2.45 s → 0.40 s
    * at sf0.1 after the swap), so the operator path ([[simHashes]])
    * uses the native one. */
  /** Σ over the token-hash array of ±1 votes by bit `b` — the SimHash
    * vote kernel, ONE implementation for both families (round 10,
    * VERDICT r9 #7); only the hash feeding it and the packing differ
    * between the 64-bit production and 32-bit portable signatures. */
  private def bitVote(hs: Column, b: Int): Column =
    aggregate(hs, lit(0L), (acc, h) =>
      acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))

  def simHashHof(words: Column): Column = Cols.bind(words) { w =>
    // hash each token once, then take 64 bit-votes over the hash array
    Cols.bind(transform(w, t => HashFamily.Production.tokenHash(t))) { hs =>
      // unrolled over the 64 bits (shiftright needs a literal bit index)
      val bitVotes: Seq[Column] = (0 until 64).map(bitVote(hs, _))
      // pack with shift/or (not *2+bit): ANSI mode rejects the signed-long
      // overflow a full 64-bit signature hits on the top bit
      bitVotes.foldLeft(lit(0L))((acc, v) =>
        shiftleft(acc, 1).bitwiseOR(when(v > 0, 1L).otherwise(0L)))
    }
  }

  /** docs(doc_id, text) → (doc_id, simhash: long), via the native
    * codegen'd expression (identical bits to [[simHashHof]]). */
  def simHashes(docs: DataFrame): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    spread(docs)
      .select(col("doc_id"),
        graft.functions.SimHash64(split(col("text"), " ")).as("simhash"))
  }

  /** Pairs within a Hamming radius. Scale path: band the 64-bit signature
    * into (radius+1) chunks — pigeonhole guarantees pairs within the
    * radius share at least one exact chunk — join per chunk, then verify
    * with bit_count(xor). The full cross-join is never materialized. */
  def simHashNearDups(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    hammingPairs(simHashes(docs), 64, maxHamming)
      .orderBy(col("hd"), col("a"), col("b"))

  /** Pigeonhole-banded Hamming-radius pairs over any (doc_id, simhash)
    * signature table — shared by the 64-bit production path, the
    * 32-bit portable path, and the perceptual-hash near-dup
    * ([[graft.multimodal.Multimodal.perceptualNearDups]], r13). */
  private[graft] def hammingPairs(sigs: DataFrame, sigBits: Int,
                                  maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < sigBits,
      s"maxHamming must be in [0, ${sigBits - 1}] (got $maxHamming)")
    val chunks = maxHamming + 1
    val width = sigBits / chunks
    // width = 64 (maxHamming = 0 on the 64-bit path: exact-dup banding,
    // one full-width chunk) needs the all-ones mask spelled out —
    // 1L << 64 wraps to 1 (Scala shifts mod 64), so (1L << 64) - 1
    // would mask every signature to bucket 0 and band ALL docs together
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until chunks).map(c => struct(
        lit(c).as("chunk"),
        shiftright(col("simhash"), c * width)
          .bitwiseAND(mask).as("key"))): _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.key"))
    banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hd"))
      .distinct()
      .where(col("hd") <= maxHamming)
  }

  /** 32-bit SimHash under the portable family: bit j set iff
    * Σ_occurrences (bit j of md5Hash32(token) ? +1 : -1) > 0 — the
    * per-occurrence vote is exactly the term-frequency weighting the
    * x79 SQL twin states as sum(n·(2·bit−1)). All-integer weights, so
    * the sign of every bit is exact on both engines. */
  def simHash32Md5(words: Column): Column = Cols.bind(words) { w =>
    Cols.bind(transform(w, t => HashFamily.Portable.tokenHash(t))) { hs =>
      (0 until HashFamily.Portable.simBits).map { j =>
        when(bitVote(hs, j) > 0, shiftleft(lit(1L), j)).otherwise(0L)
      }.reduce(_ + _) // disjoint bits: plain sum == bitwise OR, no overflow
    }
  }

  /** [[simHashNearDups]] under the portable family: 32-bit md5-based
    * signatures, Hamming <= 3 via 4 disjoint 8-bit pigeonhole chunks —
    * the same banding code path as production, hash-checked against the
    * x79 SQL twin's DuckDB form (Extensions.oracleSql "x53"). */
  def simHashNearDupsPortable(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = spread(docs).select(col("doc_id"),
      simHash32Md5(split(col("text"), " ")).as("simhash"))
    hammingPairs(sigs, 32, maxHamming)
      .select(col("a"), col("b"), col("hd").cast("int").as("ham"))
      .orderBy(col("a"), col("b"))
  }
}
