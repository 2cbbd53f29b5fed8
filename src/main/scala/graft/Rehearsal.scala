package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 100× rehearsal (VERDICT r7 #7) — the closest a local[32] sandbox gets
  * to the 100 TB north star: build a 100× corpus for the two cheapest
  * tables (documents → 500 k docs, events → 10 M rows), then run the
  * two most state-heavy paths end-to-end against it with the DRIVER
  * HEAP PINNED LOW:
  *
  *  - the x177 pipeline census (quality → exact dedup → MinHash
  *    near-dup clusters → decontaminate → split), whose 100×-replica
  *    duplication profile is exactly the worst case §17 measured —
  *    survivable only because exact dedup runs before the pair join;
  *  - the streaming CDC apply path (bucket-pruned copy-on-write merges
  *    over an 8-batch replay of 10 M change rows) plus vacuum.
  *
  * Run with a pinned heap to make the bounded-driver claim falsifiable:
  * {{{
  * sbt package && /opt/spark/bin/spark-submit --class graft.Rehearsal \
  *   --master "local[32]" --driver-memory 3g \
  *   target/scala-2.13/hadooploganalysisspark_2.13-0.1.0.jar
  * }}}
  * In local mode that 3 GiB heap holds the driver AND all 32 executor
  * threads' execution memory: if any declared path collected
  * corpus-sized state (10 M rows ≈ several GiB on-heap), the run would
  * OOM instead of spilling. Completion + the post-GC heap report per
  * phase IS the evidence (SCALE.md §20 records the numbers).
  */
object Rehearsal {
  private val out = "/tmp/graft_sf100"
  private val sf = "/root/testdata/sf0.1"

  private def heapMB(): (Long, Long) = {
    System.gc()
    val rt = Runtime.getRuntime
    ((rt.totalMemory - rt.freeMemory) / (1 << 20), rt.maxMemory / (1 << 20))
  }

  private def phase[T](name: String)(f: => T): T = {
    val (dt, r) = Harness.timed(f)
    val (used, max) = heapMB()
    println(f"[rehearsal] $name%-18s ${dt}%8.1f s   post-gc heap ${used}%5d / $max MB")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-rehearsal",
      "spark.sql.shuffle.partitions" -> "64")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)

    // `dim768` is self-contained (builds its own synthetic corpus under
    // $out/d768) — dispatch BEFORE the 100× corpus build so the phase
    // never pays for a replica corpus it does not read (VERDICT r17 #6).
    if (args.contains("dim768")) { dim768Phases(spark, out); return }

    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/documents.parquet"))
        || args.contains("rebuild")) phase("build 100x") {
      // documents/events replicated 100× with disjoint ids, multi-file
      // (64 parts — single-row-group inputs would serialize every scan);
      // the other eight tables are copied as-is so Catalog.ensure
      // resolves the full schema set against this directory.
      def rep100(df: DataFrame): DataFrame = df.repartition(16)
        .withColumn("rep", explode(sequence(lit(0), lit(99))))
      val stride = 100 * 1000 * 1000L
      rep100(Catalog.load(spark, sf, "documents"))
        .withColumn("doc_id", col("doc_id") + col("rep") * lit(stride))
        .drop("rep").repartition(64)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      rep100(Catalog.load(spark, sf, "events"))
        .withColumn("event_id", col("event_id") * 100 + col("rep"))
        .withColumn("user_id", col("user_id") + col("rep") * lit(10000L))
        .drop("rep").repartition(64)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "embeddings").foreach { t =>
        Catalog.load(spark, sf, t)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }
    // fresh catalog against the 100× directory
    println(s"[rehearsal] corpus: documents=" +
      spark.read.parquet(s"$out/documents.parquet").count() +
      s" events=" + spark.read.parquet(s"$out/events.parquet").count())

    // ---- x177 pipeline census over 500k docs (100 replicas each) ----
    // `onlycdc`: re-measure the CDC tail in isolation (phase timings
    // here swing with container I/O; an isolated re-run separates a
    // code regression from environment before anyone chases one)
    if (args.contains("onlycdc")) { cdcPhases(spark, out); return }

    // `minhash`: the x52/x74/x118 family at 100× with PER-STAGE timings
    // (VERDICT r12 #6) — where does the AffineMinSig kernel win land
    // end-to-end, and does the banding-join shuffle become the
    // bottleneck? The 100×-replica corpus is the worst duplication
    // profile the banding join can face: every original's 100 replicas
    // share ALL 16 bands, so the candidate set is ≥ 4950 pairs per
    // original BEFORE any true near-dup cross pair — the shape x177
    // survives only by exact-dedup first. Stages are persisted and
    // counted separately so each timing covers one stage's work.
    if (args.contains("minhash")) {
      import graft.llm.{Dedup, HashFamily}
      // Pinned-heap posture: the shared intermediates here are
      // corpus-sized (500 k shingle-set rows; tens of millions of
      // candidate pairs), so caching them ON-HEAP is the bug under a
      // 3 GiB ceiling — unified memory lets storage pin half the
      // region, and the first 100×-replica banding join then OOMed
      // exactly there (measured, r13). DISK_ONLY keeps the reuse
      // without competing with execution memory; 512 shuffle
      // partitions bound the per-task slice of the ~10⁸-row candidate
      // shuffle to a few MB (~1.6 GB of 16-byte pair keys / 512 ≈
      // 3 MB/task — ADVICE r13 #2: this comment previously said 128
      // while the config below said 512).
      spark.conf.set("spark.sql.shuffle.partitions", "512")
      val docs = spark.read.parquet(s"$out/documents.parquet")
      val sets = Dedup.shingleSets(docs, 3)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nd = phase("shingles") { sets.count() }
      val perms = Dedup.portablePerms(64)
      // signature kernel, fused native vs retained HOF spec — the same
      // rows, same persisted shingles, reduced to one max so timing is
      // all kernel, no collect
      def sigPass(c: org.apache.spark.sql.Column): Long = sets
        .select(xxhash64(c).as("h"))
        .agg(max("h")).head().getLong(0)
      phase("sig native") { sigPass(
        Dedup.affineMinHashSignature(col("shs"), perms)) }
      phase("sig hof") { sigPass(
        Dedup.affineSignatureHof(col("shs"), perms, HashFamily.Portable)) }
      val cands = Dedup.candidatePairsFromSig(sets,
          Dedup.affineMinHashSignature(col("shs"), perms),
          numBands = 16, rowsPerBand = 4)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nc = phase("banding join") { cands.count() }
      val np = phase("verify join") {
        cands
          .join(sets.select(col("doc_id").as("a"), col("shs").as("sa"),
            col("n").as("na")), "a")
          .join(sets.select(col("doc_id").as("b"), col("shs").as("sb"),
            col("n").as("nb")), "b")
          .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("jac_bp", floor(col("c") * lit(10000.0) /
            (col("na") + col("nb") - col("c"))).cast("long"))
          .where(col("jac_bp") >= 5000L).count()
      }
      cands.unpersist(); sets.unpersist()
      println(s"[rehearsal] minhash 100x: docs=$nd candidates=$nc pairs=$np")
      spark.stop(); return
    }

    // `kmeans`: the r15 training tier at the 100×-rehearsal bar
    // (VERDICT r15 #1) — the k-means loop, the x342 PQ codebook pass,
    // and the streaming mini-batch twin over ≥1 M vectors with the
    // driver heap pinned (spark-submit --driver-memory 3g,
    // SPARK_GRAFT_MASTER=local-cluster[2,16,4096] +
    // spark.executor.memory=4g for the multi-JVM posture).
    //
    // Corpus construction carries its own correctness oracle: the 8
    // seed vectors (vec_id < k) ride ONCE, and only the 1 992 non-seed
    // base vectors replicate (ids shifted by rep × 10⁶), so the 50-rep
    // corpus (99.6 k points) and the 500-rep corpus (996 k points +
    // 8 seeds ≈ 1 M rows) are EXACT 10× multiset multiples of each
    // other. Integer means are invariant under uniform replication
    // (floorDiv(10·s, 10·n) = floorDiv(s, n)), so the two runs must
    // produce BIT-EQUAL centroid trajectories while census n/inertia/
    // moved scale exactly 10× — asserted, not printed. The per-round
    // wall ratio between the two scales is the measured data term the
    // 10× soak could not see (SCALE.md §41.1: the scheduling floor
    // hides it at 50 k).
    if (args.contains("kmeans")) { kmeansPhases(spark, out); return }

    // `phash`: the x329/x331 perceptual family at 100× (VERDICT r13 #8)
    // — embeddings replicated 100× with disjoint vec_ids but IDENTICAL
    // payloads, the worst duplication profile the perceptual banding
    // join can face (every replica set shares all 8 4-bit bands, the
    // same ≥4950-pairs-per-original blowup §34 measured for MinHash).
    // Ordering is the defense being rehearsed: exact dedup on the
    // quantized grid collapses the 100× BEFORE any pair join forms —
    // so the banding join runs over ~2 k survivors, not 200 k rows.
    // Per-stage honest timings (fresh plans, no memoization anywhere in
    // this main), pinned 3 GiB heap via spark-submit --driver-memory 3g.
    if (args.contains("phash")) {
      import graft.llm.Dedup
      val emb100 = s"$out/embeddings100.parquet"
      if (!fs.exists(new org.apache.hadoop.fs.Path(emb100))
          || args.contains("rebuild")) phase("build emb 100x") {
        Catalog.load(spark, sf, "embeddings").repartition(16)
          .withColumn("rep", explode(sequence(lit(0), lit(99))))
          .withColumn("vec_id", col("vec_id") + col("rep") * lit(1000000L))
          .drop("rep").repartition(32)
          .write.mode("overwrite").parquet(emb100)
      }
      val vecs = spark.read.parquet(emb100)
      println(s"[rehearsal] phash corpus: vectors=" + vecs.count())
      val q = vecs.select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          e => round(e.cast("double") * 10000).cast("long")).as("g"))
      val exact = Dedup.exactKeepFirst(q, col("g"), "vec_id")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val ne = phase("exact dedup") { exact.count() }
      val pairs = graft.multimodal.Multimodal
        .perceptualNearDups(exact, "vec_id", "embedding", maxHamming = 7)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val np = phase("phash banding") { pairs.count() }
      val (cc, groups) = phase("closure") {
        val labels = graft.operators.ConnectedComponents
          .run(pairs.select("a", "b"))
        val g = labels.agg(countDistinct(col("label"))).head().getLong(0)
        (labels.count(), g)
      }
      // the incremental shape (x330) at 100×: last replica block plays
      // the fresh daily batch against the rest as the standing corpus
      val inc = phase("incremental") {
        graft.multimodal.Multimodal.perceptualMatchNew(
          vecs.where(col("vec_id") < 99000000L),
          vecs.where(col("vec_id") >= 99000000L),
          "vec_id", "embedding", maxHamming = 7).count()
      }
      pairs.unpersist(); exact.unpersist()
      println(s"[rehearsal] phash 100x: exact_survivors=$ne pairs=$np " +
        s"labeled=$cc groups=$groups incremental_matches=$inc")
      spark.stop(); return
    }

    val census = phase("x177 census") {
      SparkEntry.queries("x177_pipeline_census")(spark, out)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    println(s"[rehearsal] x177 stages: " +
      census.map { case (s, n) => s"$s=$n" }.mkString(", "))

    // ---- round-9/10 natives at 100×: interval join + reliability
    // windows + session paths + local clustering over the 10 M-row
    // events corpus (≈991 k users).
    val nWin = phase("x305 interval") {
      SparkEntry.queries("x305_interval_native")(spark, out).collect().length
    }
    val mttr = phase("x296 mttr") {
      SparkEntry.queries("x296_mttr_mtbf")(spark, out).collect()(0)
    }
    println(s"[rehearsal] x305 windows=$nWin  x296 row=$mttr")
    val paths = phase("x304 paths") {
      SparkEntry.queries("x304_session_paths")(spark, out).collect().length
    }
    val clus = phase("x293 clustering") {
      SparkEntry.queries("x293_local_clustering")(spark, out).collect().length
    }
    println(s"[rehearsal] x304 rows=$paths  x293 rows=$clus")
    // x327's engine at 100× (round 11): HITS over the user→event-type
    // bipartite graph of the 10 M-row events corpus — ≈991 k hub nodes,
    // 5 authority nodes (crc32 ids), ~5 M weighted edges. The driver
    // holds only the broadcast 1-row max per half-step; the ENTRY
    // overflow guard (per-node Σw ≤ 2⁶³/10¹², summed wrap-free in
    // DOUBLE) is live the whole run — Σ_in w ≈ 2 M per type leaves
    // ~4.6× headroom, and a corpus that outgrew it would fail loudly
    // here instead of wrapping (ADVICE r10 #4). The union is
    // .distinct()'d: a crc32 type id landing on an existing user_id
    // (~0.1% odds over 991 k ids, deterministic per type-string set)
    // would otherwise duplicate a node row and quietly inflate the
    // final h⋈a join.
    val hitsN = phase("x327 hits 100x") {
      val ev = spark.read.parquet(s"$out/events.parquet")
        .select(col("user_id"), col("event_type"))
      val edges = ev.groupBy(col("user_id").as("src"),
          crc32(col("event_type")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val nodes = ev.select(col("user_id").as("node"))
        .union(ev.select(crc32(col("event_type")).as("node")))
        .distinct()
      graft.operators.Graph.hits(edges, nodes, iters = 2).count()
    }
    println(s"[rehearsal] x327 hits nodes=$hitsN")
    // Raw-text ingestion at 100× (round 11): the reference category's
    // NATIVE input shape — 10 M log lines (~700 MB text) rendered once,
    // then the x328 read path (spark.read.text → regex parse → typed
    // agg) end-to-end under the pinned heap. Parse must be lossless:
    // per-level row counts summing to 10 M is asserted, not printed.
    val logAgg = phase("x328 logparse 100x") {
      val fixture = graft.sources.LogLines.ensureEventsFixture(spark, out)
      graft.sources.LogLines.read(spark, fixture)
        .groupBy("level").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    }
    assert(logAgg.values.sum == 10000000L && !logAgg.contains(null),
      s"x328 at 100x: parse lost lines or produced null levels: $logAgg")
    println(s"[rehearsal] x328 levels=$logAgg")
    // x301's CMS at 100× exercises the round-10 DUAL-MODE path: the
    // user space (≈991 k ids) exceeds the identity-injective width
    // 262144, so — where the r9 assert_true refused to run — the entry
    // now completes with every probe row flagged exact=0 and the ε·N
    // overcount bound in force. Completion + all-flagged is the
    // evidence; a single exact=1 row here would be a regression.
    val cms = phase("x301 cms approx") {
      val rows = SparkEntry.queries("x301_cms_counts")(spark, out).collect()
      (rows.length, rows.count(_.getAs[Long]("exact") == 0L))
    }
    assert(cms._1 == cms._2,
      s"x301 at 100x: expected every probe flagged approx, got ${cms._2}/${cms._1}")
    println(s"[rehearsal] x301 probes=${cms._1} flagged_approx=${cms._2}")
    // x266's regime is about DISTINCT count, not key range: the 100×
    // replication shifts user ids (max ≈ 991 k, which is what trips
    // x301's identity-range flag) but only multiplies the distinct
    // count to ≈150 k — still inside k = 262144, so the entry must
    // stay all-exact here. The flag must be right in BOTH directions.
    val mg = phase("x266 mg exact") {
      val rows = SparkEntry.queries("x266_heavy_hitters")(spark, out).collect()
      (rows.length, rows.count(_.getAs[Long]("exact") == 1L))
    }
    assert(mg._1 == mg._2,
      s"x266 at 100x: 150k distinct users <= k, expected all-exact, got ${mg._2}/${mg._1}")
    println(s"[rehearsal] x266 rows=${mg._1} flagged_exact=${mg._2}")
    // The MG APPROX path at 100×: the same builder over event_id —
    // ≈10 M distinct keys ≫ k = 262144, so the decrement/merge-cut
    // path runs for real on every partial and merge, bounded state
    // throughout, and every output row must be flagged approx.
    val mgA = phase("mg approx path") {
      val rows = graft.operators.Sketches.heavyHittersTop(
        spark.read.parquet(s"$out/events.parquet").select("event_id"),
        "event_id", 262144, 10).collect()
      (rows.length, rows.count(_.getAs[Long]("exact") == 0L))
    }
    assert(mgA._1 == mgA._2,
      s"MG over event_id at 100x: expected all-approx, got ${mgA._2}/${mgA._1}")
    println(s"[rehearsal] mg(event_id) rows=${mgA._1} flagged_approx=${mgA._2}")
    // Quantile ladder approx path: one 10 M-row group ≫ k = 262144, so
    // the MRL compaction runs for real on every level (the contract
    // entries never compact). State stays ≤ k·L longs per partial; the
    // single output row must flag approx and its quantiles must honor
    // the ladder's monotonicity (p25 ≤ p50 ≤ p75 ≤ p95).
    val ql = phase("quantile approx") {
      val row = graft.operators.Sketches.quantileLadder(
        spark.read.parquet(s"$out/events.parquet")
          .select(lit("all").as("g"),
            expr("cast(round(value*100) AS BIGINT)").as("cents")),
        "g", "cents", 262144).collect().head
      (row.getAs[Long]("exact"), row.getAs[Long]("n"),
        Seq("p25", "p50", "p75", "p95").map(row.getAs[Long]))
    }
    assert(ql._1 == 0L && ql._2 == 10000000L,
      s"quantile ladder at 100x: expected approx flag over 10M rows, got $ql")
    assert(ql._3 == ql._3.sorted,
      s"quantile ladder at 100x: non-monotone quantiles ${ql._3}")
    println(s"[rehearsal] quantile(10M) flagged_approx n=${ql._2} q=${ql._3}")

    cdcPhases(spark, out)
  }

  // ---- r15 training tier at 100×: k-means loop + PQ codebook +
  // streaming twin over ~1M vectors, 10×-vs-100× bit-equality asserted.
  private def kmeansPhases(spark: SparkSession, out: String): Unit = {
    import spark.implicits._
    val k = 8
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def ensureCorpus(reps: Int, dir: String): Unit =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet"))) {
        val base = Catalog.load(spark, sf, "embeddings")
        val seeds = base.where(col("vec_id") < k)
        val rep = base.where(col("vec_id") >= k).repartition(16)
          .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
          .withColumn("vec_id", col("vec_id") + col("rep") * lit(1000000L))
          .drop("rep")
        seeds.unionByName(rep).repartition(32)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
    val d50 = s"$out/km50"
    val d500 = s"$out/km500"
    phase("build km corpora") {
      ensureCorpus(50, d50); ensureCorpus(500, d500)
      // x342 drives through SparkEntry → Catalog, which resolves the
      // full table set against its directory: the nine companion
      // tables ride along as sf0.1 copies (cheap, one-time)
      Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents").foreach { t =>
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$d500/$t.parquet")))
          Catalog.load(spark, sf, t)
            .write.mode("overwrite").parquet(s"$d500/$t.parquet")
      }
    }
    val n500 = spark.read.parquet(s"$d500/embeddings.parquet").count()
    println(s"[rehearsal] kmeans corpus: 500-rep vectors=$n500 (10x pair at " +
      spark.read.parquet(s"$d50/embeddings.parquet").count() + ")")

    def trainAt(dir: String, tag: String): graft.llm.KMeans.Train = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      // train() is one call, so timing rounds via a wrapped maxIters
      // ladder would re-run earlier rounds — instead the phase line
      // times the whole 3-round loop and the 10×-vs-100× wall ratio
      // carries the data term (per-round wall = total/3).
      phase(s"train3 $tag") {
        graft.llm.KMeans.train(emb, k = k, dims = 64, maxIters = 3,
          stopWhenStable = false)
      }
    }
    val t50 = trainAt(d50, "100k")
    val t500 = trainAt(d500, "1M")
    def census(t: graft.llm.KMeans.Train) = t.summary.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val c50 = census(t50)
    val c500 = census(t500)
    // the scale oracle: bit-equal centroids, exactly-10× census
    assert(t500.centroids == t50.centroids,
      "uniform 10× replication must leave the integer centroid trajectory bit-equal")
    assert(c500 == c50.map { case (rk, cid, n, in) => (rk, cid, n * 10, in * 10) },
      s"census must scale exactly 10×:\n  50-rep : $c50\n  500-rep: $c500")
    assert(t500.rounds.map(r => (r.round, r.moved, r.inertia)) ==
      t50.rounds.map(r => (r.round, r.moved * 10, r.inertia * 10)),
      "moved/inertia must scale exactly 10×")
    println(s"[rehearsal] kmeans 10x-invariance: centroids bit-equal, " +
      s"census/moved/inertia exactly 10x across 100k->1M")

    // train-once/serve-many at scale (VERDICT r15 #5): persist the 1M
    // centroids, reload, and resume ONE more round — must run without
    // retraining and report a conserved census.
    val idxDir = s"$out/km-index"
    val f = new java.io.File(idxDir)
    if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()
    val loaded = phase("index save/load") {
      graft.llm.IndexStore.saveCentroids(spark, idxDir, t500.centroids)
      graft.llm.IndexStore.loadCentroids(spark, idxDir)
    }
    assert(loaded == t500.centroids, "centroid table must round-trip bit-exactly")
    val resumed = phase("resume round 4") {
      graft.llm.KMeans.resume(Catalog.load(spark, d500, "embeddings"),
        loaded, k = k, dims = 64, maxIters = 1, stopWhenStable = false)
    }
    val n4 = resumed.summary.agg(sum("n")).head().getLong(0)
    assert(n4 == n500 - k, s"resumed round must conserve the ${n500 - k} points, got $n4")

    // x342's PQ codebook pass over the 1M corpus (the declared entry's
    // engine, driven through SparkEntry against the rehearsal dir)
    val cb = phase("x342 codebook 1M") {
      SparkEntry.queries("x342_pq_codebook_train")(spark, d500).collect()
    }
    assert(cb.length == 32, s"x342 must emit 8 subspaces × 4 codes, got ${cb.length}")

    // streaming twin at 1M: 8-batch replay, seeded from the SAVED index
    // (the serve-many shape) — per-batch cost is O(batch), so the drain
    // wall is the honest ingest-time number.
    val replay = s"$out/km-replay"
    val rf = new java.io.File(replay)
    if (rf.exists()) new scala.reflect.io.Directory(rf).deleteRecursively()
    val vecs = Catalog.load(spark, d500, "embeddings")
      .where(col("vec_id") >= k).select("vec_id", "embedding")
    vecs.repartitionByRange(8, col("vec_id")).write.parquet(replay)
    val model = phase("stream drain 1M x8") {
      graft.streaming.KMeansStream.drain(spark,
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType(
            Seq(org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("embedding",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.FloatType)))))
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet")
          .parquet(replay),
        k = k, dims = 64, seeds = Some(loaded))
    }
    assert(model.stats.map(_.n).sum == n500 - k,
      s"stream must fold every non-seed vector exactly once: " +
        s"${model.stats.map(_.n).sum} vs ${n500 - k}")
    println(s"[rehearsal] kmeans stream: batches=${model.stats.size} " +
      s"folded=${model.stats.map(_.n).sum} " +
      s"moved_components_last=${model.stats.last.movedComponents}")

    // ANN SERVING at 1M (r16, the AnnServeStream tier at the rehearsal
    // bar): IVF-train on the 1M corpus, persist centroids + the
    // list-partitioned layout (train-once artifacts), then answer
    // 2 000 streamed queries in 4 micro-batches at nProbe = 4/16 —
    // each batch's scan is pruned to its probed lists, answers are
    // request-sized (top-10 per query), and the driver holds nothing
    // corpus-shaped (the pinned heap enforces it).
    val emb1M = Catalog.load(spark, d500, "embeddings")
    val annCents = phase("ivf train 1M") {
      graft.llm.Ann.ivfTrain(emb1M, nLists = 16, dim = 64)
    }
    val annIdxDir = s"$out/km-ann-index"
    val aif = new java.io.File(annIdxDir)
    if (aif.exists()) new scala.reflect.io.Directory(aif).deleteRecursively()
    graft.llm.IndexStore.savePq(spark, annIdxDir,
      graft.llm.Ann.PqIndex(16, 1, 1, 64, annCents,
        Array(Array(new Array[Double](64)))))
    val annLayout = s"$out/km-ann-layout"
    phase("ivf layout 1M") {
      graft.sources.Layout.writeIvfPartitioned(emb1M, annLayout, annCents)
    }
    val qdir = s"$out/km-ann-queries"
    val qf = new java.io.File(qdir)
    if (qf.exists()) new scala.reflect.io.Directory(qf).deleteRecursively()
    emb1M.where(col("vec_id") < 2500).limit(2000)
      .select(col("vec_id").as("qid"), col("embedding"))
      .repartitionByRange(4, col("qid")).write.parquet(qdir)
    def annQStream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(qdir)
    val served = phase("ann serve 2k q") {
      val loadedCents = graft.llm.IndexStore.loadPq(spark, annIdxDir).centroids
      graft.streaming.AnnServeStream.drain(spark, annQStream(),
        annLayout, loadedCents, k = 10, nProbe = 4)
    }
    val nq = served.map(_._1).distinct.size
    assert(served.size == nq * 10,
      s"every query gets exactly top-10: ${served.size} rows for $nq queries")
    println(s"[rehearsal] ann serve 1M: queries=$nq answers=${served.size}")

    // BULK LUT tier at 1M (r17, VERDICT r16 #3): the same 2 000 queries
    // routed through IVFADC — PQ codebooks trained ON TOP of the same
    // coarse centroids (never a retrain), the encoded layout written
    // once, then per-batch LUT scoring + k×refine exact rerank. The
    // exact tier above pays |batch|×|probed slice| native cosines; this
    // pays m=16 table lookups per probed CODE row plus k×refine=100
    // exact cosines per query — the candidate-bound cost §44 priced.
    val pqIdx = phase("pq codebook 1M") {
      graft.llm.Ann.pqTrain(emb1M, nLists = 16, dim = 64,
        centroids = Some(annCents))
    }
    val encLayout = s"$out/km-ann-enc"
    phase("pq encode layout 1M") {
      graft.sources.Layout.writeIvfEncodedPartitioned(emb1M, encLayout, pqIdx)
    }
    val servedLut = phase("ann serve lut 2k q") {
      graft.streaming.AnnServeStream.drainLut(spark, annQStream(),
        annLayout, encLayout, pqIdx, k = 10, nProbe = 4, refine = 10)
    }
    assert(servedLut.size == nq * 10,
      s"LUT tier must answer top-10 per query: ${servedLut.size} vs ${nq * 10}")
    // recall vs the exact tier at the SAME probe sets: the LUT path's
    // only loss is quantization error inside candidate truncation —
    // with the m=16/ksub=64 codebooks the SCALE.md §9.4 sweep found
    // recall-lossless; a big drop here is a codebook/kernel regression
    val exactSets = served.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val lutSets = servedLut.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = exactSets.keys.toSeq
      .map(q => (exactSets(q) & lutSets.getOrElse(q, Set.empty)).size / 10.0)
      .sum / nq
    println(f"[rehearsal] ann serve LUT 1M: queries=$nq recall@10 vs exact $recall%.4f")
    assert(recall >= 0.9, f"LUT-tier recall collapsed: $recall%.4f")
    spark.stop()
  }

  // ---- exact-vs-LUT ANN serving at dim 768 (VERDICT r17 #6) --------
  // The kmPhases 1M tier runs at the contract's dim 64, where the LUT
  // tier's local win is modest (3.5× fewer scan bytes, 16 lookups vs 64
  // FMAs). Production embedding widths are ~768; there the bytes ratio
  // is 12.5× (3072 B raw vs ~245 B encoded+norm) and scoring is 16
  // lookups vs 768 FMAs — claims r17 stated by arithmetic only. This
  // phase builds a deterministic synthetic 1M × 768 corpus (perf claim,
  // not an oracle claim: hash-derived floats, no RNG state), trains the
  // coarse index once, writes BOTH serving layouts from the same
  // centroids, streams the same 2 000 queries through each tier, and
  // reports walls + recall@10 of LUT vs exact at the same probe sets.
  private def dim768Phases(spark: SparkSession, out: String): Unit = {
    // the serving tiers resolve cosine_sim / pq_lut_score by registry
    // name; this phase never touches the contract catalog, so register
    // the kernels directly (what Catalog.ensure does for table-backed
    // phases)
    graft.functions.CosineSim.register(spark)
    graft.functions.PqLutScore.register(spark)
    val dim = 768
    val n = 1000000L
    val dir = s"$out/d768"
    // Corpus flavor (SPARK_GRAFT_D768_CORPUS): `uniform` hash floats are
    // the WORST case for recall (all pairwise cosines concentrate near 0
    // in high dim, so quantization noise swamps the vanishing neighbor
    // margins); `planted` adds 1024 cluster centers with 20% noise — the
    // margin structure real embedding corpora have. Both deterministic,
    // RNG-free (xxhash64-derived).
    val flavor = sys.env.getOrElse("SPARK_GRAFT_D768_CORPUS", "uniform")
    val corpus = s"$dir/embeddings-$flavor.parquet"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(corpus)))
      phase(s"build 1M x 768 $flavor") {
        val vecExpr =
          if (flavor == "planted")
            s"""transform(sequence(1, $dim),
               | j -> cast((pmod(xxhash64((id % 1024) * 7919, j), 2000) - 1000) / 1250.0
               |        + (pmod(xxhash64(id, j), 2000) - 1000) / 5000.0 AS FLOAT))""".stripMargin
          else
            s"""transform(sequence(1, $dim),
               | j -> cast((pmod(xxhash64(id, j), 2000) - 1000) / 1000.0 AS FLOAT))""".stripMargin
        spark.range(n).select(col("id").as("vec_id"),
            expr(vecExpr).as("embedding"))
          .repartition(64)
          .write.mode("overwrite").parquet(corpus)
      }
    val emb = spark.read.parquet(corpus)
    val cents = phase("ivf train d768") {
      graft.llm.Ann.ivfTrain(emb, nLists = 16, dim = dim)
    }
    val rawLayout = s"$dir/layout-raw-$flavor"
    phase("raw layout d768") {
      graft.sources.Layout.writeIvfPartitioned(emb, rawLayout, cents)
    }
    // codebooks trained ON the same coarse centroids (the train-once
    // rule). The subspace count is the knob that must SCALE WITH WIDTH:
    // the dim-64 contract shape (m=16, dsub=4) transplanted to dim 768
    // gives 48-dim subspaces quantized to 64 codes — measured recall@10
    // vs the exact tier collapsed to 0.12 on this corpus. m=96 keeps
    // dsub=8 (the production-realistic shape: 96 lookups vs 768 FMAs,
    // ~30× fewer uncompressed scan bytes). SPARK_GRAFT_PQ_M selects.
    val m = sys.env.getOrElse("SPARK_GRAFT_PQ_M", "16").toInt
    val pq = phase(s"pq codebook d768 m$m") {
      graft.llm.Ann.pqTrain(emb, nLists = 16, dim = dim, m = m,
        centroids = Some(cents))
    }
    val encLayout = s"$dir/layout-enc-$flavor-m$m"
    phase("pq encode layout d768") {
      graft.sources.Layout.writeIvfEncodedPartitioned(emb, encLayout, pq)
    }
    def layoutBytes(p: String): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      var b = 0L
      while (it.hasNext) { val f = it.next(); if (f.isFile) b += f.getLen }
      b
    }
    println(f"[rehearsal] d768 layout bytes: raw=${layoutBytes(rawLayout)}%,d " +
      f"encoded=${layoutBytes(encLayout)}%,d " +
      f"(ratio ${layoutBytes(rawLayout).toDouble / layoutBytes(encLayout)}%.1f x)")
    val qdir = s"$dir/queries-$flavor"
    val qf = new java.io.File(qdir)
    if (qf.exists()) new scala.reflect.io.Directory(qf).deleteRecursively()
    emb.where(col("vec_id") < 2500).limit(2000)
      .select(col("vec_id").as("qid"), col("embedding"))
      .repartitionByRange(4, col("qid")).write.parquet(qdir)
    def qStream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(qdir)
    val served = phase("exact tier 2k q d768") {
      graft.streaming.AnnServeStream.drain(spark, qStream(),
        rawLayout, cents, k = 10, nProbe = 4)
    }
    val nq = served.map(_._1).distinct.size
    assert(served.size == nq * 10,
      s"exact tier must answer top-10 per query: ${served.size} vs ${nq * 10}")
    val servedLut = phase("lut tier 2k q d768") {
      graft.streaming.AnnServeStream.drainLut(spark, qStream(),
        rawLayout, encLayout, pq, k = 10, nProbe = 4, refine = 10)
    }
    assert(servedLut.size == nq * 10,
      s"LUT tier must answer top-10 per query: ${servedLut.size} vs ${nq * 10}")
    val exactSets = served.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val lutSets = servedLut.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = exactSets.keys.toSeq
      .map(q => (exactSets(q) & lutSets.getOrElse(q, Set.empty)).size / 10.0)
      .sum / nq
    println(f"[rehearsal] d768 serve: queries=$nq recall@10 LUT-vs-exact $recall%.4f")
    spark.stop()
  }

  // ---- streaming CDC apply: 8-batch replay of 10M change rows -----
  // Change stream derived from the 100× events: ~1/10 of keys collide
  // across batches (updates), ~1% tombstones, seq = event id. 64
  // buckets: each micro-batch rewrites only buckets containing its
  // keys; the table never rewrites whole.
  private def cdcPhases(spark: SparkSession, out: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val table = s"$out/cdc-table"
    val replay = s"$out/cdc-replay"
    Seq(table, replay).foreach { d =>
      val f = new java.io.File(d)
      if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()
    }
    val changes = spark.read.parquet(s"$out/events.parquet").select(
      (col("event_id") % 1000000L).as("k"),
      col("value").as("price"),
      col("event_type").as("status"),
      col("event_id").as("seq"),
      (col("event_id") % 97L === 0L).as("deleted"))
    changes.repartitionByRange(8, col("seq"))
      .write.parquet(replay)
    val schema = changes.schema
    phase("cdc apply x8") {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(replay)
        .writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.CdcStream.applyBatch(spark, table, b, "k",
            nBuckets = 64, txnId = Some(id.toString)); ()
        }.start()
      q.awaitTermination()
    }
    val versions = graft.streaming.CdcStream.versions(spark, table)
    val live = graft.streaming.CdcStream.latest(spark, table).get.count()
    // replay-order independence (round 11): the file source hands the 8
    // range files to foreachBatch in NO guaranteed order (this very run
    // shuffles them), so the final state must equal the seq-order fold
    // of the feed computed directly — live = keys whose HIGHEST-seq
    // change is not a tombstone. The pre-r11 unconditional merge only
    // matched this when the replay happened to be ordered; retained
    // tombstones + persisted seq make it hold for every interleaving.
    val expectedLive = changes
      .groupBy("k").agg(expr("max_by(deleted, seq)").as("d"))
      .where(!col("d")).count()
    assert(live == expectedLive,
      s"cdc replay-order independence: live=$live expected=$expectedLive")
    // tombstone retention compaction at 1M-key scale: the replay is
    // fully drained, so EVERY retained tombstone is past the horizon —
    // purge them all, assert visible rows unchanged and the raw bucket
    // files carry zero __dead rows afterwards (the cost the stream-soak
    // ratio note attributes to retained tombstones, reclaimed)
    val deadBefore = 1000000L - live
    phase("cdc compact") {
      val v = graft.streaming.CdcStream.compactTombstones(
        spark, table, "k", belowSeq = Long.MaxValue)
      val liveAfter = graft.streaming.CdcStream.latest(spark, table).get.count()
      assert(liveAfter == live,
        s"compaction must not change visible rows: $liveAfter vs $live")
      val rawDead = spark.read.parquet(
          graft.streaming.CdcStream.bucketDirs(spark, table, v)
            .values.toSeq.distinct: _*)
        .where(col("__dead")).count()
      assert(rawDead == 0L, s"all $deadBefore tombstones purged, found $rawDead")
    }
    println(s"[rehearsal] cdc compact: $deadBefore tombstones purged, " +
      s"live rows bit-stable")
    val stats = phase("cdc vacuum") {
      graft.streaming.CdcStream.vacuum(spark, table, keepLast = 2)
    }
    println(s"[rehearsal] cdc: versions=${versions.size} live_keys=$live" +
      s" (= seq-order fold of the feed) vacuum=$stats")
    spark.stop()
  }
}
