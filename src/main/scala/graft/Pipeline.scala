package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline: the composition the individual
  * operators exist for. Stages (each one a declared-and-verified operator
  * family from SURVEY.md §2):
  *
  *   documents ─ quality filter (x50 scoring)
  *             ─ exact dedup, keep lowest doc_id (x47)
  *             ─ MinHash+LSH near-dup prune, cluster-canonical keep
  *               (x52 scale path + x111 connected components)
  *             ─ benchmark decontamination (x108 gram gate; held-out
  *               source dropped, gram-sharing docs dropped)
  *             ─ corpus accounting (x58/x95 token + vocab counts)
  *             ─ stable train/val/test split (x106 content-hash assignment)
  *             ─ sequence packing into 512-token windows (x107 semantics
  *               via the GlobalWindow.runningSum scale tier, not the
  *               single-task window)
  *             ─ tokenizer induction + post-BPE token accounting
  *               (x148/x149 train + distinct-word encode)
  *             ─ mixture resampling to target source weights (x109)
  *   embeddings ─ IVF index build + sample ANN probe (x59)
  *
  * Prints one JSON line per stage with rows in/out and wall-clock. On a
  * cluster the inter-stage hand-offs would be materialized parquet
  * (date-partitioned per SCALE.md §2) rather than in-plan lineage, making
  * each stage restartable — the shape here is the per-day incremental job.
  *
  * Usage: runMain graft.Pipeline [sfDir]
  */
object Pipeline {

  /** Concurrent-submission runner — the library surface of the
    * measured §38.2 result (VERDICT r14 #6): one shared SparkSession,
    * `threads` client threads draining one task queue, so the
    * per-stage scheduling floor that dominates small-query latency
    * amortizes across in-flight queries (measured: the 46-query suite
    * wall 6.2 s sequential → 3.1 s at 4 threads at sf0.1 —
    * history/BENCH_r14_conc4.json; plateaus ~8 threads on the single
    * DAGScheduler event loop).
    *
    * Scheduling: build the shared session with
    * `spark.scheduler.mode=FAIR` (as perfbench's concurrent phase does) —
    * FIFO lets one query's stages starve the rest and inflates tail
    * latency for no throughput gain. Each worker thread claims its own
    * FAIR pool (pools are created on demand; within a pool one query
    * runs at a time here, so per-thread pools give equal-share
    * scheduling BETWEEN concurrent queries — under FAIR mode the
    * default pool alone would queue jobs FIFO inside itself).
    *
    * Semantics: task names must be unique (rejected upfront — a
    * duplicate would silently overwrite a result in the returned map);
    * each task starts at most once. On the FIRST failure the workers
    * stop claiming queued tasks (already-running ones finish their
    * attempt), completed results are discarded, and that first failure
    * is rethrown — so side-effecting tasks should be idempotent or
    * retried whole. Results (null included) are identical to a
    * sequential run — concurrency changes scheduling, never plans
    * (ConcurrencySpec asserts output equality).
    */
  def concurrent[A](spark: SparkSession,
                    tasks: Seq[(String, SparkSession => A)],
                    threads: Int): Map[String, A] = {
    require(threads >= 1, s"threads must be >= 1, got $threads")
    val dup = tasks.map(_._1).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate task names: ${dup.toSeq.sorted.mkString(", ")}")
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    tasks.indices.foreach(i => queue.add(i))
    // index-slotted results: no concurrent-map value restrictions, so a
    // task may legitimately return null
    val out = new Array[Any](tasks.length)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val workers = (1 to threads).map { i =>
      new Thread(() => {
        // thread-local: every job this worker submits joins its pool
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-conc-$i")
        var t = queue.poll()
        while (t != null && err.get() == null) {
          try out(t) = tasks(t)._2(spark)
          catch { case e: Throwable =>
            err.compareAndSet(null, e)
            // record-and-continue is for NonFatal failures only: a
            // fatal VM error (OOM, StackOverflow) means the JVM may be
            // corrupted — stop THIS worker immediately rather than
            // draining more tasks under it (ADVICE r15 #2; err is set,
            // so the other workers stop claiming queued tasks too)
            if (!scala.util.control.NonFatal(e)) throw e
          }
          t = queue.poll()
        }
      }, s"graft-conc-$i")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    if (err.get() != null) throw err.get()
    tasks.indices.map(i => tasks(i)._1 -> out(i).asInstanceOf[A]).toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session("graft-pipeline")

    def stage(name: String, in: Long)(f: => DataFrame): (DataFrame, Long) = {
      val (sec, (out, n)) = Harness.timed { val out = f; (out, out.count()) }
      println(f"""{"stage":"$name","rows_in":$in,"rows_out":$n,"sec":$sec%.3f}""")
      (out, n)
    }

    val docs = Catalog.load(spark, dir, "documents")
    val total = docs.count()

    // 1. quality filter: x50's composite score, keep quality_bp >= 6500
    val (quality, nQ) = stage("quality_filter", total) {
      docs.withColumn("w", split(col("text"), " "))
        .withColumn("n_toks", size(col("w")))
        .withColumn("n_types", size(array_distinct(col("w"))))
        .withColumn("n_stop", size(filter(col("w"), x => x.isin("a", "the"))))
        .withColumn("quality_bp", floor(
          (lit(0.4) * (col("n_types") / col("n_toks").cast("double"))
            + lit(0.3) * (lit(1.0) - col("n_stop") / col("n_toks").cast("double"))
            + lit(0.3) * least(col("n_toks") / lit(100.0), lit(1.0))) * 10000).cast("long"))
        .where(col("quality_bp") >= 6500)
        .select("doc_id", "text", "lang", "source", "n_chars")
    }

    // 2. exact dedup on the normalized token-set key, keep lowest doc_id
    // (hierarchical single-shuffle min_by path — SCALE.md §4; the old
    // groupBy+join-back shape shuffled the full text twice)
    val (exact, nE) = stage("exact_dedup", nQ) {
      llm.Dedup.exactKeepFirst(quality,
        md5(array_join(sort_array(array_distinct(split(col("text"), " "))), " ")),
        "doc_id")
    }

    // 3. near-dup prune: LSH candidates verified >= 50% Jaccard, closed
    // into duplicate GROUPS (x111 connected components), one canonical
    // doc kept per group — pairwise dropping can keep two docs that are
    // near-dups of each other only through a third (see
    // Dedup.keepClusterCanonical)
    val (neardup, nN) = stage("neardup_dedup", nE) {
      val pairs = llm.Dedup.minHashNearDups(exact,
        numHashes = 64, rowsPerBand = 4, minJacBp = 5000L)
      llm.Dedup.keepClusterCanonical(exact, pairs, "doc_id")
    }

    // 3b. benchmark decontamination (x108 semantics, stream-capable via
    // streaming.ContaminationStream): src0 stands in for the held-out
    // eval set — its docs leave the corpus entirely, and any OTHER doc
    // sharing a word 5-gram with it is dropped too. The gram set is the
    // broadcast small side; the gate is a semi-join feeding an
    // anti-join — linear, no pair blowup.
    val (decon, nD) = stage("decontaminate", nN) {
      val bench = streaming.ContaminationStream.benchmarkGrams(
        docs.where(col("source") === "src0"))
      val candidates = neardup.where(col("source") =!= "src0")
      val hits = streaming.ContaminationStream
        .contaminationHits(candidates, bench).select("doc_id")
      candidates.join(hits, Seq("doc_id"), "left_anti")
    }

    // 4. corpus accounting per source (what reaches the tokenizer)
    stage("corpus_accounting", nD) {
      decon.groupBy("source").agg(
        count(lit(1)).as("docs"),
        sum(size(split(col("text"), " "))).as("toks"),
        sum(col("n_chars")).as("chars"))
    }

    // 5. stable train/val/test assignment by content hash (x106): a doc
    // never changes split as the corpus grows
    val (splitDf, nS) = stage("split_assign", nD) {
      decon.withColumn("b",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 100)
        .withColumn("split", when(col("b") < 80, "train")
          .when(col("b") < 90, "val").otherwise("test"))
        .drop("b")
    }

    // 6. concat-and-chunk packing of the train split into 512-token
    // context windows — THROUGH THE SCALE TIER (GlobalWindow.runningSum,
    // hash-proven equivalent to the single-task window by x102), not the
    // q28-shaped global window the SQL contract keeps for oracle parity
    stage("sequence_packing", nS) {
      val train = splitDf.where(col("split") === "train")
        .withColumn("n", size(split(col("text"), " ")))
      operators.GlobalWindow.runningSum(train, Seq("doc_id"), "n", "cum")
        .withColumn("start_tok", col("cum") - col("n"))
        .withColumn("first_win", floor(col("start_tok") / 512).cast("long"))
        .select("doc_id", "n", "start_tok", "first_win")
    }

    // 6b. tokenizer induction on the train split (x148/x149): BPE
    // merges trained on the word census (the dict, not the corpus),
    // then per-doc post-BPE token counts via distinct-word encode +
    // broadcast join-back — the accounting a packing budget consumes
    // once a real tokenizer replaces whitespace counts
    stage("bpe_tokenize", nS) {
      val train = splitDf.where(col("split") === "train")
      val (merges, enc) = llm.Bpe.train(train, 3)
      enc.unpersist()
      llm.Bpe.encodedTokenCounts(train, merges)
    }

    // 7. mixture resampling toward target source weights (x109):
    // deterministic replicate + hash-sample, no randomness
    stage("mixture_resample", nS) {
      splitDf.where(col("split") === "train")
        .withColumn("hb",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 10000)
        .withColumn("w_bp", when(
          substring(col("source"), -1, 1).isin("0", "2", "4", "6", "8"),
          15000).otherwise(5000))
        .withColumn("copies", (col("w_bp") / 10000).cast("int")
          + when(col("hb") < col("w_bp") % 10000, 1).otherwise(0))
        .where(col("copies") > 0)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1), col("copies"))).as("copy_id"))
    }

    // 8. semantic embedding dedup: capped SemDeDup (Ann.semDeDup — the
    // cap keeps any mega-cluster's pair cost at ~cap per row, SCALE.md
    // §10) drops near-identical vectors before the index build
    val emb = Catalog.load(spark, dir, "embeddings")
    val (embDedup, nEmb) = stage("semantic_dedup", emb.count()) {
      val losers = llm.Ann.semDeDup(emb, minSimBp = 9500L, cap = 256)
        .select(col("drop_id").as("vec_id")).distinct()
      emb.join(losers, Seq("vec_id"), "left_anti")
    }

    // 9. similarity index: train IVF on the deduped embeddings, probe
    // with vec 0
    stage("ivf_probe", nEmb) {
      val q = embDedup.where(col("vec_id") === 0)
        .head().getSeq[Float](1).map(_.toDouble).toSeq
      llm.Ann.ivfTopK(embDedup.where(col("vec_id") =!= 0), q,
        k = 10, nLists = 16, nProbe = 4)
    }

    spark.stop()
  }
}
