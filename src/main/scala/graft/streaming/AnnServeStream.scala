package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingest-time ANN serving from a PERSISTED index (r16) — the consume
  * half of [[graft.llm.IndexStore]]'s train-once/serve-many contract,
  * and the §2.9 streaming set's retrieval entry: a stream of query
  * vectors is answered per micro-batch with cosine top-k neighbors
  * from a list-PARTITIONED corpus layout
  * ([[graft.sources.Layout.writeIvfPartitioned]]), probing only each
  * query's nProbe best IVF lists.
  *
  * Shape, entirely distributed (no driver collect of queries or
  * corpus):
  *  1. the loaded centroid table (nLists × dim doubles — index-sized)
  *     broadcasts against the query batch; a per-query window keeps the
  *     nProbe best lists → a (qid, q, list) probe table, batch-sized;
  *  2. the probe table broadcasts into a join with the list-partitioned
  *     corpus — the join key IS the partition column, so Spark's
  *     dynamic partition pruning restricts the scan to the union of
  *     probed lists (nProbe/nLists of the corpus at most, NOT a full
  *     scan — the same pruning LayoutSpec pins statically for
  *     [[graft.llm.Ann.ivfTopKPartitioned]], triggered at runtime here
  *     because the probe set derives from the batch's data);
  *  3. exact cosine + per-query top-k window over the probed slice.
  *
  * foreachBatch rather than a continuous plan because step 2's pruning
  * predicate is data-dependent per batch. Answers are top-k rows per
  * query — request-sized; only THEY return to the caller.
  *
  * Full probe (nProbe ≥ nLists) makes the answer exactly brute-force
  * top-k BY CONSTRUCTION (every list probed — the x103 full-probe
  * argument one tier up); AnnServeStreamSpec pins both that and pruned-
  * probe parity with the inline [[graft.llm.Ann.ivfTopK]].
  */
object AnnServeStream {

  /** Answer one micro-batch of (qid, embedding) queries from the
    * list-partitioned `corpus` under driver-held `cents`. Returns
    * (qid, rnk, vec_id, sim) — k rows per query. */
  def answerBatch(batch: DataFrame, corpus: DataFrame,
                  cents: Array[(Int, Array[Double])],
                  k: Int, nProbe: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val centDf = cents.toSeq.toDF("list", "c")
    // probe ranking stays on the HOF cosine: it scores batch × nLists
    // rows against double centroid literals — probe-table-sized, never
    // the hot path
    val qp = batch.select(col("qid"), col("embedding").as("qf"),
      transform(col("embedding"), x => x.cast("double")).as("q"))
    // probe table: nProbe best lists per query by centroid cosine —
    // ties to the lower list id, mirroring Ann.probeLists' stable sort
    val probes = qp.join(broadcast(centDf))
      .withColumn("csim", graft.llm.Ann.cosine(col("q"), col("c")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("csim"), col("list"))))
      .where(col("rn") <= nProbe)
      .select(col("qid"), col("qf"), col("list"))
    // the hot path — |queries| × |corpus| × nProbe/nLists cosines per
    // batch — runs the NATIVE codegen'd expression over the raw float
    // arrays (tight primitive loop in whole-stage codegen, no boxed
    // intermediate per row; arithmetic identical to the HOF form per
    // CosineSim's contract, so answers are bit-equal — the spec's
    // full-probe ≡ brute force assertion would catch any divergence).
    // Measured at the 1M rehearsal tier: 476 s → see SCALE.md §44 for
    // the HOF number this replaced.
    val scored = corpus
      .select(col("vec_id"), col("list"), col("embedding"))
      .join(broadcast(probes), "list")
      .withColumn("sim",
        graft.functions.CosineSim(col("embedding"), col("qf")))
    // per-query top-k as a map-side-combining aggregation (r17): the
    // row_number window this replaces shuffled EVERY scored row by qid
    // and sorted; the aggregation ships one ≤k buffer per (partition,
    // query) — same selection, same (sim DESC, vec_id ASC) order
    // (TopKPerKey's contract; the spec parities pin bit-equality)
    graft.operators.TopKPerKey
      .topK(scored, col("qid"), col("vec_id"), lit(0L), col("sim"), k, "qid")
      .select(col("qid"), col("rnk"), col("id").as("vec_id"), col("sim"))
  }

  /** BULK serving tier (VERDICT r16 #3): answer a corpus-shaped query
    * batch through the IVFADC LUT path instead of full exact rerank —
    * the route §44's addendum priced in prose (a 2 000-query drain at
    * nProbe=4 over 1 M vectors pays 125 M exact cosines per batch on
    * the exact tier; the LUT tier pays m table lookups per probed CODE
    * row plus k×refine exact cosines per query).
    *
    * Shape, entirely distributed, mirroring [[answerBatch]]'s steps 1–3
    * with an approximate-scoring stage spliced in (the same algorithm
    * as [[graft.llm.Ann.pqTopK]], batched — pruned-mode answers are
    * pinned EQUAL to the inline operator per query):
    *  1. probe table as in answerBatch, carrying q·c_list per probed
    *     list (the ADC reconstruction term);
    *  2. per-query flattened LUT (m×ksub doubles) + query norm — a
    *     typed map over the BATCH (batch-sized, broadcast);
    *  3. ADC scoring over the DPP-pruned slice of the ENCODED layout
    *     ([[graft.sources.Layout.writeIvfEncodedPartitioned]]):
    *     sim ≈ (q·c + pq_lut_score(codes, lut)) / (|q|·|v|) — the
    *     native [[graft.functions.PqLutScore]] kernel, no raw
    *     vectors touched;
    *  4. per-query top k×refine candidates → exact rerank on the RAW
    *     list-partitioned layout (DPP on the candidates' lists,
    *     native cosine), top-k.
    *
    * Full probe + refine ≥ |corpus|/k degrades to exact brute force BY
    * CONSTRUCTION (every row probed, no candidate truncated, rerank is
    * exact) — the spec pins that and pruned-mode parity with pqTopK. */
  def answerBatchLut(batch: DataFrame, rawCorpus: DataFrame,
                     encoded: DataFrame, idx: graft.llm.Ann.PqIndex,
                     k: Int, nProbe: Int, refine: Int = 10): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val centDf = idx.centroids.toSeq.toDF("list", "c")
    val qp = batch.select(col("qid"), col("embedding").as("qf"),
      transform(col("embedding"), x => x.cast("double")).as("q"))
    // probe table with the per-(query, list) centroid dot — probe
    // ranking arithmetic identical to answerBatch/probeLists (ties to
    // the lower list id)
    val probes = qp.join(broadcast(centDf))
      .withColumn("csim", graft.llm.Ann.cosine(col("q"), col("c")))
      .withColumn("dotqc", graft.llm.Ann.dot(col("q"), col("c")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("csim"), col("list"))))
      .where(col("rn") <= nProbe)
      .select(col("qid"), col("list"), col("dotqc"))
    // per-query LUT: a typed kernel over the batch — m×ksub doubles and
    // one norm per query; the closure captures the driver-held
    // codebooks (index-sized metadata, the standing broadcast rule)
    val m = idx.m; val ksub = idx.ksub; val dsub = idx.dsub
    val cbs = idx.codebooks
    val qluts = qp.select(col("qid"), col("q")).as[(Long, Array[Double])]
      .map { case (qid, q) =>
        var n2 = 0.0; var i = 0
        while (i < q.length) { n2 += q(i) * q(i); i += 1 }
        val lut = new Array[Double](m * ksub)
        var mi = 0
        while (mi < m) {
          var j = 0
          while (j < ksub) {
            var s = 0.0; var d = 0
            while (d < dsub) { s += q(mi * dsub + d) * cbs(mi)(j)(d); d += 1 }
            lut(mi * ksub + j) = s; j += 1
          }
          mi += 1
        }
        (qid, math.max(math.sqrt(n2), 1e-12), lut)
      }.toDF("qid", "qn", "lut")
    // ADC scoring over the probed ENCODED slice: |batch| × |corpus| ×
    // nProbe/nLists rows, each costing m lookups — the hot path, all
    // codegen'd; the encoded scan is DPP-pruned by the probe join
    val scored = encoded
      .select(col("vec_id"), col("list"), col("vnorm"), col("codes"))
      .join(broadcast(probes), "list")
      .join(broadcast(qluts), "qid")
      .withColumn("sim_approx",
        (col("dotqc") + graft.functions.PqLutScore(col("codes"), col("lut"))) /
          (col("qn") * greatest(col("vnorm"), lit(1e-12))))
    // candidate truncation as the same map-side-combining top-k (the
    // scored set is the batch's largest intermediate — the window form
    // shuffled all of it by qid); the candidate's list id rides the
    // aggregation as payload so the rerank join stays DPP-prunable
    val cands = graft.operators.TopKPerKey
      .topK(scored, col("qid"), col("vec_id"), col("list"),
        col("sim_approx"), math.max(k * refine, k), "qid")
      .select(col("qid"), col("id").as("vec_id"),
        col("payload").cast("int").as("list"))
    // exact rerank: candidates are request-sized (|batch|×k×refine) —
    // broadcast against the raw layout, list join key DPP-prunes the
    // scan, native cosine kernel; same tie rules as answerBatch
    val reranked = rawCorpus.select(col("vec_id"), col("list"), col("embedding"))
      .join(broadcast(cands), Seq("list", "vec_id"))
      .join(broadcast(qp.select(col("qid"), col("qf"))), "qid")
      .withColumn("sim",
        graft.functions.CosineSim(col("embedding"), col("qf")))
    graft.operators.TopKPerKey
      .topK(reranked, col("qid"), col("vec_id"), lit(0L), col("sim"), k, "qid")
      .select(col("qid"), col("rnk"), col("id").as("vec_id"), col("sim"))
  }

  /** Drain a bounded query stream through the BULK LUT tier: per
    * micro-batch [[answerBatchLut]] over the encoded + raw layouts.
    * Returns every answer row — request-sized, k per query. */
  def drainLut(spark: SparkSession, queries: DataFrame, rawPath: String,
               encodedPath: String, idx: graft.llm.Ann.PqIndex,
               k: Int = 10, nProbe: Int = 4,
               refine: Int = 10): Seq[(Long, Long, Long, Double)] = {
    val raw = spark.read.parquet(rawPath)
    val enc = spark.read.parquet(encodedPath)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = queries.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= answerBatchLut(b, raw, enc, idx, k, nProbe, refine).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
        ()
      }.start()
    q.awaitTermination()
    out.toSeq
  }

  /** Drain a bounded query stream, answering each micro-batch from the
    * partitioned corpus + loaded centroids; returns every answer row
    * (qid, rnk, vec_id, sim), k per query — request-sized. */
  def drain(spark: SparkSession, queries: DataFrame, corpusPath: String,
            cents: Array[(Int, Array[Double])], k: Int = 10,
            nProbe: Int = 4): Seq[(Long, Long, Long, Double)] = {
    val corpus = spark.read.parquet(corpusPath)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = queries.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= answerBatch(b, corpus, cents, k, nProbe).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
        ()
      }.start()
    q.awaitTermination()
    out.toSeq
  }
}
