package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming benchmark main (VERDICT r5 #4): times the five streaming
  * operators on a bounded AvailableNow replay of the SPARK_GRAFT_SF_DIR
  * corpus — 4 single-file micro-batches per source, modification-time
  * ordered, one file per trigger — and prints ONE JSON line
  * {"metric":"stream_suite_total","value":N,"unit":"sec","ops":{...}}.
  *
  * Protocol mirrors Bench: warm session, one warm-up drain, then
  * median of 3 timed drains per operator. Every drain starts from a
  * fresh (temp) checkpoint, so a timing covers the FULL replay —
  * source listing, state store build-up across micro-batches, and sink
  * commit — not an incremental tail. The CDC drain additionally starts
  * from a fresh table dir per rep (it measures the whole bucketed COW
  * commit loop, 4 versions deep).
  *
  * Ops measured: near-dup filter (flatMapGroupsWithState bucket
  * state), funnel (mapGroupsWithState per-user stage machine),
  * stream-stream interval join (watermark-expired two-sided state —
  * VERDICT r6 #3: a state-expiry regression here must move a number),
  * contamination (stateless stream-static semi-join), trending
  * (watermarked window x type counts — the agg half of windowed
  * top-k), mini-batch k-means (foreachBatch driver-held cluster fold,
  * r15), CDC apply (bucket-pruned copy-on-write merge sink).
  */
object BenchStream {

  private def replayDir(base: String): String = s"/tmp/graft-bench-stream/$base"

  /** Write `df` as `n` single-file ordered micro-batches under `dir`. */
  private def writeReplay(df: DataFrame, dir: String, n: Int,
                          sliceCol: String): Unit = {
    val d = new java.io.File(dir)
    if (d.exists()) new scala.reflect.io.Directory(d).deleteRecursively()
    d.mkdirs()
    val t0 = System.currentTimeMillis()
    (0 until n).foreach { i =>
      val tmp = s"$dir-tmp$i"
      df.where(pmod(col(sliceCol), lit(n.toLong)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(dir, s"b$i.parquet")
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + i * 10000L))
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  /** Shuffle width of the stateful drains: one state store per
    * partition. Fixed, not core-sized, because a streaming checkpoint
    * pins the partition count of its state at the first batch, and a
    * fixed store count keeps the per-batch commit work the same on
    * every host, so the stream series compare across machines. */
  private val StatePartitions = 8

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER (Harness.session): local-cluster runs the same
    // drains with the state stores living in real executor processes
    // (VERDICT r14 #1, SCALE.md §42; launch via spark-submit).
    val spark = Harness.session("graft-bench-stream",
      "spark.sql.shuffle.partitions" -> StatePartitions.toString)

    // ---- replay corpora (written once; timings only read them) ------
    val docs = Catalog.load(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val docsDir = replayDir("docs")
    writeReplay(docs, docsDir, 4, "doc_id")
    val docsSchema = docs.schema

    val events = Catalog.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val eventsDir = replayDir("events")
    writeReplay(events, eventsDir, 4, "event_id")
    val eventsSchema = events.schema

    val vecs = Catalog.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val vecsDir = replayDir("vecs")
    writeReplay(vecs, vecsDir, 4, "vec_id")
    val vecsSchema = vecs.schema

    // change stream derived from orders: ~1/8 of keys collide across
    // batches (updates), ~1% tombstones, seq = the order key
    val changes = Catalog.load(spark, sfDir, "orders").select(
      (col("o_orderkey") % 20000L).as("k"),
      col("o_totalprice").as("price"),
      col("o_orderstatus").as("status"),
      col("o_orderkey").as("seq"),
      (col("o_orderkey") % 97L === 0L).as("deleted"))
    val cdcDir = replayDir("cdc")
    writeReplay(changes, cdcDir, 4, "seq")
    val cdcSchema = changes.schema

    def fileStream(dir: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dir)

    val benchGrams = graft.streaming.ContaminationStream
      .benchmarkGrams(docs.where(col("source") === "src0"))
      .localCheckpoint(true) // index-sized; exclude its build from timings

    // psi_drift's frozen baseline (r17b): the first-half histogram,
    // types × 10 bins — built once outside the timings, exactly as a
    // monitoring deployment freezes its reference
    val psiCut = events.agg(date_add(min(to_date(col("ts"))), 15)).head.getDate(0)
    val psiRef = graft.streaming.PsiDriftStream
      .referenceHist(events.where(to_date(col("ts")) <= lit(psiCut)))
      .localCheckpoint(true)

    // ann_serve's standing artifacts (train-once/serve-many: built once
    // OUTSIDE the timings, exactly as a serving deployment would):
    // IVF centroids + the list-partitioned corpus layout. Queries = the
    // embeddings replayed as 4 micro-batches of (qid, embedding).
    val annCents = graft.llm.Ann.ivfTrain(vecs, nLists = 16, dim = 64)
    val annCorpusDir = replayDir("ann-corpus")
    graft.sources.Layout.writeIvfPartitioned(vecs, annCorpusDir, annCents)
    val annQueries = vecs.select(col("vec_id").as("qid"), col("embedding"))
    val annQDir = replayDir("ann-queries")
    writeReplay(annQueries, annQDir, 4, "qid")
    val annQSchema = annQueries.schema
    // the bulk LUT tier's standing artifacts (r17): PQ codebooks on the
    // SAME coarse centroids + the encoded layout — also built outside
    // the timings, the train-once posture
    val annPq = graft.llm.Ann.pqTrain(vecs, nLists = 16, dim = 64,
      centroids = Some(annCents))
    val annEncDir = replayDir("ann-enc")
    graft.sources.Layout.writeIvfEncodedPartitioned(vecs, annEncDir, annPq)

    var rep = 0
    def drain(df: DataFrame, mode: String): Unit = {
      rep += 1
      val q = df.writeStream.format("memory").queryName(s"bs_$rep")
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.catalog.dropTempView(s"bs_$rep")
    }

    val ops: Seq[(String, () => Unit)] = Seq(
      "neardup" -> { () =>
        drain(graft.streaming.NearDupStream
          .nearDupFlags(fileStream(docsDir, docsSchema), maxHamming = 6), "append")
      },
      "phash_neardup" -> { () =>
        drain(graft.streaming.NearDupStream.phashNearDupFlags(
          fileStream(vecsDir, vecsSchema)
            .select(col("vec_id").as("media_id"), col("embedding")),
          maxHamming = 15), "append")
      },
      "funnel" -> { () =>
        drain(graft.streaming.EventStream
          .funnel(fileStream(eventsDir, eventsSchema)), "update")
      },
      "interval_join" -> { () =>
        drain(graft.streaming.EventStream
          .clickPurchaseJoin(fileStream(eventsDir, eventsSchema)), "append")
      },
      "contamination" -> { () =>
        drain(graft.streaming.ContaminationStream
          .contaminationHits(fileStream(docsDir, docsSchema), benchGrams), "update")
      },
      "trending" -> { () =>
        drain(graft.streaming.EventStream
          .trendingCounts6h(fileStream(eventsDir, eventsSchema)), "update")
      },
      "burn_rate" -> { () =>
        drain(graft.streaming.EventStream
          .burnRate6h(fileStream(eventsDir, eventsSchema)), "update")
      },
      "psi_drift" -> { () =>
        // stateful types×10-bin histogram folded over the replay, then
        // the PSI pass vs the frozen reference — timing covers the
        // drain AND the score, the full monitor cycle
        rep += 1
        val name = s"bs_psi_$rep"
        val q = graft.streaming.PsiDriftStream
          .currentHist(fileStream(eventsDir, eventsSchema))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        graft.streaming.PsiDriftStream.psi(spark.table(name), psiRef).collect()
        spark.catalog.dropTempView(name)
      },
      "minibatch_kmeans" -> { () =>
        // fresh model per drain: the timing covers seed + 4 folds
        graft.streaming.KMeansStream.drain(spark,
          fileStream(vecsDir, vecsSchema)); ()
      },
      "ann_serve" -> { () =>
        // per-batch top-10 @ nProbe=4 over the standing partitioned
        // layout + loaded centroids (streaming/AnnServeStream) — the
        // timing covers 4 query batches end-to-end, answers included
        graft.streaming.AnnServeStream.drain(spark,
          fileStream(annQDir, annQSchema), annCorpusDir, annCents,
          k = 10, nProbe = 4); ()
      },
      "ann_serve_lut" -> { () =>
        // the bulk route (r17): same query replay, IVFADC LUT scoring
        // over the encoded layout + k×refine exact rerank on the raw
        // one — the standing number for the corpus-shaped batch tier
        graft.streaming.AnnServeStream.drainLut(spark,
          fileStream(annQDir, annQSchema), annCorpusDir, annEncDir, annPq,
          k = 10, nProbe = 4); ()
      },
      "cdc_apply" -> { () =>
        val table = replayDir(s"cdc-table-$rep")
        rep += 1
        val t = new java.io.File(table)
        if (t.exists()) new scala.reflect.io.Directory(t).deleteRecursively()
        val q = fileStream(cdcDir, cdcSchema).writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.streaming.CdcStream.applyBatch(spark, table, b, "k",
              txnId = Some(id.toString)); ()
          }.start()
        q.awaitTermination()
        new scala.reflect.io.Directory(new java.io.File(table)).deleteRecursively()
      })

    // SPARK_GRAFT_STREAM_OPS=a,b: run a subset — the 10× streaming soak
    // (VERDICT r10 #6) times only the two state-heavy ops on the soak
    // corpus instead of paying the full suite at 10×.
    val wanted = sys.env.get("SPARK_GRAFT_STREAM_OPS")
      .map(_.split(",").map(_.trim).toSet)
    // an op name that matches nothing must fail, not silently shrink
    // the suite: a typo'd subset would otherwise publish its sum under
    // the same metric name as the full suite and corrupt the trend
    wanted.foreach { ws =>
      val known = ops.map(_._1).toSet
      val unknown = ws.diff(known)
      require(unknown.isEmpty, s"SPARK_GRAFT_STREAM_OPS names unknown " +
        s"ops: ${unknown.toSeq.sorted.mkString(",")} (known: " +
        s"${known.toSeq.sorted.mkString(",")})")
    }
    val subset = wanted.isDefined
    // The paired control (VERDICT r12 #1, r16 #1): the q-suite oracles
    // timed in THIS process — a drift control, not an engine comparison
    // (DuckDB has no streaming; see PairedControl's scaladoc). A
    // long-lived warm DuckDB worker runs one FULL control pass
    // immediately after each op's timed drains, so every op's number
    // has a control sampled in the same weather (§46: a pre/post
    // bracket under-samples spikes inside the window). The paired term
    // is the median pass.
    val ctrlNames =
      SparkEntry.queries.keys.toSeq.filter(_.startsWith("q")).sorted
    val duckWorker = PairedControl.interleaved(sfDir, ctrlNames)
    def ctrlPass(): Option[Double] = duckWorker.flatMap { w =>
      val ts = ctrlNames.map(w.time)
      if (ts.forall(_.isDefined)) Some(ts.flatten.sum) else None
    }
    // raw per-rep walls ship in the artifact: two ops landing on the
    // same 4-decimal median (r16's minibatch_kmeans/cdc_apply, a real
    // 1-in-10⁴ coincidence) should be self-exoneratable from the
    // artifact, not require a code audit (VERDICT r16 "what's wrong")
    val rawWalls =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val opControls =
      scala.collection.mutable.LinkedHashMap.empty[String, Option[Double]]
    val medians = ops
      .filter { case (name, _) => wanted.forall(_.contains(name)) }
      .map { case (name, f) =>
      f() // warm-up: JIT, codegen, footers
      val t = Harness.median3(f())
      rawWalls(name) = t.walls
      opControls(name) = ctrlPass() // adjacent: same weather as the drains
      name -> t.median
    }
    duckWorker.foreach(_.close())
    val js = medians.map { case (k, v) => s""""$k":${"%.4f".format(v)}""" }
      .mkString("{", ",", "}")
    val wallsJs = rawWalls.map { case (k, ws) =>
      s""""$k":${ws.map("%.4f".format(_)).mkString("[", ",", "]")}""" }
      .mkString("{", ",", "}")
    def num(o: Option[Double]) = o.map("%.4f".format(_)).getOrElse("null")
    val ctrlJs = opControls.map { case (k, c) => s""""$k":${num(c)}""" }
      .mkString("{", ",", "}")
    val total = medians.map(_._2).sum
    // an op without a full control pass (the worker missing or dead)
    // leaves the pair null, with `paired_mode` "none": a median over
    // some ops' controls is not the suite's control
    val paired: Option[Double] = {
      val ps = opControls.values.flatten.toSeq
      if (opControls.nonEmpty && opControls.values.forall(_.isDefined))
        Some(ps.sorted.apply(ps.length / 2))
      else None
    }
    val pairedMode = if (paired.isDefined) "interleaved" else "none"
    val pairedRatio = paired.map(total / _)
    // subset runs get their own metric name for the same reason
    val metric = if (subset) "stream_subset_total" else "stream_suite_total"
    println(s"""{"metric":"$metric","value":${"%.4f".format(total)},"unit":"sec","ops":$js,"walls":$wallsJs,"op_controls":$ctrlJs,"sf":"$sfDir","paired_control":"${PairedControl.ControlName}","paired_mode":"$pairedMode","paired_total":${num(paired)},"paired_ratio":${num(pairedRatio)}}""")
    // tail-proof headline (VERDICT r16 #2), same contract as Bench's
    println(s"""{"metric":"headline","value":${"%.4f".format(total)},"unit":"sec","set":"stream","ops_n":${medians.size},"paired_mode":"$pairedMode","paired_total":${num(paired)},"paired_ratio":${num(pairedRatio)}}""")
    spark.stop()
  }
}
