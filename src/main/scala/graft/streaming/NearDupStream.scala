package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming near-duplicate filter: the incremental form of x53's batch
  * SimHash dedup, for ingest pipelines that must drop near-dups as
  * documents ARRIVE (continuous crawl ingestion) instead of re-running a
  * corpus-wide batch join.
  *
  * Semantics (greedy keep-first, the streaming dedup contract): a doc is
  * flagged duplicate iff some EARLIER-arriving doc is within `maxHamming`
  * of its 64-bit SimHash. Every arrival's signature enters state whether
  * kept or dropped, so chains collapse onto their first arrival (A~B,
  * B~C drops both B and C even when A≁C) — the same transitive behavior
  * the batch side gets from x111's connected components when arrival
  * order is id order. On a bounded ordered replay the kept set equals
  * the batch rule "doc b is dropped iff some pair (a, b) with a < b" over
  * [[graft.llm.Dedup.simHashNearDups]]'s pair list — spec-checked.
  *
  * Mechanics, mirroring the batch operator's banding exactly:
  *  - SimHash is the native expression (one Scala kernel, called from
  *    generated code), row-local on arrival.
  *  - The signature is banded into (maxHamming+1) chunks; pigeonhole
  *    guarantees two sigs within the radius share at least one exact
  *    chunk, so grouping by (chunk, chunkBits) routes every potential
  *    pair through at least one shared state bucket. Candidates are then
  *    verified with the exact 64-bit Hamming distance inside the bucket —
  *    banding only gates WHERE comparisons happen, never the answer.
  *  - Each bucket is a flatMapGroupsWithState group whose state is the
  *    signature list of prior arrivals; per micro-batch the group emits
  *    (doc_id, dupInThisBucket) with rows processed in doc_id order for
  *    within-batch determinism.
  *  - A doc lands in maxHamming+1 buckets; the per-doc verdict is the OR
  *    of its bucket flags. All of a doc's bucket rows are produced by
  *    the same input row, hence the same micro-batch, so the OR needs
  *    NO memory of other batches: it runs as a second keyed
  *    flatMapGroupsWithState that never writes state — one shuffle of
  *    (docId, flag) pairs, an empty state store, verdicts emitted in
  *    the same micro-batch (drain in append mode). A streaming
  *    groupBy(doc_id).agg(max(...)) would compute the same OR but
  *    retain one state row PER DISTINCT DOC EVER SEEN with no
  *    watermark to expire it — an unbounded leak that would eventually
  *    OOM an ingest pipeline no matter what `maxPerBucket` is set to.
  *
  * Scale notes: state is sharded by bucket across executors (no global
  * structure); volume is one (docId, sig) pair per doc per band —
  * 16 bytes × (maxHamming+1) per doc, and NOTHING per doc downstream
  * (the verdict stage is stateless by construction). On an unbounded
  * crawl, bound it with `maxPerBucket` (ring-buffer eviction of the
  * oldest signatures, trading exactness for a hard memory cap) —
  * boilerplate-heavy buckets are the same skew hotspot the batch band
  * join has, and cap first.
  */
object NearDupStream {

  /** docs (streaming; doc_id long, text string) →
    * (doc_id, is_dup) — drain in "append" output mode. */
  def nearDupFlags(docs: DataFrame, maxHamming: Int = 6,
                   maxPerBucket: Int = Int.MaxValue): DataFrame = {
    sigNearDupFlags(
      docs.select(col("doc_id"),
        graft.functions.SimHash64(split(col("text"), " ")).as("simhash")),
      sigBits = 64, maxHamming = maxHamming, maxPerBucket = maxPerBucket)
  }

  /** The multimodal front (r13): streaming grid vectors (`media_id`,
    * `embedding array<float>`) flagged against the accumulated corpus
    * by 64-bit perceptual aHash — continuous image-ingest dedup through
    * the SAME bucket-state machinery as the text path. Pair with
    * [[graft.multimodal.Multimodal.decodeFeatures]] upstream to start
    * from raw blobs (mapPartitions decode works on streaming Datasets). */
  def phashNearDupFlags(vecs: DataFrame, maxHamming: Int = 7,
                        maxPerBucket: Int = Int.MaxValue): DataFrame =
    sigNearDupFlags(
      vecs.select(col("media_id").as("doc_id"),
        graft.functions.AHash64(col("embedding")).as("simhash")),
      sigBits = 64, maxHamming = maxHamming, maxPerBucket = maxPerBucket)

  /** The generic core, shared by the text (SimHash64) and multimodal
    * (AHash64) fronts: any streaming (doc_id, simhash) table, pigeonhole-
    * banded greedy keep-first flagging with per-bucket signature state. */
  def sigNearDupFlags(sigs: DataFrame, sigBits: Int, maxHamming: Int,
                      maxPerBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < sigBits,
      s"maxHamming must be in [0, ${sigBits - 1}] (got $maxHamming): " +
        "pigeonhole banding needs maxHamming+1 chunks of >= 1 bit")
    val spark = sigs.sparkSession
    import spark.implicits._
    val chunks = maxHamming + 1
    val width = sigBits / chunks
    // 1L << 64 wraps to 1 (Scala shifts mod 64), so the full-width case
    // (maxHamming = 0: ONE 64-bit chunk = exact-duplicate banding) needs
    // the all-ones mask spelled out — (1L << 64) - 1 would collapse
    // every signature into bucket 0
    val mask = if (width >= 64) -1L else (1L << width) - 1

    val banded = sigs
      .select(col("doc_id"), col("simhash"),
        explode(array((0 until chunks).map { c =>
          // bucket id = chunk index ⊕ that chunk's bits, packed in a long
          (shiftright(col("simhash"), c * width)
            .bitwiseAND(mask) + lit(if (width >= 63) 0L else c.toLong << (width + 1)))
            .as(s"b$c")
        }: _*)).as("bucket"))

    val flagged = banded.as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Seq[(Long, Long)], (Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        var seen = state.getOption.getOrElse(Seq.empty)
        val out = rows.toSeq.sortBy(_._1).map { case (docId, sig, _) =>
          val dup = seen.exists { case (_, s) =>
            java.lang.Long.bitCount(s ^ sig) <= maxHamming }
          seen = (seen :+ (docId, sig)).takeRight(maxPerBucket)
          (docId, dup)
        }
        state.update(seen)
        out.iterator
      }
      .toDF("doc_id", "dup_in_bucket")

    // per-doc OR with ZERO retained state: a doc's bucket rows all come
    // from one input row, so they land in one micro-batch and one group
    // invocation — state is never written, the store stays empty. (A
    // streaming agg here would leak one state row per doc_id forever.)
    flagged.as[(Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (docId, rows, _) =>
        Iterator.single((docId, rows.exists(_._2)))
      }
      .toDF("doc_id", "is_dup")
  }
}
