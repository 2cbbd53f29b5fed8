package graft

import org.apache.spark.sql.functions._
import graft.sources.BloomSkip

/** Contract for the Bloom-filter skipping index (sources/BloomSkip.scala):
  * no false negatives ever, real pruning on the hash-bucketed layout
  * where min/max zones are blind, and the bounded-driver fallback. The
  * x242 oracle entry hash-checks the end-to-end lookup against DuckDB;
  * this spec pins the structural invariants a value-equal result can't
  * see (which files were read, skip ratio, fallback behavior). */
class BloomSkipSpec extends SparkSpec {

  private val dir = "/tmp/graft-test-bloomskip"

  private def bucketedOrders() = {
    val ord = Catalog.load(spark, sf0001, "orders")
    ord.repartition(8, col("o_custkey")).write.mode("overwrite").parquet(dir)
    ord
  }

  test("no false negatives: every present key's lookup equals the plain filter") {
    val ord = bucketedOrders()
    val idx = BloomSkip.build(spark, dir, "o_custkey").cache()
    try {
      val keys = ord.select("o_custkey").distinct().limit(20)
        .collect().map(_.getLong(0))
      keys.foreach { k =>
        val got = BloomSkip.readEq(spark, idx, "o_custkey", k)
          .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
        val want = spark.read.parquet(dir).where(col("o_custkey") === k)
          .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
        assert(got == want, s"key $k: bloom-skipped read diverged")
        assert(want.nonEmpty, s"key $k chosen FROM the table must have rows")
      }
    } finally idx.unpersist()
  }

  test("prunes on the hash layout where min/max zones cannot") {
    bucketedOrders()
    val idx = BloomSkip.build(spark, dir, "o_custkey").cache()
    try {
      val files = graft.sources.SkipIndex.listDataFiles(spark, dir)
      assert(files.size == 8, s"expected 8 bucket files, got ${files.size}")
      // the min/max zone map is blind here: every file spans ~the whole
      // key domain (hash placement), so range pruning keeps everything
      val zones = graft.sources.SkipIndex.build(spark, dir, Seq("o_custkey"))
      val zoneKept = graft.sources.SkipIndex
        .candidateFiles(zones, "o_custkey", lit(101L), lit(101L))
      assert(zoneKept.size == files.size,
        s"hash layout should defeat the zone map, kept ${zoneKept.size}")
      // the bloom index must do strictly better: a present key hashes to
      // exactly ONE bucket file, so the candidate set should be well
      // under the file count (false positives allowed, blindness not)
      val keys = spark.read.parquet(dir).select("o_custkey").distinct()
        .limit(50).collect().map(_.getLong(0))
      val avgCand = keys.map { k =>
        BloomSkip.candidates(idx, k).count()
      }.sum.toDouble / keys.length
      assert(avgCand <= 3.0,
        s"avg candidate files $avgCand for a 1-bucket key — filter too weak")
      // an absent key should usually prune to zero (m=2^16, k=4, a few
      // thousand keys/file → false-positive rate well under 1%)
      val absent = (1 to 20).map(i => 10000000L + i)
        .map(k => BloomSkip.candidates(idx, k).count()).sum
      assert(absent <= 2, s"absent keys matched $absent candidate files")
    } finally idx.unpersist()
  }

  test("empty candidate set returns a schema-preserving empty frame") {
    bucketedOrders()
    val idx = BloomSkip.build(spark, dir, "o_custkey")
    val out = BloomSkip.readEq(spark, idx, "o_custkey", 999999999L)
    assert(out.columns.toSeq == spark.read.parquet(dir).columns.toSeq)
    assert(out.count() == 0)
  }

  test("driver bound: over-limit candidate lists fall back to the full scan") {
    val ord = bucketedOrders()
    val idx = BloomSkip.build(spark, dir, "o_custkey")
    val k = ord.select("o_custkey").limit(1).collect().head.getLong(0)
    // maxDriverFiles=0 forces the fallback path; results must not change
    val got = BloomSkip.readEq(spark, idx, "o_custkey", k, maxDriverFiles = 0)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = spark.read.parquet(dir).where(col("o_custkey") === k)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "fallback read must equal the plain filter")
  }

  test("manifest is lane-bounded: at most k * ceil(m/64) rows per file") {
    bucketedOrders()
    val m = 1 << 16; val k = 4
    val idx = BloomSkip.build(spark, dir, "o_custkey", m, k)
    val perFile = idx.groupBy("file").count().agg(max("count")).head().getLong(0)
    assert(perFile <= k.toLong * (m / 64),
      s"manifest rows per file $perFile exceeds the dense bound")
  }

  // x242 writes its bucketed copy of orders and the copy's Bloom manifest
  // once per source corpus. Every part-file name carries its write job's
  // id, so a rewrite would change the names.
  test("x242: a second build starts no write job and keeps its part files") {
    val root = new java.io.File(s"/tmp/graft_bloom/${Catalog.cacheKey(sf0001)}")
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    def parts = Seq("orders", "orders_bloom").flatMap { d =>
      Option(new java.io.File(root, d).list).toSeq.flatten.filter(_.startsWith("part-")).map(s"$d/" + _)
    }.sorted
    val writes = new java.util.concurrent.atomic.AtomicInteger
    val recorder = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(recorder)
    // on the same listener bus: once its counters settle, the recorder
    // has seen every event posted before them
    val bus = Harness.listen(spark)
    def build(): Int = {
      bus.quiesce()
      val w0 = writes.get
      SparkEntry.queries("x242_bloom_skip")(spark, sf0001)
      bus.quiesce()
      writes.get - w0
    }
    try {
      assert(build() == 2)
      val first = parts
      assert(first.exists(_.startsWith("orders/")) && first.exists(_.startsWith("orders_bloom/")), first)
      assert(build() == 0)
      assert(parts == first)
    } finally {
      spark.sparkContext.removeSparkListener(recorder)
      spark.sparkContext.removeSparkListener(bus)
    }
  }
}
