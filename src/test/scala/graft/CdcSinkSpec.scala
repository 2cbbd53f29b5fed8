package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.streaming.CdcStream

/** The CDC sink's single-pass commit: nothing cached per batch, a batch
  * rewrites only its keys' buckets, and tables written before this
  * commit path read and extend unchanged. */
class CdcSinkSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Long, Double, String, Long, Boolean)*): DataFrame =
    rows.toDF("k", "price", "status", "seq", "deleted")
  private def fresh(path: String): String = {
    val t = new File(path)
    if (t.exists()) new scala.reflect.io.Directory(t).deleteRecursively()
    path
  }
  private def bucketOf(k: Long): Int = Seq(k).toDF("k")
    .select(pmod(xxhash64(col("k")), lit(16L)).cast("int")).head().getInt(0)
  private def rows(d: DataFrame) = d.orderBy("k").collect()
    .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3))).toSeq

  test("applyBatch persists nothing and leaves no cached RDD behind") {
    val table = fresh("/tmp/graft-cdc-nocache")
    val rddBlocks = new java.util.concurrent.atomic.AtomicInteger()
    val blocks = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD) rddBlocks.incrementAndGet()
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val l = Harness.listen(spark)
    spark.sparkContext.addSparkListener(blocks)
    try {
      CdcStream.applyBatch(spark, table,
        df((1L, 1.0, "a", 1L, false), (2L, 2.0, "a", 2L, false), (1L, 1.5, "b", 3L, false)), "k")
      CdcStream.applyBatch(spark, table,
        df((2L, 0.0, "d", 4L, true), (3L, 3.0, "a", 5L, false)), "k")
      l.quiesce()
    } finally {
      spark.sparkContext.removeSparkListener(blocks)
      spark.sparkContext.removeSparkListener(l)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(rddBlocks.get == 0, "a micro-batch cached RDD blocks")
    assert(rows(CdcStream.latest(spark, table).get) ==
      Seq((1L, 1.5, "b", 3L), (3L, 3.0, "a", 5L)))
  }

  test("a batch whose keys share one bucket rewrites exactly that bucket") {
    val table = fresh("/tmp/graft-cdc-onebucket")
    CdcStream.applyBatch(spark, table,
      df((0L until 200L).map(k => (k, k.toDouble, "a", k, false)): _*), "k")
    val target = bucketOf(7L)
    val same = (0L until 400L).filter(k => bucketOf(k) == target)
    // two updates of live keys, a tombstone, and a new key, all in one bucket
    val Seq(u1, u2, d) = same.filter(_ < 200L).take(3)
    val ins = same.find(_ >= 200L).get
    CdcStream.applyBatch(spark, table, df((u1, -1.0, "u", 1000L, false),
      (u2, -2.0, "u", 1001L, false), (d, 0.0, "d", 1002L, true),
      (ins, -3.0, "i", 1003L, false)), "k")
    val (m0, m1) = (CdcStream.bucketDirs(spark, table, 0), CdcStream.bucketDirs(spark, table, 1))
    val diff = m1.filter { case (b, dir) => !m0.get(b).contains(dir) }
    assert(diff.keySet == Set(target), s"rewritten: $diff")
    assert(m1.keySet == m0.keySet)
    val got = CdcStream.latest(spark, table).get
    assert(got.count() == 200L)
    assert(rows(got.where(col("k").isin(u1, d, ins))) ==
      Seq((u1, -1.0, "u", 1000L), (ins, -3.0, "i", 1003L)).sortBy(_._1))
  }

  test("a table written by the previous commit path reads and extends unchanged") {
    // src/test/resources/cdc-parent-table: three versions written at
    // /tmp/graft-cdc-parent-fixture by the commit path that persisted
    // the deduped batch and wrote through the stock local filesystem;
    // its manifests hold absolute bucket paths, so it is restored there
    val table = fresh("/tmp/graft-cdc-parent-fixture")
    val src = new File(getClass.getResource("/cdc-parent-table").toURI).toPath
    Files.walk(src).forEach { p =>
      val to = new File(table, src.relativize(p).toString).toPath
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }
    // its writes: keys 1..20 at seq k; then keys 1..4 updated (seq
    // 100+k) and 5, 6 deleted; then 5 re-inserted (seq 200), 2 updated
    val v1 = (1L to 4L).map(k => (k, k * 2.5, "U", 100 + k)) ++
      (7L to 20L).map(k => (k, k * 1.5, "N", k))
    val v2 = (v1.filter(_._1 != 2L) ++ Seq((2L, 22.0, "U", 201L), (5L, 55.0, "R", 200L)))
      .sortBy(_._1)
    assert(CdcStream.versions(spark, table) == Seq(0L, 1L, 2L))
    assert(rows(CdcStream.readVersion(spark, table, 1)) == v1)
    assert(rows(CdcStream.latest(spark, table).get) == v2)
    // the committed txn still makes its replay a no-op
    assert(CdcStream.applyBatch(spark, table, df((9L, 9.0, "x", 999L, false)), "k",
      txnId = Some("2")) == 2L)
    // extend: a stale change loses to the retained tombstone of key 6,
    // a newer one updates key 3, key 4 is deleted, key 30 is new
    val m2 = CdcStream.bucketDirs(spark, table, 2)
    assert(CdcStream.applyBatch(spark, table, df((6L, 6.0, "stale", 50L, false),
      (3L, 33.0, "U", 300L, false), (4L, 0.0, "D", 301L, true),
      (30L, 30.0, "N", 302L, false)), "k", txnId = Some("3")) == 3L)
    val v3 = (v2.filterNot(r => r._1 == 3L || r._1 == 4L) ++
      Seq((3L, 33.0, "U", 300L), (30L, 30.0, "N", 302L))).sortBy(_._1)
    assert(rows(CdcStream.latest(spark, table).get) == v3)
    val m3 = CdcStream.bucketDirs(spark, table, 3)
    val touched = Set(6L, 3L, 4L, 30L).map(bucketOf)
    assert(m3.keySet == m2.keySet ++ touched)
    m2.keySet.diff(touched).foreach(b => assert(m3(b) == m2(b), s"bucket $b"))
    assert(rows(CdcStream.readVersion(spark, table, 2)) == v2)
  }
}
