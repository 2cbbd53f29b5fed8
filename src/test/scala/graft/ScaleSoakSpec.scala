package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The soak's N× corpus builder and its argument check: the copy keeps
  * the dims and every key reference, resumes a cut build per table, and
  * bad arguments fail before any session starts. */
class ScaleSoakSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val out = Files.createTempDirectory("graft-soak").toString + "/x2"
  private lazy val firstBuild = ScaleSoak.buildFull(spark, sf0001, out, 2)

  override def afterAll(): Unit = {
    val d = new java.io.File(out).getParentFile
    if (d.exists()) new scala.reflect.io.Directory(d).deleteRecursively()
    super.afterAll()
  }

  private def rows(dir: String, t: String): Long = Catalog.load(spark, dir, t).count()

  test("buildFull at 2x: replicated tables double, dims are copied unchanged") {
    assert(firstBuild == Catalog.tables)
    val dims = Set("region", "nation", "part", "supplier")
    Catalog.tables.foreach { t =>
      val want = if (dims(t)) rows(sf0001, t) else 2 * rows(sf0001, t)
      assert(rows(out, t) == want, t)
    }
    dims.foreach { t =>
      val a = Catalog.load(spark, sf0001, t)
      val b = Catalog.load(spark, out, t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
  }

  test("buildFull at 2x: every l_orderkey joins an order, every o_custkey a customer") {
    firstBuild
    val li = Catalog.load(spark, out, "lineitem")
    val ord = Catalog.load(spark, out, "orders")
    val cust = Catalog.load(spark, out, "customer")
    assert(li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti").isEmpty)
    assert(ord.join(cust, col("o_custkey") === col("c_custkey"), "left_anti").isEmpty)
    assert(ord.select("o_orderkey").distinct().count() == ord.count())
  }

  test("buildFull at 2x: x363 returns identical rows at 1x and 2x") {
    firstBuild
    def x363(dir: String) = SparkEntry.queries("x363_kmv_source_jaccard")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val at1 = x363(sf0001)
    assert(at1.nonEmpty)
    assert(x363(out) == at1)
  }

  test("buildFull: only a table whose _SUCCESS marker is missing is rewritten") {
    firstBuild
    assert(ScaleSoak.buildFull(spark, sf0001, out, 2).isEmpty)
    Files.delete(java.nio.file.Paths.get(s"$out/embeddings.parquet/_SUCCESS"))
    val docs = new java.io.File(s"$out/documents.parquet/_SUCCESS").lastModified
    assert(ScaleSoak.buildFull(spark, sf0001, out, 2) == Seq("embeddings"))
    assert(new java.io.File(s"$out/documents.parquet/_SUCCESS").lastModified == docs)
    assert(rows(out, "embeddings") == 2 * rows(sf0001, "embeddings"))
  }

  private def rejects(args: String*)(needle: String): Unit = {
    val e = intercept[IllegalArgumentException](ScaleSoak.parseArgs(args))
    assert(e.getMessage.contains(needle), e.getMessage)
  }

  test("parseArgs: --scale N and an entry list") {
    assert(ScaleSoak.parseArgs(Seq("--scale", "10", "q01_count", "x179_kcore_peel")) ==
      ScaleSoak.Args(10, Seq("q01_count", "x179_kcore_peel")))
    assert(ScaleSoak.parseArgs(Seq("q01_count", "--scale", "2")) ==
      ScaleSoak.Args(2, Seq("q01_count")))
  }

  test("parseArgs: an unknown entry fails, naming it; so does a former tier name") {
    rejects("--scale", "2", "q01_count", "q99_nope")("q99_nope")
    Seq("heavy", "profiler", "full", "rebuild", "skipwinnow", "r17tier").foreach { t =>
      rejects("--scale", "10", t)(t)
    }
  }

  test("parseArgs: an exact baseline fails at N > 1, naming it") {
    rejects("--scale", "2", "q01_count", "x48_jaccard_topk")("x48_jaccard_topk")
  }

  test("parseArgs: --scale missing, non-integer or below 2 fails, naming the value") {
    rejects("q01_count")("--scale")
    rejects("q01_count", "--scale")("--scale")
    rejects("--scale", "ten", "q01_count")("'ten'")
    rejects("--scale", "1", "q01_count")("got 1")
    rejects("--scale", "-3", "q01_count")("got -3")
  }

  test("parseArgs: an empty entry list fails") {
    rejects("--scale", "4")("no entry")
  }

  /** settledHeapMb over fake post-scrub readings: (result, scrubs run). */
  private def settle(readings: Long*): (Long, Int) = {
    val it = readings.iterator
    var scrubs = 0
    val mb = ScaleSoak.settledHeapMb { () => scrubs += 1; it.next() }
    (mb, scrubs)
  }

  test("settledHeapMb: scrubs again while the heap still falls by 5% or more") {
    assert(settle(1122, 400, 90, 88, 70) == ((88L, 4)))
  }

  test("settledHeapMb: a drop of exactly 5% scrubs again, a smaller one stops") {
    assert(settle(100, 95, 50, 49, 10) == ((49L, 4)))
    assert(settle(100, 96, 10) == ((96L, 2)))
    assert(settle(78, 78, 10) == ((78L, 2)))
  }

  test("settledHeapMb: stops after MaxScrubs while the heap is still falling") {
    assert(settle(1000, 900, 800, 700, 600, 500, 400) == ((600L, ScaleSoak.MaxScrubs)))
  }
}
