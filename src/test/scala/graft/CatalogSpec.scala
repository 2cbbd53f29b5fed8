package graft

import java.io.File
import java.nio.file.Files

/** Catalog registration on fresh sessions: parquet schemas are inferred
  * once per source and reused until the source changes. */
class CatalogSpec extends SparkSpec {

  /** Spark jobs `f` starts, counted by the harness listener. */
  private def jobsOf(f: => Unit): Int = {
    val l = Harness.listen(spark)
    try {
      val c0 = l.quiesce()
      f
      (l.quiesce() - c0).jobs
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a second fresh session's ensure starts no Spark job and sees equal schemas") {
    val s1 = spark.newSession()
    Catalog.ensure(s1, sf0001)
    val s2 = spark.newSession()
    assert(jobsOf(Catalog.ensure(s2, sf0001)) == 0)
    Catalog.tables.foreach { t =>
      assert(s2.table(t).schema == s1.table(t).schema, t)
      // the cached schema is the one inference gives under these confs
      assert(s2.table(t).queryExecution.analyzed.collectLeaves().map(_.schema) ==
        s2.read.parquet(s"$sf0001/$t.parquet").queryExecution.analyzed
          .collectLeaves().map(_.schema), t)
    }
  }

  test("touching a source's mtime makes the next ensure infer that table again") {
    val dir = Files.createTempDirectory("graft-catalog").toFile
    Catalog.tables.foreach { t =>
      Files.copy(new File(sf0001, s"$t.parquet").toPath, new File(dir, s"$t.parquet").toPath)
    }
    val path = dir.getAbsolutePath
    assert(jobsOf(Catalog.ensure(spark.newSession(), path)) >= Catalog.tables.size)
    assert(jobsOf(Catalog.ensure(spark.newSession(), path)) == 0)
    val orders = new File(dir, "orders.parquet")
    assert(orders.setLastModified(orders.lastModified() + 5000L))
    assert(jobsOf(Catalog.ensure(spark.newSession(), path)) == 1)
    assert(jobsOf(Catalog.ensure(spark.newSession(), path)) == 0)
  }
}
