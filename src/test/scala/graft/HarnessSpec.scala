package graft

import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The measurement harness's own contracts: the core-count parser fails
  * loudly, the timer reports what it ran, the listener counts the
  * stages the per-stage probe divides by, its codegen count sees a
  * cache miss but not a hit, and the codegen cache holds the q-suite. */
class HarnessSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS: a malformed value fails, naming the variable") {
    Seq("abc", "0", "-2", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Harness.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"'$v': ${e.getMessage}")
    }
  }

  test("SPARK_GRAFT_CPUS: unset means every available processor") {
    assert(Harness.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.parseCpus(Some("3")) == 3)
  }

  test("median3: three walls in run order, the first result, `between` after each rep") {
    var runs = 0
    var cleared = 0
    val t = Harness.median3({ runs += 1; runs }, cleared += 1)
    assert(runs == 3 && cleared == 3 && t.first == 1)
    assert(t.walls.length == 3 && t.walls.forall(_ >= 0.0))
    assert(t.median == t.walls.sorted.apply(1))
  }

  test("listener: the 2-stage probe query counts 2 stages and a job") {
    val l = Harness.listen(spark)
    try {
      val c0 = l.quiesce()
      spark.sql("SELECT id % 4 AS k, count(*) FROM range(0, 8, 1, 8) GROUP BY 1").collect()
      val d = l.quiesce() - c0
      assert(d.stages == 2, s"$d")
      assert(d.jobs >= 1 && d.tasks >= 9, s"$d")
      assert(d.maxTaskMs > 0 && d.maxTaskMs <= d.executorRunMs, s"$d")
      assert(d.spillBytes == 0L, s"$d")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(Harness.stageMs(spark, reps = 3) > 0.0)
  }

  test("codegen compiles: a fresh expression compiles, an immediate rerun compiles nothing") {
    // the salt is inlined into the generated code, so no earlier test
    // can have compiled this class
    val salt = System.nanoTime()
    val sql = s"SELECT id * ${salt}L AS v FROM range(0, 64, 1, 2) WHERE id % 7 <> ${salt % 7}"
    val l = Harness.listen(spark)
    try {
      val c0 = l.quiesce()
      spark.sql(sql).collect()
      val c1 = l.quiesce()
      spark.sql(sql).collect()
      val c2 = l.quiesce()
      assert((c1 - c0).codegenCompiles >= 1, s"${c1 - c0}")
      assert((c2 - c1).codegenCompiles == 0, s"${c2 - c1}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("codegen cache: sized before the first compile, an explicit size kept") {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val explicit = new SQLConf
    explicit.setConfString(key, "77")
    GraftExtensions.sizeCodegenCache(explicit, compiled = 0)
    assert(explicit.getConfString(key) == "77")
    val unset = new SQLConf
    GraftExtensions.sizeCodegenCache(unset, compiled = 0)
    assert(unset.getConfString(key) == GraftExtensions.CodegenCacheEntries.toString)
    val late = new SQLConf
    GraftExtensions.sizeCodegenCache(late, compiled = 5)
    assert(!late.contains(key))
    // the shared session came from Harness.session before any spec compiled
    assert(spark.sessionState.conf.getConfString(key) ==
      GraftExtensions.CodegenCacheEntries.toString)
  }

  // The q-suite's working set is about 400 generated classes (each
  // whole-stage class is cached once per class loader, driver and
  // executor), four times Spark's default cache of 100: with the default
  // every pass evicts the previous one and compiles it all again.
  test("codegen cache: a second pass over the 46 q-queries compiles nothing") {
    val names = SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    assert(names.size == 46)
    def pass(): Unit = names.foreach(n => SparkEntry.queries(n)(spark, sf0001).collect())
    val l = Harness.listen(spark)
    try {
      pass()
      val c1 = l.quiesce()
      pass()
      val d = l.quiesce() - c1
      assert(d.codegenCompiles == 0, s"second pass compiled ${d.codegenCompiles} classes")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
