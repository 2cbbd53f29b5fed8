package graft

/** The measurement harness's own contracts: the core-count parser fails
  * loudly, the timer reports what it ran, the listener counts the
  * stages the per-stage probe divides by, and its codegen count sees a
  * cache miss but not a hit. */
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
}
