package graft

import org.apache.spark.sql.SparkSession

/** The concurrent-submission surface (Pipeline.concurrent — VERDICT
  * r14 #6): concurrency must change scheduling only, never results,
  * and failures must surface, never vanish into a worker thread. */
class ConcurrencySpec extends SparkSpec {

  test("Pipeline.concurrent: 4-thread run returns sequential-identical results") {
    // a mix of shapes: broadcast joins, windows, aggregations, JSON
    val names = Seq("q05_histogram", "q10_topk_users", "q16_multiway_join",
      "q25_ranking", "q31_sessionization", "q39_json_extract",
      "x113_tfidf_topk", "x138_funnel")
    Catalog.ensure(spark, sf0001)
    val tasks = names.map(n => n -> ((s: SparkSession) =>
      SparkEntry.queries(n)(s, sf0001).collect().map(_.toString).toSeq))
    val sequential = tasks.map { case (n, f) => n -> f(spark) }.toMap
    val concurrent = Pipeline.concurrent(spark, tasks, threads = 4)
    assert(concurrent.keySet == sequential.keySet)
    names.foreach { n =>
      assert(concurrent(n) == sequential(n), s"$n diverged under concurrency")
    }
  }

  test("Pipeline.concurrent: duplicate task names are rejected upfront, null results carried") {
    val e = intercept[IllegalArgumentException](Pipeline.concurrent(spark,
      Seq[(String, SparkSession => Int)]("a" -> (_ => 1), "a" -> (_ => 2)), 2))
    assert(e.getMessage.contains("duplicate task names"))
    // a legitimately-null result must come back as null, not crash the runner
    val r = Pipeline.concurrent(spark,
      Seq[(String, SparkSession => String)]("n" -> (_ => null), "s" -> (_ => "x")), 2)
    assert(r("n") == null && r("s") == "x")
  }

  test("Pipeline.concurrent: a task failure is rethrown, not swallowed") {
    val tasks: Seq[(String, SparkSession => Int)] = Seq(
      "ok" -> (_ => 1),
      "boom" -> (_ => throw new RuntimeException("boom")),
      "ok2" -> (_ => 2))
    val e = intercept[RuntimeException](
      Pipeline.concurrent(spark, tasks, threads = 2))
    assert(e.getMessage == "boom")
  }
}
