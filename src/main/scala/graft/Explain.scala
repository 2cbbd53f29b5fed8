package graft

/** Dev utility: run the flagship entry + selected queries, print each
  * query's row count, the engine work its collect executed (stages,
  * tasks, jobs, executor run time — the per-query columns of SCALE.md
  * §37.2's stage audit, one cold run), and its optimized and formatted
  * physical plans (for shuffle/pushdown/codegen iteration).
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q16_multiway_join")
    val spark = Harness.session("graft-explain", "spark.log.level" -> "WARN")

    val e = SparkEntry.entry(spark)
    println(s"[explain] entry rows=${e.count()}")

    val counter = Harness.listen(spark)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val c0 = counter.quiesce()
      val (sec, rows) = Harness.timed(df.collect().length)
      val c = counter.quiesce() - c0
      println(f"\n==== $n rows=$rows wall=${sec * 1000}%.1f ms " +
        s"stages=${c.stages} tasks=${c.tasks} jobs=${c.jobs} " +
        s"exec_ms=${c.executorRunMs} ====")
      println(df.queryExecution.optimizedPlan.treeString)
      df.explain("formatted")
    }
    spark.stop()
  }
}
