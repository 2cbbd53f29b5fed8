package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** [[plans.SingleSplitScan]]: at one shuffle partition a file scan that
  * reads as one split is planned as one partition, so no exchange goes
  * in above it; every other scan, and every scan at another width, is
  * planned as Spark plans it, and no result changes. */
class SingleSplitScanSpec extends SparkSpec {

  /** A fresh session over sf0.001 at `width` shuffle partitions, under
    * the benchmark protocol's SQL settings (AQE off, so the executed
    * plan is the static one) plus `conf`. A `plain` session plans every
    * file scan as Spark does: Spark's own FileSourceStrategy goes ahead
    * of graft's strategies. Removing the strategy from the list would
    * not hold, because every entry build runs Catalog.ensure, whose
    * install adds it back. */
  private def session(width: Int, plain: Boolean = false,
                      conf: Seq[(String, String)] = Nil): SparkSession = {
    val s = spark.newSession()
    (Bench.ProtocolConf.filter(_._1.startsWith("spark.sql.")) ++
      Seq("spark.sql.shuffle.partitions" -> width.toString) ++ conf)
      .foreach { case (k, v) => s.conf.set(k, v) }
    Catalog.ensure(s, sf0001)
    if (plain) s.experimental.extraStrategies = FileSourceStrategy +: s.experimental.extraStrategies
    s
  }

  private def entry(s: SparkSession, name: String): DataFrame = SparkEntry.queries(name)(s, sf0001)

  /** The executed plan's text with expression and plan ids masked, so
    * plans of two sessions compare. */
  private def shape(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("(#|plan_id=|_common_expr_)\\d+", "$1")

  private def exchanges(p: SparkPlan): Seq[SparkPlan] = p.collect { case e: ShuffleExchangeExec => e }

  /** Stages the collect of `df` completes. */
  private def stages(df: DataFrame): Int = {
    val l = Harness.listen(spark)
    try {
      val c0 = l.quiesce()
      df.collect()
      (l.quiesce() - c0).stages
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("at width 1 q01 and q15 plan no shuffle exchange above their scans") {
    val s = session(1)
    Seq("q01_count", "q15_inner_join").foreach { name =>
      val df = entry(s, name)
      val plan = df.queryExecution.executedPlan
      assert(exchanges(plan).isEmpty, s"$name:\n$plan")
      assert(plan.collect { case CoalesceExec(1, _) => 1 }.nonEmpty, s"$name:\n$plan")
      // q15's customer side still broadcasts, in its own stage
      val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }.size
      assert(stages(df) == 1 + broadcasts, s"$name:\n$plan")
    }
  }

  test("q01 and q15 at width 4 plan as Spark plans them") {
    val (s, plain) = (session(4), session(4, plain = true))
    Seq("q01_count", "q15_inner_join").foreach { name =>
      val got = shape(entry(s, name))
      assert(got == shape(entry(plain, name)), name)
      assert(got.contains("Exchange"), s"$name:\n$got")
    }
  }

  test("a table read in more than one split plans as Spark plans it") {
    val small = Seq("spark.sql.files.maxPartitionBytes" -> "64k")
    val size = new java.io.File(s"$sf0001/lineitem.parquet").length
    assert(size > 64 * 1024, s"lineitem is $size bytes")
    val df = entry(session(1, conf = small), "q01_count")
    assert(shape(df) == shape(entry(session(1, plain = true, conf = small), "q01_count")))
    val scan = df.queryExecution.executedPlan.collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.inputRDDs().head.getNumPartitions > 1)
    assert(exchanges(df.queryExecution.executedPlan).nonEmpty)
  }

  test("a multi-file directory plans as Spark plans it") {
    val dir = sources.LogLines.ensureEventsFixture(spark, sf0001)
    assert(new java.io.File(dir).list().count(_.startsWith("part-")) > 1, dir)
    def levels(s: SparkSession) = sources.LogLines.read(s, dir).groupBy("level").count()
    val got = shape(levels(session(1)))
    assert(got == shape(levels(session(1, plain = true))))
    assert(got.contains("Exchange"), got)
  }

  test("a streaming file source plans as Spark plans it") {
    val s = session(1)
    val src = java.nio.file.Files.createTempDirectory("graft-single-split-stream").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-single-split-ck").toString
    s.read.parquet(s"$sf0001/orders.parquet").coalesce(1).write.mode("overwrite").parquet(src)
    val orders = s.read.parquet(src)
    assert(orders.inputFiles.length == 1)
    val q = s.readStream.schema(orders.schema).parquet(src)
      .groupBy("o_orderstatus").count()
      .writeStream.format("memory").queryName("single_split_stream").outputMode("complete")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(plan.collect { case c: CoalesceExec => c }.isEmpty, plan.toString)
      assert(exchanges(plan).nonEmpty, plan.toString)
      assert(s.table("single_split_stream").count() == orders.select("o_orderstatus").distinct().count())
    } finally q.stop()
  }

  test("rows are identical with and without the strategy at width 1") {
    val (s, plain) = (session(1), session(1, plain = true))
    val names = SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted ++
      Seq("x126_levenshtein", "x165_triangles_native")
    assert(names.size == Bench.ProtocolQueryCount + 2)
    val fired = names.count { name =>
      val (df, base) = (entry(s, name), entry(plain, name))
      assert(df.collect().toSeq == base.collect().toSeq, name)
      def coalesced(d: DataFrame) = d.queryExecution.executedPlan.collect { case c: CoalesceExec => c }.size
      coalesced(df) > coalesced(base)
    }
    // the comparison is not vacuous: the strategy fires on most of them
    info(s"the strategy fired on $fired of ${names.size}")
    assert(fired > names.size / 2, s"fired on $fired of ${names.size}")
  }
}
