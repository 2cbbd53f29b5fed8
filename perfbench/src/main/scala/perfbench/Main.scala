package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.{Catalog, Pipeline, SparkEntry}

/** The benchmark harness. It calls only the program's library surfaces
  * (`SparkEntry.queries`, `Catalog`, `Pipeline.concurrent`, the
  * `graft.streaming`/`graft.sources`/`graft.llm` objects) and measures
  * them from outside: wall clocks around its own calls, plus a
  * SparkListener and a StreamingQueryListener it registers itself.
  *
  * Usage (run.py builds it, prepares the data and checks the outputs):
  *   Main <workload> <dataDir> <workDir> <planFile> <seconds> <trace 0|1> <seed>
  *   Main --export <outFile>   (each workload's op names, oracle SQL texts)
  *   Main --probe <workDir>    (prints the stages the listener counted for
  *                              each run of the 2-stage probe)
  *
  * A run writes `<workDir>/result.json` (raw samples) and, when tracing,
  * `<workDir>/spans.jsonl`. Each op's first execution (in set-up) is
  * written as parquet under `<workDir>/check/<op>` for run.py's output
  * check; every timed execution must reproduce that execution's row
  * count and row hash.
  */
object Main {
  final case class Args(workload: String, data: String, work: String,
                        plan: Seq[Seq[String]], seconds: Double, trace: Boolean,
                        seed: Long)

  /** Rows an op produced, with their schema (for the check output). */
  final case class Result(rows: Seq[Row], schema: StructType)

  /** An op: `run(opId)` is the timed call. Stream replays run alone
    * only; the other ops also run in each pass's concurrent phase. */
  final case class Op(name: String, layer: String, run: String => Result) {
    def concurrent: Boolean = layer != "streaming"
  }

  /** Latencies of one op: alone (one client) and under the concurrent
    * phase (nproc clients). */
  final class Samples {
    val latMs = mutable.ArrayBuffer.empty[Double]
    val concLatMs = mutable.ArrayBuffer.empty[Double]
    var executions = 0
    var failed = 0
    var mismatched = 0
    var reference: Option[(Long, Long)] = None
  }

  /** Catalog registration runs this many times, on fresh sessions; set-up
    * time counts the median. */
  val SetupReps = 3

  /** heavy_mix: batch ops (name -> layer they exercise), then the
    * stream replays. */
  val HeavyBatch = Seq("x165_triangles_native" -> "operators",
    "x126_levenshtein" -> "functions", "x328_logparse" -> "sources")
  val HeavyStream = Seq("cdc_apply")

  /** cdc_apply's change stream is derived from orders: seq is the order
    * key, the key space is an eighth of the order count (so every key
    * changes about eight times), and one change in 11 is a tombstone.
    * The replay slices it into micro-batches by a seed-salted hash of
    * seq, so a key's changes land in several batches and a later batch
    * can carry an older change. */
  val CdcKeysPerOrder = 8L
  val CdcTombstoneEvery = 11L

  /** The expected CDC table: per key the change with the highest seq,
    * absent when that change is a tombstone. Latest-wins by seq does not
    * depend on batch order, so neither does this. */
  val CdcOracleSql: String =
    s"""SELECT k, price, status, seq FROM (
       |  SELECT o_orderkey % m.n AS k, o_totalprice AS price, o_orderstatus AS status,
       |         o_orderkey AS seq, o_orderkey % $CdcTombstoneEvery = 0 AS deleted,
       |         row_number() OVER (PARTITION BY o_orderkey % m.n ORDER BY o_orderkey DESC) AS rn
       |  FROM orders, (SELECT count(*) // $CdcKeysPerOrder AS n FROM orders) m)
       |WHERE rn = 1 AND NOT deleted""".stripMargin

  /** Times the concurrent phase queues the pass's entries: heavy_mix's
    * queue is short, and one round would end in about a second. */
  val ConcurrentRounds = Map("interactive_q" -> 1, "heavy_mix" -> 3)

  def workloadOps: Seq[(String, Seq[String])] = Seq(
    "interactive_q" -> SparkEntry.queries.keys.toSeq.filter(_.startsWith("q")).sorted,
    "heavy_mix" -> (HeavyBatch.map(_._1) ++ HeavyStream))

  def main(argv: Array[String]): Unit = argv.toList match {
    case List("--export", out) =>
      def obj(kvs: Seq[(String, String)]) =
        kvs.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
      val ops = workloadOps
      val oracle = SparkEntry.oracleSql ++ Map("cdc_apply" -> CdcOracleSql)
      val sql = ops.flatMap(_._2).distinct.flatMap(n => oracle.get(n).map(n -> _))
      Files.writeString(Paths.get(out), obj(Seq(
        "ops" -> obj(ops.map { case (w, ns) => w -> ns.map(jsonStr).mkString("[", ",", "]") }),
        "oracle_sql" -> obj(sql.map { case (n, q) => n -> jsonStr(q) }))))
    case List("--probe", work) =>
      val m = new Main(Args("probe", "", work, Nil, 0, trace = false, seed = 0))
      println(m.probeOnly().mkString("stages=", ",", ""))
    case List(workload, data, work, planFile, seconds, trace, seed) =>
      val src = scala.io.Source.fromFile(planFile)
      val plan = try src.getLines().map(_.split(",").toSeq.filter(_.nonEmpty))
        .filter(_.nonEmpty).toList finally src.close()
      new Main(Args(workload, data, work, plan, seconds.toDouble, trace == "1", seed.toLong)).run()
    case _ =>
      System.err.println("usage: Main <workload> <dataDir> <workDir> <planFile> <seconds> <trace> <seed>")
      System.exit(2)
  }

  /** Order-independent row hash: each row's text (floats at 4 decimals,
    * columns in schema order) hashed, then summed. It compares
    * executions of one op with each other; the oracle check runs on the
    * parquet written in set-up. */
  def rowsHash(rows: Seq[Row]): (Long, Long) = {
    def canon(v: Any): String = v match {
      case null => "NULL"
      case d: Double => f"$d%.4f"
      case f: Float => f"${f.toDouble}%.4f"
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
      case o => o.toString
    }
    val h = rows.foldLeft(0L) { (acc, r) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(r.toSeq.map(canon).mkString("\u0001")) *
        0x9E3779B97F4A7C15L
    }
    (rows.length.toLong, h)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNums(xs: Iterable[Double]): String = xs.map(d => f"$d%.6f").mkString("[", ",", "]")
}

final class Main(args: Main.Args) {
  import Main._

  private val cpus = Runtime.getRuntime.availableProcessors
  private val tracer = new Tracer(args.trace)
  private val engine = new EngineListener(tracer)
  private val streams = new StreamListener
  private val checkDir = new File(args.work, "check")
  private val samples = mutable.LinkedHashMap.empty[String, Samples]
  private val checks = mutable.ArrayBuffer.empty[(String, Result)]
  private val passes = mutable.ArrayBuffer.empty[String]
  private val scrubMs = mutable.ArrayBuffer.empty[Double]
  private val retainedMb = mutable.ArrayBuffer.empty[Double]
  private val ensureMs = mutable.ArrayBuffer.empty[Double]
  private val cdcApplyMs = mutable.ArrayBuffer.empty[Double]
  private val streamStats = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  private var probeStageMs = 0.0
  /** Seconds since process start at the end of each set-up step. */
  private val setupMarks = mutable.ArrayBuffer.empty[(String, Double)]
  private var spark: SparkSession = _

  def run(): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(step: String): Unit =
      setupMarks += step -> (System.currentTimeMillis() - startMs) / 1000.0
    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(streams)
    mark("session")

    // Set-up: catalog registration (repeated, median counted), the
    // workload's fixtures, the 2-stage probe, the check round, and a
    // warm-up round while the check rows are written.
    (1 to SetupReps).foreach { i =>
      val s = if (i == 1) spark else spark.newSession()
      ensureMs += tracer.timed("catalog.ensure", s"setup/$i")(Catalog.ensure(s, args.data))._2
    }
    mark("catalog")
    val ops = tracer.span("setup.fixtures", "setup")(fixtures())
    mark("fixtures")
    val byName = ops.map(o => o.name -> o).toMap
    val unknown = args.plan.flatten.distinct.filterNot(byName.contains)
    require(unknown.isEmpty, s"the plan names unknown ops: ${unknown.mkString(",")}")
    ops.foreach(o => samples(o.name) = new Samples)
    probe()
    mark("probe")
    round(ops, "check", check = true)
    mark("check_round")
    val written = writeChecks()
    round(ops, "warm", check = false)
    written.foreach(_.get())
    checks.clear()
    scrub()
    mark("warm_up")
    val setupS =
      (System.currentTimeMillis() - startMs - ensureMs.sum + median(ensureMs.toSeq)) / 1000.0

    // Timed passes: whole passes until the window is used up.
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      runPass(args.plan(pass % args.plan.length).map(byName), pass)
      pass += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9

    writeResult(setupS, windowS)
    if (args.trace) writeSpans()
    spark.stop()
  }

  def probeOnly(): Seq[Long] = {
    spark = session()
    spark.sparkContext.addSparkListener(engine)
    try probe() finally spark.stop()
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      // the program's benchmark session settings: static plans, one
      // shuffle partition per exchange (volume-sized at this scale),
      // small file splits so single-file tables scan in parallel; FAIR
      // pools so concurrently submitted ops share the executors
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    // fresh plans every execution: a memoized DataFrame would skip
    // already-computed shuffle stages when it runs again
    Catalog.planCacheEnabled = false
    s
  }

  // ---- ops -------------------------------------------------------------

  private def fixtures(): Seq[Op] = args.workload match {
    case "interactive_q" =>
      workloadOps.toMap.apply("interactive_q").map(queryOp(_, "queries"))
    case "heavy_mix" => batchOps() ++ streamOps()
    case w => sys.error(s"unknown workload $w")
  }

  /** A declared query through `SparkEntry.queries`: the entry call
    * (parse + analysis), the optimizer, physical planning, then
    * execution and result fetch. */
  private def queryOp(name: String, layer: String): Op =
    Op(name, layer, opId => {
      val f = SparkEntry.queries(name)
      planAndCollect(tracer.span("queries.build", opId)(f(spark, args.data)), opId)
    })

  private def planAndCollect(df: DataFrame, opId: String): Result = {
    tracer.span("plans.optimize", opId)(df.queryExecution.optimizedPlan)
    tracer.span("plans.physical", opId)(df.queryExecution.executedPlan)
    Result(executeSpan(opId)(df.collect().toSeq), df.schema)
  }

  /** The `engine.execute` span, made the parent of the jobs it runs. */
  private def executeSpan[A](opId: String)(f: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(EngineListener.SpanKey)
    val id = tracer.newId()
    sc.setLocalProperty(EngineListener.SpanKey, id.toString)
    try tracer.timed("engine.execute", opId, id)(f)._1
    finally sc.setLocalProperty(EngineListener.SpanKey, outer)
  }

  /** The batch half of heavy_mix: a graph operator, a native
    * string-distance function, and the raw-log ingest path. */
  private def batchOps(): Seq[Op] = {
    // x328's raw-log source, its text fixture rendered into the work dir
    // through the library's renderer (the declared entry renders into a
    // fixed temp dir outside the work dir); same query as the entry
    val logDir = new File(args.work, "logtext")
    deleteTree(logDir)
    graft.sources.LogLines.renderEvents(
      Catalog.load(spark, args.data, "events").repartition(4, pmod(col("user_id"), lit(4L))))
      .write.mode("overwrite").text(logDir.getAbsolutePath)
    HeavyBatch.filter(_._1 != "x328_logparse")
      .map { case (n, l) => queryOp(n, l) } :+
      Op("x328_logparse", "sources", opId => {
        val df = tracer.span("queries.build", opId) {
          graft.sources.LogLines.read(spark, logDir.getAbsolutePath)
            .groupBy(col("level"),
              regexp_extract(col("component"), "^evt-(\\d+)$", 1).cast("long").as("uid"))
            .agg(count(lit(1)).as("n"),
              max(unix_millis(col("ts"))).as("max_ms"),
              countDistinct(split(col("message"), " ").getItem(0)).as("types"))
            .orderBy("uid", "level")
        }
        planAndCollect(df, opId)
      })
  }

  /** Write `df` as `n` single-file micro-batches, modification-time
    * ordered, so an AvailableNow file stream reads one per trigger;
    * `slice` (in 0 until n) picks each row's batch. */
  private def writeReplay(df: DataFrame, dir: File, n: Int, slice: org.apache.spark.sql.Column): Unit = {
    deleteTree(dir)
    dir.mkdirs()
    val t0 = System.currentTimeMillis()
    (0 until n).foreach { i =>
      val tmp = new File(dir.getPath + s"-tmp$i")
      df.where(slice === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(dir.getPath, s"b$i.parquet")
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + i * 10000L))
      deleteTree(tmp)
    }
  }

  /** The streaming half of heavy_mix: a 4-micro-batch AvailableNow
    * replay of a change stream through the copy-on-write CDC merge sink
    * (`CdcStream.applyBatch` in foreachBatch). */
  private def streamOps(): Seq[Op] = {
    val base = new File(args.work, "replay")
    val orders = Catalog.load(spark, args.data, "orders")
    val keys = orders.count() / CdcKeysPerOrder
    val changes = orders.select(
      (col("o_orderkey") % keys).as("k"), col("o_totalprice").as("price"),
      col("o_orderstatus").as("status"), col("o_orderkey").as("seq"),
      (col("o_orderkey") % CdcTombstoneEvery === 0L).as("deleted"))
    val cdcDir = new File(base, "cdc")
    writeReplay(changes, cdcDir, 4, pmod(xxhash64(col("seq"), lit(args.seed)), lit(4L)))
    val tables = new java.util.concurrent.atomic.AtomicInteger()
    Seq(Op("cdc_apply", "streaming", opId => {
      val table = new File(base, s"cdc-table-${tables.incrementAndGet()}").getAbsolutePath
      val stream = tracer.span("queries.build", opId) {
        spark.readStream.schema(changes.schema).option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet").parquet(cdcDir.getAbsolutePath)
      }
      executeSpan(opId) {
        stream.writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            val ms = tracer.timed("streaming.cdc_apply_batch", opId) {
              graft.streaming.CdcStream.applyBatch(spark, table, b, "k", txnId = Some(id.toString))
            }._2
            cdcApplyMs.synchronized { cdcApplyMs += ms }
            ()
          }.start().awaitTermination()
      }
      val df = graft.streaming.CdcStream.latest(spark, table).get
        .select("k", "price", "status", "seq")
      val out = Result(df.collect().toSeq, df.schema)
      deleteTree(new File(table))
      out
    }))
  }

  // ---- execution -------------------------------------------------------

  /** One execution of `op`, recorded under `opId`. The check execution
    * keeps its rows for the oracle comparison; a timed one must match it. */
  private def execute(op: Op, opId: String, check: Boolean = false,
                      concurrent: Boolean = false, warm: Boolean = false): Double = {
    val s = samples(op.name)
    val sc = spark.sparkContext
    val span = tracer.newId()
    sc.setLocalProperty(EngineListener.OpKey, opId)
    sc.setLocalProperty(EngineListener.SpanKey, span.toString)
    if (op.layer == "streaming") { BusDrain(sc); streams.current = opId }
    val (result, latMs) = tracer.timed(s"${op.layer}.${op.name}", opId, span) {
      try Some(op.run(opId))
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $opId failed: $e")
          None
      }
    }
    sc.setLocalProperty(EngineListener.OpKey, null)
    sc.setLocalProperty(EngineListener.SpanKey, null)
    s.synchronized {
      s.executions += 1
      result match {
        case None => s.failed += 1
        case Some(r) if check =>
          s.reference = Some(rowsHash(r.rows))
          checks.synchronized { checks += op.name -> r }
        case Some(r) =>
          if (!warm) (if (concurrent) s.concLatMs else s.latMs) += latMs
          val got = rowsHash(r.rows)
          if (!s.reference.contains(got)) {
            s.mismatched += 1
            System.err.println(s"[perfbench] $opId differs from its check execution: $got vs ${s.reference}")
          }
      }
    }
    latMs
  }

  /** Starts writing the check executions' rows as parquet for run.py,
    * a few at a time; the caller waits on the returned futures. */
  private def writeChecks(): Seq[java.util.concurrent.Future[_]] = {
    deleteTree(checkDir)
    checkDir.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try checks.toList.map { case (name, r) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(r.rows.asJava, r.schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(checkDir, name).getAbsolutePath)
      })
    } finally pool.shutdown()
  }

  /** One untimed execution of every op: the check round (cold, the
    * non-stream ops from nproc clients; it keeps each op's rows and row
    * hash) and the warm-up round (one client, as the timed alone phase
    * runs: after the cold round the JIT has not settled, and the first
    * timed execution would still be a warm-up). */
  private def round(ops: Seq[Op], name: String, check: Boolean): Unit = {
    def id(o: Op) = s"${args.workload}/${o.name}/$name"
    val (together, alone) = if (check) ops.partition(_.concurrent) else (Nil, ops)
    Pipeline.concurrent(spark, together.map(o =>
      id(o) -> ((_: SparkSession) => execute(o, id(o), check = check, warm = !check))), cpus)
    alone.foreach(o => execute(o, id(o), check = check, warm = !check))
    BusDrain(spark.sparkContext)
    ops.foreach { o => engine.take(id(o)); streams.take(id(o)) }
  }

  /** Deterministic between-op GC, as its own untimed span: drops cached
    * relations, lets the ContextCleaner free dead shuffle and broadcast
    * blocks, and records the heap that survives. */
  private def scrub(): Double = {
    val ms = tracer.timed("jvm.scrub", s"${args.workload}/scrub") {
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(200); System.gc()
    }._2
    scrubMs += ms
    val rt = Runtime.getRuntime
    retainedMb += (rt.totalMemory - rt.freeMemory) / 1048576.0
    ms
  }

  /** The per-stage floor: median wall of a 2-stage no-data job, halved.
    * Also the listener's self-check: the job must count 2 stages.
    * Returns the stage count of each run. */
  private def probe(): Seq[Long] = {
    val sql = "SELECT k, count(*) AS n FROM (SELECT id % 4 AS k FROM range(0, 8, 1, 8)) GROUP BY k"
    val sc = spark.sparkContext
    val times = (0 to 5).map { i =>
      val op = s"${args.workload}/probe/$i"
      sc.setLocalProperty(EngineListener.OpKey, op)
      val ms = tracer.timed("engine.probe", op)(spark.sql(sql).collect())._2
      sc.setLocalProperty(EngineListener.OpKey, null)
      BusDrain(sc)
      val stages = engine.take(op).stages
      require(stages == 2, s"the 2-stage probe counted $stages stages")
      (ms, stages)
    }
    probeStageMs = median(times.drop(1).map(_._1)) / 2
    times.map(_._2)
  }

  /** One pass over the plan line: every entry alone, in order (an op
    * listed k times in a row runs k times), then the line's non-stream
    * entries through `Pipeline.concurrent` with nproc clients, queued in
    * the same order, ConcurrentRounds times over. The between-op GC runs after every heavy execution
    * (so each starts from the same clean state: an op that persists an
    * intermediate would otherwise reuse it in its next run) and after
    * the alone phase of the q mix. */
  private def runPass(order: Seq[Op], pass: Int): Unit = {
    val perOpScrub = args.workload == "heavy_mix"
    def seqId(o: Op, i: Int) = s"${args.workload}/${o.name}/$pass.$i"
    def concId(o: Op, i: Int) = s"${args.workload}/${o.name}/c$pass.$i"
    val rounds = ConcurrentRounds(args.workload)
    val entries = order.zipWithIndex
    var scrubbed = 0.0
    var seqLatMs = 0.0
    val concLatMs = new java.util.concurrent.atomic.DoubleAdder
    val gc0 = gcMillis
    val seqMs = tracer.timed("pipeline.sequential", s"${args.workload}/pass/$pass") {
      entries.foreach { case (o, i) =>
        seqLatMs += execute(o, seqId(o, i))
        if (perOpScrub) scrubbed += scrub()
      }
    }._2
    if (!perOpScrub) scrub()
    BusDrain(spark.sparkContext)
    streams.current = EngineListener.NoOp
    val waits = mutable.ArrayBuffer.empty[Double]
    val concurrent = (0 until rounds).flatMap(r =>
      entries.filter(_._1.concurrent).map { case (o, i) => (o, r * order.length + i) })
    val concMs = tracer.timed("pipeline.concurrent", s"${args.workload}/pass/c$pass") {
      val startNs = tracer.nowNs
      val tasks = concurrent.map { case (o, i) => concId(o, i) -> { (_: SparkSession) =>
        waits.synchronized { waits += (tracer.nowNs - startNs) / 1e6 }
        concLatMs.add(execute(o, concId(o, i), concurrent = true))
      }}
      Pipeline.concurrent(spark, tasks, cpus)
    }._2
    scrub()
    // the whole pass, between-op GCs included: with a GC after every
    // heavy execution, the ops alone may not fill the young generation
    val gcMs = gcMillis - gc0
    BusDrain(spark.sparkContext)
    val aggs = entries.map { case (o, i) => o.name -> engine.take(seqId(o, i)) }
    val concAggs = concurrent.map { case (o, i) => engine.take(concId(o, i)) }
    entries.filter(_._1.layer == "streaming").foreach { case (o, i) =>
      streamStats.getOrElseUpdate(o.name, mutable.ArrayBuffer.empty) ++=
        streams.take(seqId(o, i)).map(progressJson)
    }
    streams.take(EngineListener.NoOp)
    def sum(f: EngineAgg => Long) = aggs.map(a => f(a._2)).sum
    val skews = aggs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, as) => f"${jsonStr(n)}:${as.map(_._2.skew).max}%.4f" }
    passes += s"""{"pass":$pass,"seq_ms":${f"$seqMs%.4f"},"scrub_ms":${f"$scrubbed%.4f"},""" +
      s""""conc_ms":${f"$concMs%.4f"},"ops":${order.length},""" +
      s""""latency_sum_ms":${f"$seqLatMs%.4f"},"conc_latency_sum_ms":${f"${concLatMs.sum}%.4f"},""" +
      s""""gc_ms":$gcMs,""" +
      s""""jobs":${sum(_.jobs)},"stages":${sum(_.stages)},"tasks":${sum(_.tasks)},""" +
      s""""run_ms":${sum(_.runMs)},"scheduler_delay_ms":${sum(_.schedulerDelayMs)},""" +
      s""""shuffle_write_bytes":${sum(_.shuffleWriteBytes)},""" +
      s""""shuffle_read_bytes":${sum(_.shuffleReadBytes)},"spill_bytes":${sum(_.spillBytes)},""" +
      s""""result_bytes":${sum(_.resultBytes)},"task_skew":${skews.mkString("{", ",", "}")},""" +
      s""""conc_tasks":${concAggs.map(_.tasks).sum},""" +
      s""""conc_scheduler_delay_ms":${concAggs.map(_.schedulerDelayMs).sum},""" +
      s""""queue_wait_ms":${jsonNums(waits)}}"""
  }

  private def progressJson(p: StreamingQueryProgress): String = {
    val d = p.durationMs.asScala.map { case (k, v) => s"${jsonStr(k)}:${v.longValue}" }.mkString(",")
    val st = p.stateOperators
    s"""{"batch_ms":${p.batchDuration},"input_rows":${p.numInputRows},"durations":{$d},""" +
      s""""state_rows":${st.map(_.numRowsTotal).sum},"state_removed":${st.map(_.numRowsRemoved).sum},""" +
      s""""state_memory_bytes":${st.map(_.memoryUsedBytes).sum}}"""
  }

  // ---- output ----------------------------------------------------------

  private def writeResult(setupS: Double, windowS: Double): Unit = {
    val keep = Seq("spark.master", "spark.scheduler.mode", "spark.sql.", "spark.driver.memory",
      "spark.cleaner.")
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => keep.exists(k.startsWith) && !k.endsWith(".dir") }
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")
    val ops = samples.map { case (n, s) =>
      val ref = s.reference.map { case (r, h) => s"""{"rows":$r,"hash":$h}""" }.getOrElse("null")
      s"""${jsonStr(n)}:{"lat_ms":${jsonNums(s.latMs)},"conc_lat_ms":${jsonNums(s.concLatMs)},""" +
        s""""executions":${s.executions},"failed":${s.failed},""" +
        s""""mismatched":${s.mismatched},"reference":$ref}"""
    }.mkString("{", ",", "}")
    val stream = streamStats.map { case (n, ps) => s"${jsonStr(n)}:${ps.mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val json =
      s"""{"workload":${jsonStr(args.workload)},"nproc":$cpus,""" +
        s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"spark_conf":$conf,""" +
        s""""setup_s":${f"$setupS%.6f"},"window_s":${f"$windowS%.6f"},""" +
        s""""catalog_ensure_ms":${jsonNums(ensureMs)},""" +
        s""""setup_marks_s":{${setupMarks.map { case (k, v) => f"${jsonStr(k)}:$v%.3f" }.mkString(",")}},""" +
        s""""probe_stage_ms":${f"$probeStageMs%.6f"},""" +
        s""""scrub_ms":${jsonNums(scrubMs)},"retained_heap_mb":${jsonNums(retainedMb)},""" +
        s""""cdc_apply_batch_ms":${jsonNums(cdcApplyMs)},""" +
        s""""ops":$ops,"passes":${passes.mkString("[", ",", "]")},"stream":$stream}"""
    Files.writeString(new File(args.work, "result.json").toPath, json)
  }

  private def writeSpans(): Unit = {
    val w = new PrintWriter(new File(args.work, "spans.jsonl"), "UTF-8")
    try tracer.spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${jsonStr(s.name)},""" +
        s""""op":${jsonStr(s.op)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
