package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The measurement protocol every timed main shares: one core count, one
  * session factory, one timer, one listener. [[Bench]], [[BenchStream]],
  * [[Verify]], [[ScaleSoak]], [[Explain]] and [[Pipeline]]'s demo main
  * are its callers; each passes only the config it deliberately differs
  * in, so a protocol decision (time zone, UI, master width) is made here
  * once instead of drifting per main.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` as a core count. Unset means every available
    * processor; anything else must be a positive integer, or the run
    * fails naming the variable — a typo must not silently size the
    * master and the REPARTITION hints to some other width. */
  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** The run's core count: the local master's width, the default
    * shuffle width and the [[Queries]] REPARTITION hint width. The only
    * read of the variable. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The settings every session shares: UTC session time zone, no UI,
    * ERROR logging. */
  val BaseConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.log.level" -> "ERROR")

  /** The one session factory. Base conf: `local[cpus]` (or
    * `SPARK_GRAFT_MASTER`, the multi-JVM validation knob —
    * `local-cluster[2,16,4096]` under spark-submit, SCALE.md §41/§42),
    * `cpus` shuffle partitions (one per core keeps every core busy on
    * the contract corpora) and [[BaseConf]]. `conf` entries are applied
    * after the base, so a caller may override any of them (Verify and
    * Explain keep WARN logging; Bench and BenchStream set their own
    * shuffle width). The session gets graft's Catalyst surface at once
    * ([[GraftExtensions.install]]), so the codegen cache is sized
    * before anything a caller runs compiles a class. */
  def session(app: String, conf: (String, String)*): SparkSession = {
    val base = Seq(
      "spark.master" -> sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.app.name" -> app) ++ BaseConf
    val spark = (base ++ conf).foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
    GraftExtensions.install(spark)
    spark
  }

  /** Wall seconds of one evaluation of `f`, with its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Three timed runs: the walls in run order and the first run's
    * result. */
  final case class Timing[T](walls: Seq[Double], first: T) {
    def median: Double = walls.sorted.apply(walls.length / 2)
  }

  /** The median-of-3 timer. `between` runs after each rep OUTSIDE the
    * timed window: clearing caches between reps is inter-measurement
    * hygiene, not operator cost (ADVICE r6 #5). Operators that persist
    * internally pass a clear so rep 2 does not time a cache hit. */
  def median3[T](f: => T, between: => Unit = ()): Timing[T] = {
    val runs = Seq.fill(3) { val r = timed(f); between; r }
    Timing(runs.map(_._1), runs.head._2)
  }

  /** Between-names hygiene, in the UNTIMED gap (history/OPTIMIZATION_r18.md §8b):
    * clearCache() alone was not enough. Dead broadcast/shuffle state from
    * prior ops is freed only when a GC collects the ContextCleaner's weak
    * refs, and a mostly-idle 8 g heap GCs so rarely that 30+ ops of debris
    * accumulate in storage memory — measured: x80's width-parallel plan
    * ran 43.9 s after 30 other ops vs 3.2 s in a fresh session (same
    * code, same corpus), and 6.7 s with the cleaner forced along. A
    * deterministic System.gc() in the per-name gap (never mid-rep, unlike
    * spark.cleaner.periodicGC which fires on a wall clock) pins every
    * op's timed reps to a clean session.
    * Two GC passes with a drain pause: the first enqueues the dead refs,
    * the cleaner thread then issues the (async) block removals, and the
    * second pass collects what the removals freed. One pass measured
    * 18.2 s for the x80 probe above — better than 43.9, far from the
    * 3.2 s fresh-session truth. */
  def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc(); Thread.sleep(250); System.gc()
  }

  /** Cumulative engine counters; `-` gives the delta over a window.
    * `maxTaskMs` is a running maximum, not a sum: a delta keeps the later
    * snapshot's, so it is the window's own only on a listener registered
    * for that window. `codegenCompiles` counts generated classes compiled
    * (a codegen cache miss each) across the whole JVM, so a window's
    * delta includes any other session's compiles in it. */
  final case class Counts(stages: Int, tasks: Long, jobs: Int,
                          executorRunMs: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, maxTaskMs: Long,
                          codegenCompiles: Long) {
    def -(o: Counts): Counts = Counts(stages - o.stages, tasks - o.tasks,
      jobs - o.jobs, executorRunMs - o.executorRunMs,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
      maxTaskMs, codegenCompiles - o.codegenCompiles)
  }

  /** The one listener: executed stages, their tasks, finished jobs, the
    * stages' summed executor run time, shuffle write and disk spill
    * bytes, and the longest task's executor run time; a snapshot also
    * reads the JVM's codegen compile count. Skipped stages
    * never complete, so a memoized plan shows up as a LOWER stage count
    * (SCALE.md §36). */
  final class Listener extends SparkListener {
    private val stages = new AtomicInteger(0)
    private val tasks = new AtomicLong(0L)
    private val jobs = new AtomicInteger(0)
    private val runMs = new AtomicLong(0L)
    private val shuffleBytes = new AtomicLong(0L)
    private val spill = new AtomicLong(0L)
    private val maxTask = new AtomicLong(0L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks.toLong)
      val tm = e.stageInfo.taskMetrics
      if (tm != null) {
        runMs.addAndGet(tm.executorRunTime)
        shuffleBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(tm.diskBytesSpilled)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        maxTask.accumulateAndGet(e.taskMetrics.executorRunTime, math.max(_, _))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
    def snapshot: Counts = Counts(stages.get, tasks.get, jobs.get,
      runMs.get, shuffleBytes.get, spill.get, maxTask.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    /** Listener bus is async: wait until the counters are unchanged for
      * `stableMs` (cap 5 s) before trusting a read — a fixed sleep would
      * be a race, not a protocol. */
    def quiesce(stableMs: Long = 300L): Counts = {
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var last = snapshot
      var stableSince = System.nanoTime()
      while (System.nanoTime() - stableSince < stableMs * 1000 * 1000 &&
             System.nanoTime() < deadline) {
        Thread.sleep(20)
        val now = snapshot
        if (now != last) { last = now; stableSince = System.nanoTime() }
      }
      snapshot
    }
  }

  /** A fresh [[Listener]] registered on `spark`'s context. */
  def listen(spark: SparkSession): Listener = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Per-stage cost of the engine's own machinery: median wall of a
    * ZERO-DATA two-stage SQL query, divided by its measured stage count —
    * Catalyst analysis/optimization, codegen lookup, job submission, an
    * 8-task scan stage into a 1-task exchange (the suite's dominant
    * shape at shuffle=1), and result collection, with no data to hide it.
    *
    * Why stages are the unit: SCALE.md §36/§37 established that the
    * honest per-query cost at bench scale is `real work + stages ×
    * per-stage constant`, so the floor-adjusted gate bound in BASELINE.md
    * needs BOTH terms co-measured in the same artifact — the executed
    * stage count of the suite and the per-stage constant of THIS
    * container at THIS hour (it drifts ±30% between rounds, like the
    * paired DuckDB control it complements).
    *
    * Probe-shape calibration against history/STAGE_AUDIT_r14.json's measured
    * effective overhead ((wall − exec)/stages, median 33 ms, bench
    * protocol ~24 ms): a bare-RDD 32-task shuffle no-op measured 43 ms
    * warm (over — fan-out the suite doesn't have), a bare-RDD 8-task one
    * 17 ms (under — no SQL planning/codegen/collect in the loop), and
    * Bench's `floor_ms` single no-op stage 13.8–21.2 ms. The SQL probe
    * prices everything a real suite stage pays except its data. 7 reps
    * after one warm rep; ~1.5 s once per bench run, outside every timed
    * window. */
  def stageMs(spark: SparkSession, reps: Int = 7): Double = {
    // spark.sql, not the DataFrame API: every suite query pays the SQL
    // parse+analyze path, so the probe must too. range(0,8,1,8) pins the
    // scan to 8 tasks (bare `range(8)` would fan to defaultParallelism).
    val probeSql =
      """SELECT k, count(*) AS n FROM
        |(SELECT id % 4 AS k FROM range(0, 8, 1, 8)) GROUP BY k""".stripMargin
    // The divisor is MEASURED, not assumed: under AQE or a changed
    // shuffle config the probe's executed-stage count can differ from
    // its 2-stage design, silently mispricing the gate bound (ADVICE r14
    // #3). PER-REP deltas, each rep quiesced individually, and ALL reps
    // must agree (ADVICE r15 #3): a concurrent job on the shared context
    // would have to land inside EVERY rep's quiesced window with the
    // same count to pass unnoticed. Disagreement or a zero delta falls
    // back to the design constant 2, loudly.
    val probe = listen(spark)
    try {
      spark.sql(probeSql).collect() // warm the probe's own codegen
      val repStats = Seq.fill(reps) {
        val s0 = probe.quiesce(150).stages
        val (t, _) = timed(spark.sql(probeSql).collect())
        (t, probe.quiesce(150).stages - s0)
      }
      val ts = repStats.map(_._1).sorted
      val counts = repStats.map(_._2).distinct
      val perRep =
        if (counts.length == 1 && counts.head > 0) counts.head
        else {
          System.err.println(
            s"[stage-probe] per-rep stage counts disagree (${repStats.map(_._2).mkString(",")}) — concurrent jobs in flight? falling back to design count 2")
          2
        }
      if (perRep != 2)
        System.err.println(
          s"[stage-probe] probe executed $perRep stages/rep (design: 2) — stage_ms normalized by the measured count")
      ts(ts.length / 2) / perRep * 1000.0
    } finally spark.sparkContext.removeSparkListener(probe)
  }
}
