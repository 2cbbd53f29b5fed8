package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured-scale soak: each named declared entry on the sf0.1 corpus and
  * on an N× copy of it ([[buildFull]]), one JSON line per entry.
  *
  * Usage: runMain graft.ScaleSoak --scale N <entry…>
  *
  * Every scale runs the entry under [[Harness.median3]], building it
  * fresh in each rep and clearing the cache between reps, then
  * [[Harness.scrub]]s. A scale's record holds the rows, the three walls
  * and their median, rep 1's stages, tasks, shuffle-write and spill
  * bytes and generated classes compiled, the longest task of the three
  * reps, and the post-GC heap read
  * after the scrub. That heap is the bounded-driver evidence: run under a
  * pinned heap (sbt's `-Xmx`, or spark-submit's `--driver-memory`), a
  * path that kept corpus-sized state on the driver fails or shows a heap
  * that grows with N. An `exact` output column (the dual-mode sketch
  * entries) is summarized as its count of `exact = 0` rows — 0 means the
  * N× output stayed in the exact regime. The scrub repeats until the
  * heap stops falling ([[settledHeapMb]]).
  *
  * Shape caveat: [[buildFull]] replicates each order with its same part
  * list, so every co-occurring part pair gets support ≥ N. Entries with
  * a co-occurrence support threshold (x162, x163, x165, x179, x269, x272,
  * x293) therefore see a differently shaped graph at N×, not a larger
  * one (x179: 13 rows at 1×, 20,000 at 10×; SCALE.md §55), and their
  * 1×→N× ratio is not a growth measurement.
  *
  * The round-by-round tiers this mode replaced, and the 100× rehearsal,
  * left their findings in SCALE.md §7, §18–§23 and §28–§53.
  */
object ScaleSoak {

  final case class Args(scale: Int, entries: Seq[String])

  /** `--scale N <entry…>`, checked before any session starts: N is an
    * integer ≥ 2, and every entry is declared and not a quadratic exact
    * baseline (Verify runs those on the contract corpora only). */
  def parseArgs(args: Seq[String]): Args = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg (usage: graft.ScaleSoak --scale N <entry...>)")
    val i = args.indexOf("--scale")
    if (i < 0) fail("--scale N is missing")
    val raw = args.lift(i + 1).getOrElse(fail("--scale has no value"))
    val n = raw.toIntOption.getOrElse(fail(s"--scale must be an integer, got '$raw'"))
    if (n < 2) fail(s"--scale must be at least 2, got $n")
    val entries = args.patch(i, Nil, 2)
    entries.find(_.startsWith("-")).foreach(o => fail(s"unknown option '$o'"))
    if (entries.isEmpty) fail("no entry named")
    val unknown = entries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown entry: ${unknown.mkString(", ")}")
    val quadratic = entries.filter(Queries.exactBaselines)
    if (quadratic.nonEmpty) fail(s"exact baseline, contract corpora only: " +
      s"${quadratic.mkString(", ")}")
    Args(n, entries)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toSeq)
    val sf = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_sf0.1x${a.scale}"
    val spark = Harness.session("graft-scale-soak")
    try {
      buildFull(spark, sf, out, a.scale)
      a.entries.foreach { name =>
        val runs = Seq(1 -> sf, a.scale -> out).map { case (x, dir) =>
          measure(spark, name, x, dir)
        }
        println(s"""{"entry":${JsonOut.quote(name)},"scale":${a.scale},""" +
          s""""corpus":${JsonOut.quote(out)},"runs":${runs.mkString("[", ",", "]")}}""")
      }
    } finally spark.stop()
  }

  /** One scale's JSON record of `name` on `dir` (see the object doc). */
  private def measure(spark: SparkSession, name: String, x: Int, dir: String): String = {
    // a corpus's first use infers its schemas: keep that out of rep 1
    Catalog.ensure(spark, dir)
    val l = Harness.listen(spark)
    val (t, c, maxTaskMs) = try {
      val c0 = l.quiesce()
      val reps = Seq.newBuilder[Harness.Counts]
      val t = Harness.median3({
        val df = SparkEntry.queries(name)(spark, dir)
        val rows = df.collect()
        val exactZero = Some(df.columns.indexOf("exact")).filter(_ >= 0).map { i =>
          rows.count(r => !r.isNullAt(i) && r.get(i).asInstanceOf[Number].longValue == 0L)
        }
        (rows.length, exactZero)
      }, { spark.catalog.clearCache(); reps += l.quiesce() })
      val counts = reps.result()
      (t, counts.head - c0, counts.last.maxTaskMs)
    } finally spark.sparkContext.removeSparkListener(l)
    val rt = Runtime.getRuntime
    val heapMb = settledHeapMb { () =>
      Harness.scrub(spark)
      (rt.totalMemory - rt.freeMemory) >> 20
    }
    val (rows, exactZero) = t.first
    def ms(s: Double) = "%.1f".format(s * 1000)
    s"""{"x":$x,"rows":$rows,"walls_ms":${t.walls.map(ms).mkString("[", ",", "]")},""" +
      s""""median_ms":${ms(t.median)},"stages":${c.stages},"tasks":${c.tasks},""" +
      s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
      s""""codegen_compiles":${c.codegenCompiles},""" +
      s""""max_task_ms":$maxTaskMs,"heap_used_mb":$heapMb,""" +
      s""""heap_max_mb":${rt.maxMemory >> 20},"exact_zero":${exactZero.fold("null")(_.toString)}}"""
  }

  /** Most scrubs [[settledHeapMb]] runs. */
  val MaxScrubs = 5

  /** The post-GC heap once it stops falling. `scrubAndRead` scrubs and
    * returns the heap left, in MB. One scrub can read state the context
    * cleaner releases only after it (x284 at 10× read 1,122 MB, and the
    * next entry 78 MB), so the scrub repeats until one frees under 5% of
    * the previous reading, at most [[MaxScrubs]] times. Returns the last
    * reading. */
  def settledHeapMb(scrubAndRead: () => Long): Long = {
    @annotation.tailrec
    def go(last: Long, scrubs: Int): Long =
      if (scrubs == MaxScrubs) last
      else {
        val next = scrubAndRead()
        if ((last - next) * 20 < last) next else go(next, scrubs + 1)
      }
    go(scrubAndRead(), 1)
  }

  /** Writes an `n`× copy of every table under `out` as multi-file parquet
    * (each `<t>.parquet` a directory of part files, the layout real
    * pipelines read), with referentially consistent key offsets, so every
    * declared entry runs on it. A table is rewritten only when its
    * `_SUCCESS` marker is missing or does not hold `n` and the source
    * table's fingerprint ([[Catalog.writeOnce]]), so a build cut short
    * resumes at the table it was writing. Returns the tables written. */
  def buildFull(spark: SparkSession, sf: String, out: String, n: Int): Seq[String] = {
    val stride = 10 * 1000 * 1000L
    // repartition BEFORE the n× explode: the source tables are
    // single-row-group files, so without this the whole build (and every
    // later scan of the output) is one task — each output table must be
    // a genuinely multi-file parquet directory.
    def rep(df: DataFrame): DataFrame =
      df.repartition(16).withColumn("rep", explode(sequence(lit(0), lit(n - 1))))
    def shift(t: String, cols: String*): DataFrame =
      cols.foldLeft(rep(Catalog.load(spark, sf, t))) { (d, c) =>
        d.withColumn(c, col(c) + col("rep") * lit(stride))
      }.drop("rep")
    def copy(t: String): DataFrame = t match {
      case "customer" => shift(t, "c_custkey")
      case "orders" => shift(t, "o_orderkey", "o_custkey")
      case "lineitem" => shift(t, "l_orderkey")
      // the µs-timestamp view materialized directly (Catalog detects the
      // TimestampType column and skips the ns conversion on read)
      case "events" => rep(Catalog.load(spark, sf, t))
        .withColumn("event_id", col("event_id") * n + col("rep"))
        .withColumn("user_id", col("user_id") + col("rep") * lit(10000L))
        .drop("rep")
      case "documents" => shift(t, "doc_id")
      case "embeddings" => shift(t, "vec_id")
      // dims unchanged, so joins stay valid: replicated custkeys keep
      // their original nationkeys, lineitems their part/supp keys
      case _ => Catalog.load(spark, sf, t)
    }
    Catalog.tables.filter { t =>
      Catalog.writeOnce(spark, s"$out/$t.parquet/_SUCCESS",
          s"${n}x ${Catalog.fingerprint(s"$sf/$t.parquet")}") {
        System.err.println(s"[soak] writing ${n}x $t under $out")
        copy(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }
  }
}
