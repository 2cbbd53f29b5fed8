package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw text log ingestion: the reference category's native input shape
  * (line-oriented log files), parsed into typed columns with regex —
  * schema-on-read (SURVEY.md §2.1 #3).
  *
  * Pattern: `YYYY-MM-DD HH:MM:SS.mmm LEVEL [component] message`.
  * Malformed lines are preserved (null fields) so pipelines can route
  * them to a dead-letter sink instead of silently dropping.
  */
object LogLines {

  private val Ts = """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3})"""
  private val Level = """ (TRACE|DEBUG|INFO|WARN|ERROR|FATAL)"""
  private val Comp = """ \[([^\]]+)\]"""
  private val Msg = """ (.*)$"""
  val pattern: String = Ts + Level + Comp + Msg

  /** Parse a directory/glob of text log files into typed columns. */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** Parse an existing single-column text DataFrame (`value`). */
  def parse(lines: DataFrame): DataFrame =
    lines.select(
      to_timestamp(nullif(regexp_extract(col("value"), pattern, 1), lit("")),
        "yyyy-MM-dd HH:mm:ss.SSS").as("ts"),
      nullif(regexp_extract(col("value"), pattern, 2), lit("")).as("level"),
      nullif(regexp_extract(col("value"), pattern, 3), lit("")).as("component"),
      nullif(regexp_extract(col("value"), pattern, 4), lit("")).as("message"),
      col("value").as("raw"))

  /** Parse with side-channel job metrics (the MapReduce Counters analog —
    * SURVEY.md §1.1): total lines and successfully-parsed lines arrive via
    * Dataset.observe without a second pass over the data. */
  def parseWithMetrics(lines: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation("loglines")
    val parsed = parse(lines).observe(obs,
      count(lit(1)).as("lines"),
      count(col("level")).as("parsed"))
    (parsed, obs)
  }

  /** Render the events table as log lines (round-trip fixture: the corpus
    * ships parquet, not raw logs — SURVEY.md §2.9). Precondition: the
    * rendered fields (ts, user_id, event_type, value) are non-null —
    * concat() nulls the whole line otherwise and the text sink then
    * fails LOUDLY on the null row (it cannot write one), so a corpus
    * that ever grew null fields breaks the build step, not the oracle. */
  def renderEvents(events: DataFrame): DataFrame =
    events.select(concat(
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"),
      when(col("event_type") === "error", lit(" ERROR")).otherwise(lit(" INFO")),
      lit(" [evt-"), col("user_id"), lit("] "),
      col("event_type"), lit(" value="), col("value")).as("value"))

  /** Deterministic on-disk text fixture for the oracle-gated ingestion
    * entry (x328, VERDICT r10 #4): the sf corpus ships parquet only, so
    * the raw-text path is exercised by rendering `events` as log lines
    * into /tmp — 4 files, bucketed by user — and re-reading them through
    * [[read]]. Written lazily once per source corpus
    * ([[graft.Catalog.writeOnce]]); the _GRAFT_DONE sentinel carries a
    * per-data-file (name, size, mtime) fingerprint of
    * the source events.parquet — [[graft.Catalog.fingerprint]], which
    * handles the flat-file driver corpus AND Spark-written directory
    * corpora (the 10×/100× soaks), where File.length/lastModified on the
    * directory itself would miss an in-place part rewrite — and is
    * written LAST so a run killed mid-write rebuilds. The dir key is
    * collision-proof ([[graft.Catalog.cacheKey]]). Spark's text scan
    * skips `_`- and `.`-prefixed files, so neither the sentinel nor its
    * checksum file parses as a line. */
  def ensureEventsFixture(spark: SparkSession, sfDir: String): String = {
    val dir = "/tmp/graft-logtext/" + graft.Catalog.cacheKey(sfDir)
    graft.Catalog.writeOnce(spark, s"$dir/_GRAFT_DONE",
        graft.Catalog.fingerprint(s"$sfDir/events.parquet")) {
      val events = graft.Catalog.load(spark, sfDir, "events")
      renderEvents(events.repartition(4, pmod(col("user_id"), lit(4L))))
        .write.mode("overwrite").text(dir)
    }
    dir
  }
}
