package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a declared operator from SURVEY.md §2; each
  * has a DuckDB-dialect twin in `oracleSql` with identical column names
  * (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Q16: 4-table join + filter + agg — exercises scan, pushdown, broadcast
    * dims, shuffle agg in one plan. */
  def entry(spark: SparkSession): DataFrame =
    queries("q16_multiway_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Lazy val,
    * not def: a def rebuilt the full 395-entry map on EVERY access —
    * including inside Bench's per-rep lookups and Verify's per-query
    * loop — for a value that never changes after class load. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.sparkSql.map { case (name, sql) =>
      name -> ((spark: SparkSession, dir: String) => Catalog.sql(spark, dir, sql))
    } ++ Extensions.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    Queries.oracleSql ++ Extensions.oracleSql
}
