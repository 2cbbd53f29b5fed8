package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [parallel] [only=n1,n2,...]")
    val Array(sfDir, outDir) = args.take(2)
    // "parallel": skip the coalesce(1) and write the final stage's
    // partitions as-is (sorted part-file concatenation preserves the
    // global order of a range-partitioned final sort). Used for the 10x
    // soak corpus where single-file writes serialize heavy queries; the
    // driver's sf0.01 gate keeps the proven single-file layout.
    val parallelWrite = args.contains("parallel")
    // optional `only=name1,name2` arg: targeted re-verification of a few
    // queries without a full-inventory run (the driver never passes it)
    val only: Set[String] = args.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet).getOrElse(Set.empty)
    // SPARK_GRAFT_MASTER=local-cluster[2,16,4096] runs the SAME dump with
    // real executor processes, exercising cross-JVM serialization of
    // every native expression/aggregator buffer (SCALE.md §41).
    val spark = Harness.session("graft-verify", "spark.log.level" -> "WARN")
    new java.io.File(outDir).mkdirs()
    // Quadratic exact baselines run only on the contract corpora (the
    // driver's /root/testdata SFs); on soak-scale inputs they are the
    // documented scale-killers their LSH siblings replace. `only=` still
    // forces them for targeted runs.
    val contractCorpus = sfDir.startsWith("/root/testdata/")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .filter { case (name, _) =>
        contractCorpus || only(name) || !Queries.exactBaselines(name) }
      .foreach { case (name, fn) =>
      // coalesce(1) preserves the parent sort order (sequential partition
      // read) and gives the driver one part file — but it also collapses
      // the whole upstream pipeline into one task (no shuffle barrier),
      // which serializes heavy queries; at the 10x soak scale that pinned
      // Verify to a single core. parallelWrite trades file count for
      // upstream parallelism there.
      try {
        val df = fn(spark, sfDir)
        // parallelWrite reconstructs global order from lexicographically
        // sorted part files — sound ONLY if the final stage is a range-
        // partitioned total sort. Guard the assumption (ADVICE r2 #4) on
        // the OPTIMIZED LOGICAL plan: a top-level Sort(global=true) is
        // exactly "range-partition + local sort" physically, and unlike
        // executedPlan.outputOrdering it survives AQE, whose
        // AdaptiveSparkPlanExec wrapper always reports Nil ordering
        // (ADVICE r3 #1 — the physical check silently disabled the
        // parallel path for every query). Projections preserve ordering,
        // so walk through them.
        import org.apache.spark.sql.catalyst.plans.logical
        def globallySorted(p: logical.LogicalPlan): Boolean = p match {
          case s: logical.Sort    => s.global
          case pr: logical.Project => globallySorted(pr.child)
          case _                  => false
        }
        val totallyOrdered = globallySorted(df.queryExecution.optimizedPlan)
        (if (parallelWrite && totallyOrdered) df else df.coalesce(1))
          .write.mode("overwrite").parquet(s"$outDir/$name")
        if (parallelWrite && !totallyOrdered)
          System.err.println(s"[verify] $name: no output ordering — wrote coalesce(1)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // cache hygiene between queries: the dedup/fingerprint operators
      // persist their shared extractions (correct within one query's
      // lifetime), but across a 100+ query batch at the 10x corpus the
      // accumulated cache starves execution heap (observed: OOM at x80)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    // The table itself is the shared JsonOut (one copy, Bench uses it too).
    def q(s: String): String = JsonOut.quote(s)
    val oracles = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      // keep the oracle list in lockstep with the skipped baselines —
      // an oracle without a dumped result would read as a failure
      .filter { case (k, _) =>
        contractCorpus || only(k) || !Queries.exactBaselines(k) }
    val json = oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the fork count: declared queries whose oracle is a second,
    // hand-kept text rather than the DuckDialect rewrite
    val handWritten = Queries.all.count(e => e.handWritten && oracles.contains(e.name))
    println(s"[verify] oracle texts: ${oracles.size}, hand-written: $handWritten")
    spark.stop()
  }
}
