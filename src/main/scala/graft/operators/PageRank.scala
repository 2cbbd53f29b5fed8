package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative PageRank over a weighted directed edge list, in EXACT
  * integer arithmetic — the scale-shaped twin of the declarative
  * x136_pagerank SQL (which unrolls the iterations as CTE layers).
  *
  * Why a separate operator when the SQL form is already oracle-checked:
  * Spark inlines CTEs, so the unrolled SQL re-executes the edge
  * aggregation — typically a multi-table fact join — once per
  * REFERENCE: the x136 physical plan at sf0.1 contains 58 parquet scans
  * and re-runs the orders⋈customer⋈lineitem⋈supplier join 7×. Three
  * iterations over a 100 TB fact table cannot re-scan the corpus seven
  * times. This operator materializes the edge list ONCE (persist), and
  * each iteration is one join ranks⋈edges (shuffle on src) + one
  * groupBy(dst) — the textbook Pregel-style cost: O(|E|) shuffled ints
  * per round, the fact join computed exactly once (iterations read the
  * edge table as InMemoryTableScan in the executed plan).
  *
  * Arithmetic contract (shared with the x136 SQL so the same DuckDB
  * oracle checks both): ranks in BIGINT nano-units; per-edge
  * contribution (r·w) div d; new rank = teleportNano + (85·Σcontrib)
  * div 100. Integer division and integer sums are execution-order
  * independent, so the iterative operator is bit-identical to the
  * declarative fixpoint by construction — no float luck involved.
  * Dangling-node mass is dropped (documented classic variant).
  *
  * Lineage: each round's plan nests the previous round's; for deep
  * iteration counts pass checkpointEvery (localCheckpoint truncation,
  * same rationale as [[ConnectedComponents]] — use reliable
  * checkpoint() on a real cluster). The default (0 = never) is right
  * for the handful of rounds web-graph-style ranks need to stabilize
  * under a 0.85 damping factor.
  */
object PageRank {

  /** @param edges    (src: long-compatible, dst, w: long) weighted edges
    * @param nodes    (node) — the full vertex set, including sinks
    * @param iters    number of iterations (≥ 0 → returns the start ranks)
    * @param startNano initial rank per node, nano-units
    * @param teleportNano (1-damping)/N in nano-units
    * @return (node, r) ranks in nano-units after `iters` rounds */
  def run(edges: DataFrame, nodes: DataFrame, iters: Int,
          startNano: Long, teleportNano: Long,
          checkpointEvery: Int = 0): DataFrame = {
    // out-degree mass per source, attached once — the per-iteration join
    // then touches a single prejoined table
    val deg = edges.groupBy("src").agg(sum("w").as("d"))
    val ew = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("w"), col("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the vertex set is re-read every round (rank rebuild + sink fill);
    // at web scale it's billions of rows — cache it alongside the edges
    val nds = nodes.select(col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var p = nds.select(col("node"), lit(startNano).as("r"))
      for (i <- 1 to iters) {
        val contribs = ew.join(p, ew("src") === p("node"))
          .select(col("dst"), expr("(r * w) div d").as("contrib"))
          .groupBy("dst").agg(sum("contrib").as("m"))
        p = nds.join(contribs, nds("node") === contribs("dst"), "left")
          .select(col("node"),
            (lit(teleportNano) +
              expr("(85 * coalesce(m, 0)) div 100")).cast("long").as("r"))
        if (checkpointEvery > 0 && i % checkpointEvery == 0)
          p = p.localCheckpoint(true)
      }
      // materialize off the cached relations, then release them — the
      // operator owns its persists (Graph.triangles discipline; ADVICE
      // r5 #4: leaving them cached is the cache-accumulation failure
      // mode Bench otherwise papers over with clearCache())
      p.localCheckpoint(true)
    } finally { ew.unpersist(); nds.unpersist() }
  }
}
