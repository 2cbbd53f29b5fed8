package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * missing last stage of every near-dup dedup pipeline: MinHash/SimHash
  * emit PAIRS, but "keep one doc per duplicate GROUP" needs the
  * transitive closure (A~B, B~C ⇒ {A,B,C} is one group even when A~C
  * was never emitted). At sf0.01 the x74 pair list already contains a
  * 3-cluster that pairwise dropping would over- or under-delete.
  *
  * Algorithm: min-label propagation fused with pointer jumping, per
  * iteration:
  *
  *   label(v) ← min( label(v), min_{u∈N(v)} label(u), label(label(v)) )
  *
  * Plain propagation alone moves the component-minimum one hop per
  * round (O(diameter) shuffles — a 100 TB near-dup graph can chain for
  * thousands of hops through boilerplate docs); the label(label(v))
  * pointer-jump halves remaining path lengths each round, giving
  * O(log n) convergence like the large-star/small-star formulation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) while staying two plain DataFrame joins per iteration.
  *
  * Scale notes:
  *  - Per iteration: one join edges⋈labels (shuffle on vertex id), one
  *    self-join labels⋈labels for the jump, one groupBy-min. All
  *    hash-partitioned on the vertex id, so AQE coalesces them onto one
  *    exchange footprint.
  *  - `localCheckpoint(eager)` truncates lineage each round — without it
  *    the plan doubles per iteration and the driver OOMs on analysis
  *    long before the data is big. On a cluster with reliable storage
  *    prefer `checkpoint()` so a lost executor doesn't recompute the
  *    whole chain.
  *  - Convergence = Σlabel stops decreasing. Labels are non-increasing
  *    per vertex and bounded below by the component minimum, so the sum
  *    is strictly decreasing until the unique fixpoint (label(u) =
  *    label(v) across every edge = component min). Summed as
  *    decimal(38,0) so the test is exact at any vertex-id magnitude.
  */
object ConnectedComponents {

  /** Edge budget for the driver union-find fast path: 65 536 edges ≈
    * 4 MB boxed on the driver — the same "index-sized metadata may ride
    * the driver, corpus data never does" ceiling the skip-index
    * manifests and the x55 dense gate use. Near-dup pair graphs are
    * SPARSE relative to the corpus (pairs, not rows), so in practice
    * the dedup pipelines' closure runs here; anything larger takes the
    * distributed pointer-jumping loop unchanged. */
  val SmallGraphEdgeBudget: Int = 65536

  /** @param edges two-column DataFrame of undirected edges (each pair
    *              listed once in either orientation; self-loops and
    *              duplicates are tolerated; BIGINT vertex ids). Rows
    *              with a NULL endpoint are DROPPED before labeling — a
    *              null vertex id identifies nothing, so it can neither
    *              connect components nor emit a label row (ADVICE r13
    *              #4: the driver fast path read endpoints with getLong,
    *              which NPE'd on null where the distributed path's join
    *              semantics silently dropped the same row; both paths
    *              now share one explicit filter).
    * @return (id, label) for every vertex incident to an edge, where
    *         label = the minimum vertex id in its component
    *
    * Small graphs (≤ `smallGraphBudget` edges, probed with ONE
    * limit-scan so the small case never computes the edge pipeline
    * twice) close on the driver with path-compressed union-find —
    * identical labels, none of the per-round job+checkpoint overhead
    * that made the closure the fixed cost of x111/x177/x331 at bench
    * scale (r13: ~1-4 s per op of pure scheduling). Larger graphs fall
    * through to [[propagate]], paying only the aborted limit-scan. */
  def run(edges: DataFrame, maxIters: Int = 50,
          smallGraphBudget: Int = SmallGraphEdgeBudget): DataFrame = {
    val e = edges.toDF("s", "d")
      .select(col("s").cast("long").as("s"), col("d").cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull)
    val probe = e.limit(smallGraphBudget + 1).collect()
    if (probe.length > smallGraphBudget) propagate(e, maxIters)
    else {
      // union-by-min with path compression: a root only ever decreases,
      // so every tree's root IS its component's minimum vertex id —
      // exactly the distributed loop's fixpoint label
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path-halve as we walk
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp)
          x = gp
          p = parent.getOrDefault(x, x)
        }
        x
      }
      probe.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
        // register isolated/self-loop vertices so they emit a row
        parent.putIfAbsent(a, find(a)); parent.putIfAbsent(b, find(b))
      }
      val ids = new java.util.TreeSet[java.lang.Long]()
      probe.foreach { r => ids.add(r.getLong(0)); ids.add(r.getLong(1)) }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.size)
      ids.forEach(id => out += ((id.longValue(), find(id.longValue()))))
      val spark = edges.sparkSession
      import spark.implicits._
      out.toSeq.toDF("id", "label")
    }
  }

  /** [[run]]'s distributed path over its null-free (s, d) edges: label
    * propagation with pointer jumping until the Σlabel fixpoint, which
    * measured O(log) rounds in the largest component's diameter at the
    * 10× point (SCALE.md §14). */
  private def propagate(e: DataFrame, maxIters: Int): DataFrame = {
    // Both orientations, so "neighbors of v" is one equi-join on s.
    val und = e.union(e.select(col("d"), col("s"))).localCheckpoint(true)

    var labels = und.select(col("s").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)

    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }

    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // 1-hop propagation: every vertex hears each neighbor's label.
      val nbr = und.join(labels, und("s") === labels("id"))
        .select(und("d").as("id"), labels("label"))
      val prop = labels.select(col("id"), col("label")).union(nbr)
        .groupBy("id").agg(min("label").as("label"))
      // Pointer jump: follow my label's label (path halving). The label
      // is always a vertex id in the same component, so the lookup hits.
      val byId = prop.select(col("id").as("jid"), col("label").as("jlabel"))
      val next = prop.join(byId, prop("label") === byId("jid"), "left")
        .select(prop("id"),
          least(prop("label"), coalesce(col("jlabel"), prop("label"))).as("label"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    labels
  }

  /** Cluster census over `run`: (id, label, csize). */
  def withSizes(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val cc = run(edges, maxIters)
    val sizes = cc.groupBy("label").agg(count(lit(1)).as("csize"))
    cc.join(sizes, "label").select(col("id"), col("label"), col("csize"))
  }
}
