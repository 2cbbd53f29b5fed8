package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style invariants (SURVEY.md §5.2 t4), driven with seeded
  * generated data in single Spark jobs (scalacheck runner integration
  * isn't available offline; generators are hand-seeded). */
class InvariantsSpec extends SparkSpec {

  val rnd = new Random(42)

  test("cosine: symmetry and bound over 200 random float vectors") {
    import spark.implicits._
    Catalog.ensure(spark, sf0001)
    val vecs = Seq.fill(200)(
      (Array.fill(16)(rnd.nextFloat() * 2 - 1), Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("a", "b")
      .select(expr("cosine_sim(a, b)").as("ab"), expr("cosine_sim(b, a)").as("ba"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "cosine must be symmetric bit-for-bit")
      assert(r.getDouble(0) <= 1.0 + 1e-9 && r.getDouble(0) >= -1.0 - 1e-9)
    }
  }

  test("cosine: invariant to positive scaling") {
    import spark.implicits._
    Catalog.ensure(spark, sf0001)
    val vecs = Seq.fill(100)(
      (Array.fill(16)(rnd.nextFloat() * 2 - 1), rnd.nextFloat() * 9 + 0.5f))
    val df = vecs.toDF("a", "k")
      .select(expr("cosine_sim(a, a)").as("self"),
        expr("cosine_sim(a, transform(a, x -> cast(x * k AS float)))").as("scaled"))
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(0)) < 1e-5,
        s"scaling changed cosine: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("x333/x340 integer-arithmetic premises hold on the corpus (dims=64, components ≥ -1)") {
    // The k-means entries' cross-engine div/floor equivalence rests on
    // two data premises nothing else asserted (ADVICE r14 #5): the
    // +10000 shift keeps every quantized component sum non-negative
    // (floor division == truncating division only there), which needs
    // every embedding component ≥ -1.0 at the 1e-4 quantization; and
    // the distance fan-out hardcodes sequence(1, 64), which needs every
    // embedding to carry exactly 64 dims. Out-of-contract embeddings
    // must fail HERE, not as a silent cross-engine hash divergence.
    Catalog.ensure(spark, sf0001)
    val r = spark.sql(
      """SELECT min(size(embedding)) AS dmin, max(size(embedding)) AS dmax,
        |       min(comp) AS cmin
        |FROM (SELECT embedding, explode(embedding) AS comp FROM embeddings)"""
        .stripMargin).head()
    assert(r.getInt(0) == 64 && r.getInt(1) == 64,
      s"x333/x340 hardcode 64 dims; corpus has [${r.getInt(0)}, ${r.getInt(1)}]")
    assert(r.getFloat(2) >= -1.0f,
      s"quantization shift +10000 needs components ≥ -1.0; corpus min ${r.getFloat(2)}")
  }

  test("declared queries are invariant to shuffle width (determinism)") {
    // the riskiest ordering/accumulation queries, plus every entry whose
    // Spark text carries the REPARTITION(<Harness.cpus>, …) width hint —
    // the hinted float aggregates x269 (corr) and x272 (sum(1/ln d))
    // among them — executed under different shuffle fan-out AND hint
    // width: results must be identical row-for-row
    val hint = s"REPARTITION(${Harness.cpus},"
    val hinted = Queries.all.filter(_.spark.contains(hint)).map(_.name)
    // a fold that drops a hint from its Spark text fails here
    assert(hinted.toSet == Set("x48_jaccard_topk", "x49_cosine_pairs", "x80_winnowing_sql",
      "x162_market_basket", "x163_triangles", "x269_assortativity", "x272_link_prediction",
      "x284_negative_sampling", "x293_local_clustering", "x364_lsh_band_sensitivity",
      "x365_minhash_jaccard_err", "x367_neardup_transitivity",
      "x379_shingle_size_sensitivity", "x386_lsh_recall_audit"),
      s"hinted set changed: $hinted")
    val risky = Seq("q23_asof_join", "q28_running_total",
      "q31_sessionization", "q41_collect_agg", "q13_wordcount") ++ hinted
    Catalog.ensure(spark, sf0001)
    def at(name: String, width: Int): Seq[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      spark.sql(Queries.sparkSql(name).replace(hint, s"REPARTITION($width,"))
        .collect().map(_.toString).toSeq
    }
    try risky.foreach { name =>
      assert(at(name, 3) == at(name, 7),
        s"$name changed under different shuffle/hint widths")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("sessionization is invariant to input row order") {
    Catalog.ensure(spark, sf0001)
    val base = SparkEntry.queries("q31_sessionization")(spark, sf0001)
      .collect().map(_.toString).toSeq
    // same computation over a shuffled materialization of events
    val shuffled = Catalog.load(spark, sf0001, "events")
      .orderBy(expr("xxhash64(event_id)"))
    shuffled.createOrReplaceTempView("events_shuffled")
    val sql = Queries.sparkSql("q31_sessionization")
      .replace("FROM events", "FROM events_shuffled")
    val got = spark.sql(sql).collect().map(_.toString).toSeq
    assert(got == base)
  }

  test("typed facade loads every table with the declared schema") {
    assert(Tables.region(spark, sf0001).count() == 5)
    assert(Tables.nation(spark, sf0001).count() == 25)
    assert(Tables.customer(spark, sf0001).filter(_.c_acctbal > 0).count() > 0)
    assert(Tables.orders(spark, sf0001).filter(_.o_orderstatus == "F").count() > 0)
    assert(Tables.lineitem(spark, sf0001).count() == 6000)
    assert(Tables.events(spark, sf0001).filter(_.event_type == "click").count() > 0)
    assert(Tables.documents(spark, sf0001).count() == 500)
    assert(Tables.embeddings(spark, sf0001).head().embedding.length == 64)
    assert(Tables.supplier(spark, sf0001).count() == 10)
    assert(Tables.part(spark, sf0001).count() == 200)
  }

  test("profileApprox: HLL ndv inside error bound; nulls/min/max stay exact") {
    // The x161 scale path (VERDICT r6 #6): sketch ndv replaces the
    // Expand multi-distinct. Contract: ndv within 5×rsd of the exact
    // profiler (HLL++ at rsd=0.02 is a 2% standard deviation — 5σ is
    // the never-flakes margin; small cardinalities are exact by HLL's
    // sparse mode), and the non-sketch stats are bit-identical.
    val li = Catalog.load(spark, sf0001, "lineitem")
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")
    val exact = graft.operators.ColumnProfile.profile(li, cols)
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = graft.operators.ColumnProfile.profileApprox(li, cols, rsd = 0.02)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet && approx.keySet == cols.toSet)
    cols.foreach { c =>
      val (e, a) = (exact(c), approx(c))
      val (ndvE, ndvA) = (e.getLong(1), a.getLong(1))
      assert(math.abs(ndvA - ndvE) <= math.max(1L, (0.10 * ndvE).toLong),
        s"$c: approx ndv $ndvA vs exact $ndvE exceeds 5×rsd bound")
      assert(a.getLong(2) == e.getLong(2), s"$c: null count must be exact")
      assert(a.getString(3) == e.getString(3) && a.getString(4) == e.getString(4),
        s"$c: min/max must be exact")
    }
  }

  test("HllDistinct: sparse regime exact at the k boundary; dense inside 5σ, merge-order invariant") {
    // x56's dual-mode contract (VERDICT r12 #4, the x261/x266/x301
    // pattern): exact = 1 ⟺ distinct ≤ k, structurally. At the knife
    // edge: exactly k distinct stays sparse-exact; k+1 densifies.
    import spark.implicits._
    val k = 64
    def run(n: Int, parts: Int) = {
      val df = spark.range(0, n * 3, 1, parts)
        .select((col("id") % n).as("v"), lit("g").as("g"))
      graft.operators.Sketches.distinctCount(df, "g", "v", k, p = 12)
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
    }
    assert(run(k, 4) == (k.toLong, 1L), "k distinct must stay sparse-exact")
    val (cntOver, flagOver) = run(k + 1, 4)
    assert(flagOver == 0L, "k+1 distinct must leave the exact regime")
    // dense regime: 50k distinct >> k, estimate inside 5σ of truth
    // (σ = 1.04/√4096 ≈ 1.63% — the never-flakes margin the HLL spec
    // above uses), and bit-identical across partitionings (merge-order
    // invariance of max-registers)
    val n = 50000
    val a = run(n, 3)
    val b = run(n, 17)
    assert(a == b, s"estimate must be merge-order invariant: $a vs $b")
    assert(a._2 == 0L)
    assert(math.abs(a._1 - n).toDouble / n < 5 * 1.04 / math.sqrt(4096.0),
      s"dense estimate ${a._1} outside 5σ of $n")
    // k+1 sits deep in linear-counting territory: still within 5σ-ish
    // absolute slack for tiny cardinalities (LC is near-exact there)
    assert(math.abs(cntOver - (k + 1)) <= 3, s"LC estimate $cntOver far from ${k + 1}")
  }

  test("percentile_approx stays inside the GK rank-error bound vs exact") {
    // the sketch-tier quantile (mergeable, fixed-size state — the 100 TB
    // replacement for exact percentile sorts, and what GlobalWindow's
    // boundary pass uses). accuracy=100 guarantees rank error <= 1%, so
    // the approx p50 must land between the exact p45 and p55 per group —
    // same error-bound pattern as the HLL spec, wider margin for safety.
    val events = Catalog.load(spark, sf0001, "events")
    val rows = events.groupBy("event_type").agg(
        percentile_approx(col("value"), lit(0.5), lit(100)).as("approx"),
        expr("percentile(value, array(0.45, 0.55))").as("bounds"))
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val approx = r.getDouble(1)
      val lo = r.getSeq[Double](2).head
      val hi = r.getSeq[Double](2).last
      assert(approx >= lo && approx <= hi,
        s"${r.getString(0)}: approx p50 $approx outside exact [$lo, $hi]")
    }
  }

  // ---- QuantileSketch (functions/QuantileSketch.scala) ------------------

  private val qsProbs = Seq((25, 100), (50, 100), (75, 100), (95, 100))

  /** rank distance of value v from target rank t in sorted multiset. */
  private def rankErr(sorted: Array[Long], v: Long, t: Long): Long = {
    val lo = sorted.indexWhere(_ >= v) match { case -1 => sorted.length; case i => i + 1 }
    val hi = sorted.lastIndexWhere(_ <= v) + 1
    if (t < lo) lo - t else if (t > hi) t - hi else 0L
  }

  test("quantile sketch: exact at full capacity for every merge order; " +
       "production capacity within the L*N/k rank bound") {
    val r = new Random(7)
    val n = 10000
    val values = Array.fill(n)(r.nextInt(2000).toLong) // heavy ties on purpose
    val sorted = values.sorted
    val targets = qsProbs.map { case (num, den) =>
      (num.toLong * n + den - 1) / den
    }
    val exact = targets.map(t => sorted((t - 1).toInt))

    // full capacity (k >= n): the ladder never compacts -> exact,
    // independent of how the input is chunked and merged (the structural
    // gate x261 relies on).
    val full = new graft.functions.QuantileSketch(16384, qsProbs)
    val chunks = values.grouped(1337).toSeq
    val partials = chunks.map(c => c.foldLeft(full.zero)(full.reduce))
    val mergedLtr = partials.reduceLeft(full.merge)
    assert(full.finish(mergedLtr) == exact)
    val partials2 = chunks.map(c => c.foldLeft(full.zero)(full.reduce))
    val mergedRtl = partials2.reduceRight(full.merge)
    assert(full.finish(mergedRtl) == exact)

    // production capacity: estimates are order-dependent but every order
    // must stay within the analytic rank bound (each level-i compaction
    // perturbs a rank by <= 2^i and happens <= N/(k*2^i) times -> total
    // <= L*N/k over L active levels).
    val k = 256
    val prod = new graft.functions.QuantileSketch(k, qsProbs)
    val state = chunks.map(c => c.foldLeft(prod.zero)(prod.reduce))
      .reduceLeft(prod.merge)
    // L = ACTIVE levels only (ADVICE r8 #3: `max state.length` always won,
    // inflating L — and the bound — whenever some levels were empty)
    val levels = state.count(_(0) > 0)
    val bound = levels.toLong * n / k + 1
    val est = prod.finish(state)
    est.zip(targets).foreach { case (v, t) =>
      val err = rankErr(sorted, v, t)
      assert(err <= bound, s"rank err $err > bound $bound at target $t")
    }
    // bounded state: the whole ladder is <= k values per level
    val stored = state.map(_(0)).sum
    assert(stored <= k.toLong * state.length,
      s"state holds $stored values across ${state.length} levels")
  }

  // ---- HeavyHitters (functions/HeavyHitters.scala) ----------------------

  test("misra-gries: exact at full capacity; production capacity keeps " +
       "the support and undercount guarantees under adversarial merges") {
    val r = new Random(13)
    // zipf-ish stream: item i appears ~ n/(i+1) times
    val stream = (0 until 40).flatMap(i => Seq.fill(2000 / (i + 1))(i.toLong))
    val shuffled = r.shuffle(stream)
    val n = shuffled.size.toLong
    val exact = shuffled.groupBy(identity).map { case (i, xs) => i -> xs.size.toLong }

    // full capacity: exact counts whatever the chunking/merge order
    val full = new graft.functions.HeavyHitters(64)
    val chunksF = shuffled.grouped(97).toSeq
      .map(c => c.foldLeft(full.zero)(full.reduce))
    val fState = chunksF.reduceRight(full.merge)
    assert(fState == exact)
    assert(full.finish(fState).take(3).map(_._1) == Seq(0L, 1L, 2L))

    // production capacity k=8: (a) every stored counter undercounts by
    // <= (N - M)/(k+1); (b) every item with true count > N/(k+1) is
    // present
    val k = 8
    val prod = new graft.functions.HeavyHitters(k)
    val state = shuffled.grouped(131).toSeq
      .map(c => c.foldLeft(prod.zero)(prod.reduce))
      .reduceLeft(prod.merge)
    assert(state.size <= k)
    val m = state.values.sum
    val slack = (n - m) / (k + 1)
    state.foreach { case (i, c) =>
      assert(c <= exact(i), s"overcount on $i")
      assert(exact(i) - c <= slack, s"undercount ${exact(i) - c} > $slack on $i")
    }
    exact.collect { case (i, c) if c > n / (k + 1) => i }.foreach { i =>
      assert(state.contains(i), s"guaranteed heavy item $i missing")
    }
  }

  // ---- CountMinSketch (functions/CountMinSketch.scala) ------------------

  test("count-min: exact in the identity-injective regime; production " +
       "capacity never undercounts and stays within the eps*N bound") {
    val r = new Random(29)
    val stream = (0 until 60).flatMap(i => Seq.fill(3000 / (i + 1))(i.toLong))
    val shuffled = r.shuffle(stream)
    val n = shuffled.size.toLong
    val exact = shuffled.groupBy(identity).map { case (i, xs) => i -> xs.size.toLong }

    // identity-injective regime: width > max key, so row 0 is exact and
    // min-over-rows equals it — whatever the chunking/merge order
    val fullD = 2; val fullW = 64
    val full = new graft.functions.CountMinSketch(fullD, fullW)
    val fState = shuffled.grouped(113).toSeq
      .map(c => c.foldLeft(full.zero)(full.reduce))
      .reduceRight(full.merge)
    exact.foreach { case (i, c) =>
      assert(graft.functions.CountMinSketch.probe(fState, fullD, fullW, i) == c)
    }

    // production capacity: (a) NEVER undercounts; (b) overcount within
    // the analytic eps*N bound with eps = e/width (Cormode-Muthukrishnan;
    // deterministic generously since depth rows all hold it here)
    val d = 4; val w = 32 // small width so collisions actually occur
    val prod = new graft.functions.CountMinSketch(d, w)
    val state = shuffled.grouped(157).toSeq
      .map(c => c.foldLeft(prod.zero)(prod.reduce))
      .reduceLeft(prod.merge)
    val eps = math.E / w
    val bound = math.ceil(eps * n).toLong
    exact.foreach { case (i, c) =>
      val est = graft.functions.CountMinSketch.probe(state, d, w, i)
      assert(est >= c, s"undercount on $i: $est < $c")
      assert(est - c <= bound, s"overcount ${est - c} > eps*N=$bound on $i")
    }
    // grid state is bounded by depth*width regardless of input size
    assert(state.length == d * w)
  }

  // ---- Dual-mode query shapes (operators/Sketches.scala) ----------------
  // The SAME plan builders the contract entries (x261/x266/x301) use,
  // driven over capacity: the job must complete, flag exact=0, and stay
  // inside each sketch's published error bound (VERDICT r9 #1 — the
  // r8/r9 assert_true gates killed the job here instead).

  test("quantile ladder over capacity: exact=0, ranks within L*N/k") {
    import spark.implicits._
    val r = new Random(17)
    val n = 2000
    val values = Array.fill(n)(r.nextInt(500).toLong)
    val sorted = values.sorted
    val k = 32
    val in = values.toSeq.map(v => ("a", v)).toDF("g", "v")
    val rows = operators.Sketches.quantileLadder(in, "g", "v", k).collect()
    assert(rows.length == 1)
    val row = rows.head
    assert(row.getAs[Long]("exact") == 0L, "over-capacity group must flag approx")
    assert(row.getAs[Long]("n") == n.toLong)
    val targets = qsProbs.map { case (num, den) => (num.toLong * n + den - 1) / den }
    // generous active-level count for the bound: ladder depth is
    // <= log2(n/k)+2 levels at capacity k
    val levels = (math.log(n.toDouble / k) / math.log(2)).toInt + 2
    val bound = levels.toLong * n / k + 1
    Seq("p25", "p50", "p75", "p95").zip(targets).foreach { case (c, t) =>
      val err = rankErr(sorted, row.getAs[Long](c), t)
      assert(err <= bound, s"$c rank err $err > bound $bound")
    }
  }

  test("heavy hitters over capacity: exact=0, support guarantee holds") {
    import spark.implicits._
    // 30 distinct items, zipf-ish, capacity k=8 (< 30 distinct)
    val r = new Random(19)
    val stream = (0 until 30).flatMap(i => Seq.fill(3000 / (i + 1))(i.toLong))
    val shuffled = r.shuffle(stream)
    val n = shuffled.size.toLong
    val exact = shuffled.groupBy(identity).map { case (i, xs) => i -> xs.size.toLong }
    val k = 8
    val rows = operators.Sketches
      .heavyHittersTop(shuffled.toDF("item"), "item", k, 5).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("exact") == 0L),
      "over-capacity summary must flag approx")
    // reported counts never overcount (MG counters are lower bounds)
    rows.foreach { row =>
      val (i, c) = (row.getAs[Long]("item"), row.getAs[Long]("cnt"))
      assert(c <= exact(i), s"overcount on $i: $c > ${exact(i)}")
    }
    // any item with true share > 1/(k+1) is guaranteed reported
    val guaranteed = exact.collect { case (i, c) if c > n / (k + 1) => i }
    val reported = rows.map(_.getAs[Long]("item")).toSet
    guaranteed.foreach(i => assert(reported.contains(i), s"heavy item $i missing"))
  }

  test("cms probe over capacity: exact=0, never undercounts, eps*N bound") {
    import spark.implicits._
    val r = new Random(23)
    // keys up to 59 >> width 32: the identity row is NOT injective
    val stream = (0 until 60).flatMap(i => Seq.fill(3000 / (i + 1))(i.toLong))
    val shuffled = r.shuffle(stream)
    val n = shuffled.size.toLong
    val exact = shuffled.groupBy(identity).map { case (i, xs) => i -> xs.size.toLong }
    val d = 4; val w = 32
    val ev = shuffled.toDF("key")
    val probes = exact.keys.toSeq.toDF("key")
    val rows = operators.Sketches.cmsProbe(ev, "key", probes, d, w).collect()
    assert(rows.length == exact.size)
    val bound = math.ceil(math.E / w * n).toLong
    rows.foreach { row =>
      val (i, est) = (row.getAs[Long]("key"), row.getAs[Long]("est"))
      assert(row.getAs[Long]("exact") == 0L, "out-of-range keys must flag approx")
      assert(est >= exact(i), s"undercount on $i: $est < ${exact(i)}")
      assert(est - exact(i) <= bound, s"overcount ${est - exact(i)} > $bound on $i")
    }
  }

  test("cms probe over EMPTY input: est=0 and exact=1, not a null flagged approx") {
    // ADVICE r10 #2: an empty events frame aggregates to a null sketch
    // and null mx/mn — every probe's true count is 0 and that zero is
    // exact, so downstream consumers branching on the flag must see an
    // exact zero, never a null estimate labeled approx
    import spark.implicits._
    val rows = operators.Sketches.cmsProbe(
      Seq.empty[Long].toDF("key"), "key",
      Seq(1L, 7L, 999L).toDF("key"), 4, 32).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("est")), "est must not be null on empty input")
      assert(r.getAs[Long]("est") == 0L)
      assert(r.getAs[Long]("exact") == 1L)
    }
  }

  test("dual-mode shapes flag exact=1 inside the structural regime") {
    import spark.implicits._
    val vals = (1L to 100L).map(v => ("a", v))
    val q = operators.Sketches
      .quantileLadder(vals.toDF("g", "v"), "g", "v", 256).collect().head
    assert(q.getAs[Long]("exact") == 1L && q.getAs[Long]("p50") == 50L)
    val hh = operators.Sketches
      .heavyHittersTop(Seq(1L, 1L, 2L).toDF("item"), "item", 8, 2).collect()
    assert(hh.forall(_.getAs[Long]("exact") == 1L))
    val cms = operators.Sketches.cmsProbe(
      Seq(3L, 3L, 5L).toDF("key"), "key", Seq(3L).toDF("key"), 2, 16).collect().head
    assert(cms.getAs[Long]("exact") == 1L && cms.getAs[Long]("est") == 2L)
  }

  // ---- Skyline (operators/Skyline.scala) --------------------------------

  test("skyline2d equals brute-force dominance on random points with ties") {
    import spark.implicits._
    val r = new Random(11)
    val pts = Seq.tabulate(500)(i =>
      (i.toLong, r.nextInt(50).toLong, r.nextInt(50).toLong))
    val expected = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, bx, by) =>
        bx <= x && by >= y && (bx < x || by > y)
      }
    }.map(_._1).toSet
    val df = pts.toDF("id", "x", "y")
    val got = operators.Skyline.skyline2d(df, "x", "y", buckets = 8)
      .select("id").as[Long].collect().toSet
    assert(got == expected)
    // duplicates of a frontier point must ALL survive (dominance is
    // strict on at least one axis)
    val withDup = pts :+ (9001L, pts(expected.head.toInt)._2, pts(expected.head.toInt)._3)
    val got2 = operators.Skyline.skyline2d(
      withDup.toDF("id", "x", "y"), "x", "y", buckets = 8)
      .select("id").as[Long].collect().toSet
    assert(got2.contains(9001L) && got2.contains(expected.head))
  }

  test("skyline2d on fractional doubles (round-10 dense-rank generalization)") {
    import spark.implicits._
    val r = new Random(31)
    // fractional x/y with engineered ties (multiples of 0.25) — the exact
    // shape the r9 integral restriction rejected (ADVICE r8 #1: a RANGE
    // 'to x-1' frame would silently miss dominators with x-1 < x' < x)
    val pts = Seq.tabulate(400)(i =>
      (i.toLong, r.nextInt(200) * 0.25, r.nextInt(200) * 0.25))
    val expected = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, bx, by) =>
        bx <= x && by >= y && (bx < x || by > y)
      }
    }.map(_._1).toSet
    val got = operators.Skyline
      .skyline2d(pts.toDF("id", "x", "y"), "x", "y", buckets = 8)
      .select("id").as[Long].collect().toSet
    assert(got == expected)
  }
}
