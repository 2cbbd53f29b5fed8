package graft

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Project}

/** The DeferProjectionPastTopK rule must fire on expensive-projection
  * top-k plans and must not change results. */
class RulesSpec extends SparkSpec {

  test("rule defers q38's math past the limit (single-stage top-k shape)") {
    val df = SparkEntry.queries("q38_math_funcs")(spark, sf0001)
    val plan = df.queryExecution.optimizedPlan
    // Round-9 shape: the expensive projection sits INSIDE the limit,
    // directly above the sort — Limit(Project(f(x), Sort)) — which
    // SpecialLimits plans as one terminal TakeOrderedAndProjectExec
    // (projection on ≤ n rows after the top-k merge, no extra stage).
    val fired = plan.collectFirst {
      case GlobalLimit(_, LocalLimit(_, Project(projs, _: org.apache.spark.sql.catalyst.plans.logical.Sort)))
          if projs.exists(p => !p.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) => true
    }.getOrElse(false)
    assert(fired, s"rule did not fire:\n${plan.treeString}")
    // and the physical plan must be a TERMINAL TakeOrderedAndProject —
    // no Exchange, no second scheduling wave (the r4 shape's cost).
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"), phys)
    assert(!phys.contains("Exchange"), s"deferred top-k must be single-stage:\n$phys")
  }

  test("rule goes two-stage above the size threshold (executor-side merge)") {
    // force every input "large": the hybrid must hoist the projection
    // ABOVE the limit so the P×k top-k merge stays executor-side
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val df = SparkEntry.queries("q38_math_funcs")(spark, sf0001)
      val plan = df.queryExecution.optimizedPlan
      val fired = plan.collectFirst {
        case Project(projs, _: GlobalLimit)
            if projs.exists(p => !p.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) => true
      }.getOrElse(false)
      assert(fired, s"two-stage shape missing:\n${plan.treeString}")
      assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
      // same rows as the single-stage path
      assert(df.collect().length == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("rule goes two-stage when the limit exceeds topKSortFallbackThreshold") {
    // ADVICE r9 #3: past the fallback threshold SpecialLimits abandons
    // TakeOrderedAndProjectExec for a full global sort, which would run
    // the expensive projection on EVERY sorted row in the single-stage
    // shape — the rule must keep the projection ABOVE the limit there,
    // however small the input's stats are.
    val old = spark.conf.get("spark.sql.execution.topKSortFallbackThreshold")
    try {
      spark.conf.set("spark.sql.execution.topKSortFallbackThreshold", "100")
      // q38's LIMIT 500 >= the forced threshold 100
      val df = SparkEntry.queries("q38_math_funcs")(spark, sf0001)
      val plan = df.queryExecution.optimizedPlan
      val twoStage = plan.collectFirst {
        case Project(projs, _: GlobalLimit)
            if projs.exists(p => !p.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) => true
      }.getOrElse(false)
      assert(twoStage, s"expected two-stage shape past the fallback threshold:\n${plan.treeString}")
      assert(df.collect().length == 500)
    } finally spark.conf.set("spark.sql.execution.topKSortFallbackThreshold", old)
  }

  test("rule does not fire when projections are cheap (q32)") {
    val plan = SparkEntry.queries("q32_sort_limit_offset")(spark, sf0001)
      .queryExecution.optimizedPlan
    val fired = plan.collectFirst {
      case Project(_, Project(_, _: GlobalLimit)) => true
    }.getOrElse(false)
    assert(!fired, s"rule fired unexpectedly:\n${plan.treeString}")
  }

  test("GraftExtensions wires rule, strategy and functions at session build") {
    // The spark.sql.extensions deployment path: a session built with
    // graft.GraftExtensions must expose the whole Catalyst surface with
    // NO Catalog.ensure / register calls — what a cluster user gets
    // from --conf spark.sql.extensions=graft.GraftExtensions.
    // getOrCreate returns the suite session (and skips extensions) while
    // a default session is registered — clear it so the builder creates
    // a genuinely new SparkSession (reusing the JVM's SparkContext).
    // spark.sql.extensions is a STATIC conf (only honored by the first
    // session in a JVM), so the in-JVM test injects through
    // .withExtensions — the same GraftExtensions instance the config
    // path class-loads on a real cluster. Restored below; fresh is NOT
    // stopped (it shares the JVM-wide context).
    val old = org.apache.spark.sql.SparkSession.getDefaultSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val fresh = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]") // ignored when the suite's SparkContext is live
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // strategy injected at build time (not via spark.experimental)
      assert(fresh.sessionState.planner.extraPlanningStrategies
        .contains(plans.AsOfStrategy),
        "AsOfStrategy must be in extraPlanningStrategies")
      // persistent-registry functions resolve in bare SQL
      assert(fresh.sql("SELECT fold_accents('café') AS s").head().getString(0) == "cafe")
      assert(fresh.sql(
        """SELECT cosine_sim(cast(array(1.0,0.0) AS ARRAY<FLOAT>),
          |                  cast(array(1.0,0.0) AS ARRAY<FLOAT>)) AS c""".stripMargin)
        .head().getDouble(0) == 1.0)
      assert(fresh.sql("SELECT simhash64(array('a','b')) AS h").head().getLong(0) != 0L)
      assert(fresh.sql("SELECT size(winnow_fps('abcdefghijklmnop', 8, 4)) AS n")
        .head().getInt(0) > 0)
      // the fused MinHash reduction must resolve here too, with the
      // HOF null ladder: NULL input -> array of n NULLs, never NULL
      assert(fresh.sql(
        """SELECT affine_minsig(array(cast(7 AS BIGINT)), 4) AS s""")
        .head().getSeq[Long](0).length == 4)
      assert(fresh.sql(
        """SELECT size(affine_minsig(cast(null AS ARRAY<BIGINT>), 4)) AS n""")
        .head().getInt(0) == 4)
      // the md5-prefix portable twin must resolve here too, and agree
      // with the SQL form it replaces (first window of 'abcdefghijklmnop')
      assert(fresh.sql(
        """SELECT winnow_fps_md5('abcdefghijk', 8, 4)[0] =
          |       least(cast(conv(substr(md5(substr('abcdefghijk',1,8)),1,8),16,10) AS BIGINT),
          |             cast(conv(substr(md5(substr('abcdefghijk',2,8)),1,8),16,10) AS BIGINT),
          |             cast(conv(substr(md5(substr('abcdefghijk',3,8)),1,8),16,10) AS BIGINT),
          |             cast(conv(substr(md5(substr('abcdefghijk',4,8)),1,8),16,10) AS BIGINT)) AS ok
          |""".stripMargin).head().getBoolean(0))
      assert(fresh.sql("SELECT damerau_levenshtein('abc','acb') AS d")
        .head().getInt(0) == 1)
      // the parity gap that slipped: jaro_winkler was registered by
      // Catalog.ensure but NOT injected here, so an extensions-deployed
      // cluster failed x241's analysis with UNRESOLVED_ROUTINE
      assert(fresh.sql("SELECT jaro_winkler('martha','marhta') AS j")
        .head().getDouble(0) > 0.9)
      // the perceptual-hash quartet (r13): resolve in bare SQL, 64-bit
      // low half == 32-bit by construction
      assert(fresh.sql(
        """SELECT ahash32(cast(array(1.0, 5.0, 1.0, 5.0) AS ARRAY<FLOAT>)) AS a""")
        .head().getLong(0) == 10L) // cells 2,4 above mean -> bits 1,3
      assert(fresh.sql(
        """SELECT dhash32(cast(array(5.0, 1.0, 1.0, 5.0) AS ARRAY<FLOAT>)) AS d""")
        .head().getLong(0) == 1L) // pair 1: 5>1; pair 2: 1<5
      assert(fresh.sql(
        """SELECT ahash64(cast(array(1.0, 5.0, 1.0, 5.0) AS ARRAY<FLOAT>)) =
          |       ahash32(cast(array(1.0, 5.0, 1.0, 5.0) AS ARRAY<FLOAT>)) AS ok"""
          .stripMargin).head().getBoolean(0))
      assert(fresh.sql(
        """SELECT dhash64(cast(array(5.0, 1.0, 1.0, 5.0) AS ARRAY<FLOAT>)) AS d""")
        .head().getLong(0) == 1L)
      // wrong arity surfaces as a named error, not IndexOutOfBounds
      val wrongArity = intercept[Exception] {
        fresh.sql("SELECT cosine_sim(cast(array(1.0) AS ARRAY<FLOAT>))").collect()
      }
      assert(wrongArity.getMessage.contains("cosine_sim") &&
        wrongArity.getMessage.contains("2"), wrongArity.getMessage)
      // optimizer rule installed in this session's SparkOptimizer (its
      // firing behavior is pinned by the q38/q32 tests above — Range
      // inputs never produce the Project-under-Sort shape it rewrites,
      // so presence is the right assertion for the wiring test)
      assert(fresh.sessionState.optimizer.extendedOperatorOptimizationRules
        .contains(plans.DeferProjectionPastTopK),
        "DeferProjectionPastTopK must be in the session's optimizer rules")
      // extensions-path shape parity (round 9): through
      // extendedOperatorOptimizationRules the rule fires MID-optimizer,
      // where later batches could in principle disturb the emitted
      // Limit(Project(Sort)) shape — assert q38 still plans a terminal
      // TakeOrderedAndProject and returns the entry-path rows.
      fresh.read.parquet(s"$sf0001/lineitem.parquet")
        .createOrReplaceTempView("lineitem")
      val viaExt = fresh.sql(Queries.sparkSql("q38_math_funcs"))
      assert(viaExt.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
        viaExt.queryExecution.executedPlan.toString)
      assert(viaExt.collect().toSeq ==
        SparkEntry.queries("q38_math_funcs")(spark, sf0001).collect().toSeq)
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      old.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
    }
  }

  test("sibling session via Catalog.ensure resolves every native function") {
    // the round-12 review scenario: a Column built while one session is
    // active, analyzed on a DIFFERENT session. Catalog.ensure is the
    // repo's session-prep entry point — after it runs on the sibling,
    // all natives must resolve there by name, so plans built against
    // either session analyze on either (the jaro_winkler parity lesson
    // extended to the fused round-12 trio).
    val s2 = spark.newSession()
    Catalog.ensure(s2, sf0001)
    val r = s2.sql(
      """SELECT md5_prefix32('abc') = cast(conv(substr(md5('abc'),1,8),16,10) AS BIGINT) AS a,
        |       size(winnow_fps_md5('abcdefghijk', 8, 4)) AS b,
        |       size(affine_minsig(array(cast(7 AS BIGINT)), 4)) AS c,
        |       size(winnow_fps('abcdefghijklmnop', 8, 4)) AS d""".stripMargin).head()
    assert(r.getBoolean(0) && r.getInt(1) == 1 && r.getInt(2) == 4 && r.getInt(3) > 0)
    // and the operator entry points themselves work against the sibling
    // (hash31/affineSignature register on the ACTIVE session; the
    // DataFrame belongs to s2 — resolution must hold via s2's registry)
    val docs2 = Catalog.load(s2, sf0001, "documents").limit(20)
    assert(graft.llm.Fingerprint.containmentPortable(docs2, 1L).count() >= 0)
    assert(graft.llm.Dedup.minHashSignature(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " "), 8) != null)
  }

  test("fused-native Column DSL analyzes on a VIRGIN session (no prep at all)") {
    // ADVICE r12 #1, closed structurally: the Column-DSL forms of the
    // fused natives (md5_prefix32 via hash31, affine_minsig via
    // affineSignature) now wrap their expressions DIRECTLY
    // (GraftBridge.column) instead of call_function, which resolved by
    // NAME at analysis time against the DataFrame's own session — so a
    // Column built while a prepped session was active failed on a
    // sibling that never ran Catalog.ensure or GraftExtensions. A
    // virgin newSession has a fresh, unprepped functionRegistry: the
    // strongest form of the scenario.
    import org.apache.spark.sql.functions.{col, expr, split}
    val s3 = spark.newSession() // fresh registry, deliberately NOT prepped
    import s3.implicits._
    val df = Seq("abc", "hello world of documents", "").toDF("text")
    val rows = df.select(
      graft.llm.HashFamily.Portable.hash31(col("text")).as("h"),
      expr("cast(conv(substr(md5(text),1,8),16,10) AS BIGINT)").as("e"),
      graft.llm.Dedup.affineSignature(split(col("text"), " "),
        graft.llm.Dedup.portablePerms(4), graft.llm.HashFamily.Portable)
        .as("sig")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "fused hash != SQL composition")
      assert(r.getSeq[Long](2).length == 4)
    }
    // and portablePerms is one shared instance per width (ADVICE r12 #2)
    assert(graft.llm.Dedup.portablePerms(4) eq graft.llm.Dedup.portablePerms(4))

    // every Column-DSL wrapper in graft.functions analyzes on the virgin
    // session, and agrees with its SQL name on a prepped one
    import graft.functions._
    val dsl = Seq(
      CosineSim(col("g"), col("g")),
      PqLutScore(col("codes"), col("lut")),
      SimHash64(split(col("a"), " ")),
      WinnowFps(col("b"), 3, 2),
      WinnowFpsMd5(col("b"), 3, 2),
      Md5Prefix32Expr(col("a")),
      AffineMinSig(col("hvs"), 4),
      FoldAccents(col("a")),
      DamerauLevenshtein(col("b"), col("c")),
      JaroWinkler(col("b"), col("c")),
      AHash32(col("g")), DHash32(col("g")), AHash64(col("g")), DHash64(col("g")))
    val sql = Seq(
      "cosine_sim(g, g)", "pq_lut_score(codes, lut)", "simhash64(split(a, ' '))",
      "winnow_fps(b, 3, 2)", "winnow_fps_md5(b, 3, 2)", "md5_prefix32(a)",
      "affine_minsig(hvs, 4)", "fold_accents(a)", "damerau_levenshtein(b, c)",
      "jaro_winkler(b, c)", "ahash32(g)", "dhash32(g)", "ahash64(g)", "dhash64(g)")
    assert(sql.map(_.takeWhile(_ != '(')) == GraftExtensions.Functions.map(_.name),
      "one DSL wrapper and one SQL call per table row, in table order")
    def input(s: org.apache.spark.sql.SparkSession) = {
      import org.apache.spark.sql.functions.{lit, typedLit}
      s.range(1).select(lit("café au lait").as("a"), lit("martha").as("b"),
        lit("marhta").as("c"), typedLit(Array(1.0f, 5.0f, 1.0f, 5.0f)).as("g"),
        typedLit(Array(0, 1)).as("codes"), typedLit(Array(0.5, 1.5, 2.5, 3.5)).as("lut"),
        typedLit(Array(7L, 11L)).as("hvs"))
    }
    val viaDsl = input(s3).select(dsl: _*).head().toSeq
    GraftExtensions.install(spark)
    val viaSql = input(spark).selectExpr(sql: _*).head().toSeq
    assert(viaDsl == viaSql)
  }

  test("every SQL function rejects a wrong argument count by name, on both paths") {
    // Catalog.ensure and spark.sql.extensions install the same table, so
    // both must raise the table's named arity error, not an
    // IndexOutOfBoundsException from the builder
    def check(s: org.apache.spark.sql.SparkSession, path: String): Unit =
      GraftExtensions.Functions.foreach { f =>
        Seq(f.arity - 1, f.arity + 1).foreach { n =>
          val call = s"${f.name}(${Seq.fill(n)("'x'").mkString(", ")})"
          val e = intercept[IllegalArgumentException](s.sql(s"SELECT $call").collect())
          assert(e.getMessage.contains(s"${f.name} expects ${f.arity} argument"),
            s"$path, $call: ${e.getMessage}")
        }
      }
    val ensured = spark.newSession()
    Catalog.ensure(ensured, sf0001)
    check(ensured, "Catalog.ensure")
    val old = org.apache.spark.sql.SparkSession.getDefaultSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val ext = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      check(ext, "spark.sql.extensions")
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      old.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
    }
  }

  test("rewritten q38 equals the un-rewritten result") {
    import org.apache.spark.sql.functions.expr
    // Same query through the DataFrame API without the rule's SQL path:
    // compute on all rows, then sort+limit (the naive plan).
    val li = Catalog.load(spark, sf0001, "lineitem")
    val naive = li.select(
        expr("l_orderkey"), expr("l_linenumber"),
        expr("round(abs(l_discount-0.05),4) AS a"),
        expr("cast(ceil(l_quantity) AS BIGINT) AS c"),
        expr("cast(floor(l_quantity) AS BIGINT) AS f"),
        expr("round(sqrt(l_extendedprice),4) AS sq"),
        expr("round(ln(l_extendedprice+1),4) AS lg"),
        expr("round(power(l_discount+1,2),4) AS pw"),
        expr("mod(l_orderkey,7) AS md"),
        expr("l_extendedprice"), expr("l_quantity"), expr("l_discount"))
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity", "l_discount")
      .limit(500)
      .drop("l_extendedprice", "l_quantity", "l_discount")
    val viaRule = SparkEntry.queries("q38_math_funcs")(spark, sf0001)
    assert(naive.collect().toSeq == viaRule.collect().toSeq)
  }

  // ---- FuseMd5Prefix32 (r18, VERDICT r17 #1) ---------------------------

  /** JVM reference for the portable content hash — computed OUTSIDE
    * Spark so the assertion cannot be made vacuous by the rule
    * rewriting its own reference expression. */
  private def md5Prefix32Ref(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  test("FuseMd5Prefix32 rewrites the SQL hash composition to the fused kernel") {
    Catalog.ensure(spark, sf0001) // installs the rule on the shared session
    // range()-backed input: a literal local relation would be folded to
    // a LocalRelation by ConvertToLocalRelation before the rule runs,
    // leaving nothing to assert on
    val q = spark.sql(
      """SELECT s, cast(conv(substr(md5(s),1,8),16,10) AS BIGINT) AS h
        |FROM (SELECT concat('doc-', cast(id AS STRING)) AS s FROM range(32))""".stripMargin)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("md5_prefix32"), s"rule did not fire:\n$opt")
    assert(!opt.contains("conv("), s"unfused conv survived:\n$opt")
    // value identity against the literal JVM digest (not the SQL form,
    // which this very rule rewrites -- that comparison would be vacuous)
    q.collect().foreach { r =>
      assert(r.getLong(1) == md5Prefix32Ref(r.getString(0)), r.getString(0))
    }
    // multi-byte / empty edge classes through the fused path, same ref
    val edge = spark.sql(
      """SELECT s, cast(conv(substr(md5(s),1,8),16,10) AS BIGINT) AS h
        |FROM (SELECT CASE id % 4 WHEN 0 THEN '' WHEN 1 THEN 'caf\u00e9'
        |             WHEN 2 THEN '\u4e2d\u6587\u7684\u6587\u5b57' ELSE '\ud83d\ude00\ud83d\ude00' END AS s
        |      FROM range(8))""".stripMargin)
    edge.collect().foreach { r =>
      assert(r.getLong(1) == md5Prefix32Ref(r.getString(0)), r.getString(0))
    }
    // NULL propagates exactly like the md5 chain it replaces
    val n = spark.sql(
      """SELECT cast(conv(substr(md5(CASE WHEN id > 5 THEN 'x' END),1,8),16,10) AS BIGINT)
        |FROM range(1)""".stripMargin).head()
    assert(n.isNullAt(0))
  }

  test("FuseMd5Prefix32 leaves non-matching compositions alone") {
    Catalog.ensure(spark, sf0001)
    // each variant differs from the contract composition in ONE literal /
    // type -- none may be rewritten (they compute different values);
    // plan-string assertions only (range-backed, nothing folds)
    val variants = Seq(
      "cast(conv(substr(md5(s),1,9),16,10) AS BIGINT)",  // 9 hex chars
      "cast(conv(substr(md5(s),2,8),16,10) AS BIGINT)",  // offset 2
      "cast(conv(substr(md5(s),1,8),16,16) AS BIGINT)",  // base 16->16
      "cast(conv(substr(md5(s),1,8),8,10) AS BIGINT)",   // from-base 8
      "cast(conv(substr(md5(s),1,8),16,10) AS INT)")     // INT, not BIGINT
    variants.foreach { v =>
      val p = spark.sql(
        s"SELECT $v FROM (SELECT cast(id AS STRING) AS s FROM range(4))")
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("md5_prefix32"), s"over-matched: $v\n$p")
    }
  }

  test("FuseMd5Prefix32 reaches subquery plans (the CTE-in-scalar-subquery sites)") {
    Catalog.ensure(spark, sf0001)
    val q = spark.sql(
      """SELECT (SELECT count(*)
        |        FROM (SELECT concat('k', cast(id AS STRING)) AS s FROM range(16))
        |        WHERE cast(conv(substr(md5(s),1,8),16,10) AS BIGINT) % 2 = 0) AS n""".stripMargin)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("md5_prefix32"), s"subquery site not fused:\n$opt")
    val expected = (0 until 16).count(i => md5Prefix32Ref(s"k$i") % 2 == 0)
    assert(q.head().getLong(0) == expected)
  }


  test("x80's executed plan carries the fused kernel, no conv/md5 chain") {
    val df = SparkEntry.queries("x80_winnowing_sql")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("md5_prefix32"), s"x80 not fused:\n${p.take(2000)}")
    assert(!p.contains("conv("), s"unfused conv survived in x80:\n${p.take(2000)}")
  }
}
