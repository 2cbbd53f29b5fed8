package graft

import org.apache.spark.sql.functions._

/** Guards the driver contract itself: the declared inventory is complete
  * and the core plan shapes hold (pushdown, pruning, broadcast). */
class ContractSpec extends SparkSpec {

  test("inventory: q01-q46 all declared with oracles") {
    val core = (1 to 46).map(i => f"q$i%02d")
    core.foreach { prefix =>
      assert(SparkEntry.queries.keys.exists(_.startsWith(prefix)),
        s"missing core query $prefix")
      assert(SparkEntry.oracleSql.keys.exists(_.startsWith(prefix)),
        s"missing oracle for $prefix")
    }
  }

  test("inventory: extension queries x47-x51 oracle-checked, x52+ rows-only") {
    ((47 to 51).map(i => s"x$i") ++ Seq("x58", "x60", "x61", "x62", "x63")).foreach { p =>
      assert(SparkEntry.oracleSql.keys.exists(_.startsWith(p)), s"$p needs an oracle")
    }
    (52 to 57).map(i => s"x$i").:+("x59").foreach { p =>
      assert(SparkEntry.queries.keys.exists(_.startsWith(p)), s"$p missing")
    }
  }

  test("every oracle key has a queries twin") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  // The gate's input, pinned: every oracle text, sorted by name. An edit
  // to any oracle (hand-written or DuckDialect-derived) must change this
  // digest in plain view. It does not depend on SPARK_GRAFT_CPUS: no
  // oracle text carries a REPARTITION width.
  test("oracle texts: 395 entries with the pinned SHA-256") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name\n$sql\n".getBytes("UTF-8"))
    }
    assert(SparkEntry.oracleSql.size == 395)
    assert(md.digest().map(b => f"$b%02x").mkString ==
      "7949f8aa7b4b9342de7acb8522264436b4b3a8945d5bd5568a589254430c882f")
  }

  // The gate bound prices the FROZEN ProtocolStages=134 constant, which
  // is only meaningful for the exact q inventory it was frozen over.
  // This test makes an inventory change fail HERE (forcing a deliberate
  // re-freeze of ProtocolStages + ProtocolQueryCount, argued in
  // BASELINE.md) instead of only flagging stage_drift at bench time
  // (ADVICE r15 #4).
  test("gate freeze: q inventory size matches Bench.ProtocolQueryCount") {
    val qCount = SparkEntry.queries.keys.count(_.startsWith("q"))
    assert(qCount == Bench.ProtocolQueryCount,
      s"q inventory is $qCount queries but ProtocolStages was frozen over " +
        s"${Bench.ProtocolQueryCount} — re-freeze both constants in Bench " +
        "and amend BASELINE.md")
  }

  // Output-type discipline gate (VERDICT r8 #3): Spark types
  // `BIGINT * 1.0 / BIGINT` as DECIMAL(28,6) while DuckDB yields DOUBLE,
  // and the driver canonicalizes decimal columns differently from double
  // columns — the r8 x246/x247/x262/x268 hash-red mechanism. Every float
  // output must be DOUBLE (use `1e0` literals, never `1.0`); money stays
  // decimal only inside x123, which ships it cast AS STRING, so even
  // x123's OUTPUT schema is decimal-free and no whitelist is needed.
  // Analysis-only (`spark.sql(...).schema` resolves without execution),
  // so the whole 354-entry SQL inventory checks in seconds.
  test("type parity: no query output column is DecimalType") {
    Catalog.ensure(spark, sf0001)
    def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasDecimal(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    val bad = Queries.all.flatMap { q =>
      val offenders = spark.sql(q.spark).schema.fields
        .filter(f => hasDecimal(f.dataType)).map(f => s"${f.name}:${f.dataType.sql}")
      if (offenders.isEmpty) None else Some(s"${q.name} -> ${offenders.mkString(", ")}")
    }
    assert(bad.isEmpty, s"decimal-typed outputs (use 1e0 literals, or cast AS DOUBLE):\n${bad.mkString("\n")}")
  }

  test("q02 pushes its filter into the parquet scan") {
    val plan = SparkEntry.queries("q02_project_filter")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), plan)
  }

  test("q16 broadcasts all three dimension sides") {
    val plan = SparkEntry.queries("q16_multiway_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 3, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q10 top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("q10_topk_users")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("observe metrics: parse counters without a second pass") {
    val events = Catalog.load(spark, sf0001, "events")
    val (parsed, obs) = graft.sources.LogLines.parseWithMetrics(
      graft.sources.LogLines.renderEvents(events))
    parsed.write.mode("overwrite").format("noop").save()
    val m = obs.get
    assert(m("lines") == events.count())
    assert(m("parsed") == events.count())
  }
}
