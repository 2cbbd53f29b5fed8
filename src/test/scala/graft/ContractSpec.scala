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

  private def readText(path: String): String = {
    val f = new java.io.File(path)
    assert(f.isFile, s"$path not found from ${new java.io.File(".").getAbsolutePath}")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  // Knob census: the environment variables the program reads. Two choose
  // where it runs (cores, master), three what it runs (corpus, Bench's
  // query set, BenchStream's op subset). A new variable, or a lookup by
  // a computed name, fails here.
  test("knob census: src/main reads exactly 5 environment variables") {
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.toString).filter(_.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"src/main not found: ${sources.size} sources")
    val text = sources.map(readText).mkString("\n")
    val lookups = """sys\.env|System\.getenv""".r.findAllIn(text).size
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
      .findAllMatchIn(text).map(_.group(1)).toSeq
    assert(named.size == lookups,
      s"$lookups environment lookups, only ${named.size} by a literal name")
    assert(named.toSet == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_SET", "SPARK_GRAFT_STREAM_OPS"),
      named.distinct.sorted.mkString(", "))
  }

  // Catalyst census: graft's SQL functions, optimizer rules and planner
  // strategy are written down once, in GraftExtensions' table, which
  // both the extensions entry point and Catalog.ensure read. A second
  // registration path, or a Column wrapper that resolves its function
  // by name instead of wrapping the expression, fails here.
  test("Catalyst census: only GraftExtensions registers functions, rules and the strategy") {
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.toString).filter(_.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"src/main not found: ${sources.size} sources")
    val (table, rest) = sources.partition(_.endsWith("/graft/GraftExtensions.scala"))
    assert(table.size == 1, table)
    val hooks = Seq("createOrReplaceTempFunction", "registerFunction", "injectFunction",
      "call_function", "injectOptimizerRule", "injectPlannerStrategy",
      "extraOptimizations", "extraStrategies")
    val outside = for {
      path <- rest
      text = readText(path)
      hook <- hooks if text.contains(hook)
    } yield s"$path: $hook"
    assert(outside.isEmpty, outside.mkString("\n"))
    val registers = rest.filter(p => p.contains("/graft/functions/") || p.contains("/graft/plans/"))
      .filterNot(_.endsWith("/Udfs.scala"))
      .filter(p => """\bdef register\b""".r.findFirstIn(readText(p)).isDefined)
    assert(registers.isEmpty, registers.mkString("\n"))
    assert(readText("src/main/scala/graft/Catalog.scala").contains("GraftExtensions.install(spark)"))
  }

  // Kernel census: each native kernel's algorithm is written once, in
  // Scala, and both eval and the generated code call it. A doGenCode
  // whose Java text loops is a second copy of a kernel; KernelPathsSpec
  // holds the two execution paths bit-identical. CosineSim keeps its
  // generated loop: called as a shared Scala kernel it cost its users up
  // to 45% (x49, SCALE.md §58). The exemption fails once it is stale.
  test("kernel census: no doGenCode in graft/functions writes a loop") {
    val generatedLoops = Set("CosineSim.scala")
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/functions"))
      .toArray.map(_.toString).filter(_.endsWith(".scala")).toSeq
    val bodies = for {
      path <- sources
      lines = readText(path).linesIterator.toVector
      (line, i) <- lines.zipWithIndex if line.contains("def doGenCode(")
      indent = line.takeWhile(_ == ' ').length
      body = lines.drop(i + 1).takeWhile(l => l.trim.isEmpty || l.takeWhile(_ == ' ').length > indent)
    } yield s"$path:${i + 1}" -> body.mkString("\n")
    assert(bodies.size >= GraftExtensions.Functions.size, bodies.map(_._1).mkString("\n"))
    val loops = bodies.collect { case (at, body) if body.contains("for (") || body.contains("while (") => at }
    val (exempt, rest) = loops.partition(at => generatedLoops.exists(f => at.contains(s"/$f:")))
    assert(rest.isEmpty, s"doGenCode writes a loop:\n${rest.mkString("\n")}")
    assert(exempt.size == generatedLoops.size, s"stale exemption: ${generatedLoops.mkString(", ")}")
  }

  // Codegen cache census: the cache size is set in one place, by
  // GraftExtensions.install, which every session the engine serves
  // passes through. A second writer (a main's conf, a builder key) fails
  // here.
  test("codegen cache census: only GraftExtensions sets the cache size") {
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.toString).filter(_.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"src/main not found: ${sources.size} sources")
    val names = Seq("spark.sql.codegen.cache.maxEntries", "CODEGEN_CACHE_MAX_ENTRIES")
    val hits = for {
      path <- sources
      text = readText(path)
      name <- names if text.contains(name)
    } yield path -> name
    assert(hits.map(_._1).forall(_.endsWith("/graft/GraftExtensions.scala")), hits.mkString("\n"))
    assert(hits.map(_._2).contains("CODEGEN_CACHE_MAX_ENTRIES"), hits)
  }

  // Shim census: Catalog keeps the deprecated plan-cache switch only
  // because perfbench still assigns it, and nothing reads it. Any other
  // mention in the program or the specs (a read, or an assignment that
  // looks like it still means something) fails here. The name is built
  // from two parts so this file does not mention it.
  test("shim census: the deprecated plan-cache switch is declared once and used nowhere") {
    val name = "planCache" + "Enabled"
    def hits(root: String): Seq[String] = for {
      path <- java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .toArray.map(_.toString).filter(_.endsWith(".scala")).toSeq.sorted
      (line, i) <- readText(path).linesIterator.zipWithIndex.toSeq if line.contains(name)
    } yield s"$path:${i + 1}: ${line.trim}"
    val main = hits("src/main")
    assert(main.size == 1 && main.head.startsWith("src/main/scala/graft/Catalog.scala:") &&
      main.head.endsWith(s": @deprecated var $name: Boolean = false"), main.mkString("\n"))
    val test = hits("src/test")
    assert(test.isEmpty, test.mkString("\n"))
  }

  // perfbench's session() copies Bench's protocol settings; until it reads
  // them from the program, this guard catches the copy drifting. A key
  // set on one side only must be listed here with its reason, and the
  // list must name exactly those keys.
  test("drift guard: perfbench's session settings match Bench's protocol") {
    val oneSided = Map(
      "spark.log.level" ->
        "perfbench sets its logging through perfbench/log4j2.properties",
      "spark.cleaner.periodicGC.interval" ->
        ("Bench feeds the ContextCleaner during multi-second x-ops; " +
          "perfbench's passes take seconds and it scrubs between them"),
      "spark.scheduler.mode" ->
        ("perfbench's concurrent phase submits through Pipeline.concurrent, " +
          "whose per-thread pools need FAIR; Bench runs sequentially (FIFO)"),
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
        "read only by AQE, which both sessions turn off",
      "spark.local.dir" -> "perfbench keeps its spill inside its work directory",
      "spark.sql.warehouse.dir" -> "perfbench keeps its warehouse inside its work directory")
    val main = readText("perfbench/src/main/scala/perfbench/Main.scala")
    val body = main.indexOf("private def session()") match {
      case -1 => fail("perfbench Main has no session()")
      case i => main.substring(i, main.indexOf(".getOrCreate()", i))
    }
    val perf = """\.config\("([^"]+)",\s*(?:"([^"]*)"\)|[^\n]*)""".r
      .findAllMatchIn(body).map(m => m.group(1) -> Option(m.group(2))).toMap
    assert(perf.size >= 6, s"parsed too few perfbench settings: $perf")
    val bench = (Harness.BaseConf ++ Bench.ProtocolConf).toMap
    val both = bench.keySet.intersect(perf.keySet)
    both.foreach { k =>
      assert(perf(k).contains(bench(k)), s"$k: Bench ${bench(k)}, perfbench ${perf(k)}")
    }
    assert(both.contains("spark.sql.shuffle.partitions") &&
      both.contains("spark.sql.adaptive.enabled"), both)
    val only = (bench.keySet ++ perf.keySet) -- both
    assert(only == oneSided.keySet,
      s"unlisted: ${only -- oneSided.keySet}; listed but not one-sided: ${oneSided.keySet -- only}")
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
