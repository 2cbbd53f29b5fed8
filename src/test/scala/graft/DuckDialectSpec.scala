package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Spark → DuckDB oracle rewriter: one pair per rule, the texts it
  * must leave alone, and the inventory's remaining two-text entries. */
class DuckDialectSpec extends AnyFunSuite {

  private val rules = Seq(
    "SELECT a div b FROM t" -> "SELECT a // b FROM t",
    "size(w)" -> "len(w)",
    "split(text,' ')" -> "string_split(text,' ')",
    "explode(w)" -> "unnest(w)",
    "sequence(1, 64)" -> "generate_series(1, 64)",
    "cast(k AS STRING)" -> "cast(k AS VARCHAR)",
    "array_distinct(w)" -> "list_distinct(w)",
    "transform(w, x -> x * 2)" -> "list_transform(w, x -> x * 2)",
    "filter(w, x -> x > 0)" -> "list_filter(w, x -> x > 0)",
    "sort_array(w)" -> "list_sort(w)",
    "array_join(w, ' ')" -> "array_to_string(w, ' ')",
    "percentile_disc(0.5)  WITHIN GROUP (ORDER BY value)" -> "quantile_disc(value, 0.5)",
    "unix_millis(ts)" -> "epoch_ms(ts)",
    "unix_micros(ts)" -> "epoch_us(ts)",
    "max_by(doc_id, score)" -> "arg_max(doc_id, score)",
    "min_by(doc_id, score)" -> "arg_min(doc_id, score)",
    "collect_set(w)" -> "list(DISTINCT w)",
    "a.k <=> b.k" -> "a.k IS NOT DISTINCT FROM b.k",
    "WHERE d.text RLIKE '(join|merge).*'" -> "WHERE regexp_matches(d.text, '(join|merge).*')",
    "element_at(qv, i + 1)" -> "qv[i + 1]",
    "cast(conv(substr(md5(cast(k AS STRING)),9,8),16,10) AS BIGINT)" ->
      "cast(('0x'||substr(md5(cast(k AS VARCHAR)),9,8)) AS BIGINT)",
    "FROM (SELECT /*+ REPARTITION(4, doc_id) */ doc_id, text FROM documents) d" ->
      "FROM documents d",
    "SELECT /*+ BROADCAST(o) */ DISTINCT o.o_custkey FROM orders o" ->
      "SELECT DISTINCT o.o_custkey FROM orders o",
    "transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3)))" ->
      "[array_to_string(w[i:i+2],' ') FOR i IN range(1, len(w)-1)]",
    "transform(sequence(1, size(w)-7), i -> concat_ws(' ', slice(w, i, 8)))" ->
      "[array_to_string(w[i:i+7],' ') FOR i IN range(1, len(w)-6)]",
    "SELECT * FROM VALUES (16, 4), (8, 8) AS cfg(b, r)" ->
      "SELECT * FROM (VALUES (16, 4), (8, 8)) AS cfg(b, r)",
    "listagg(cast(mh AS STRING), ',') WITHIN GROUP (ORDER BY i)" ->
      "string_agg(cast(mh AS VARCHAR), ',' ORDER BY i)",
    "round(cosine_sim(q.embedding, c.embedding), 4)" ->
      "round(cast(list_cosine_similarity(q.embedding, c.embedding) AS DOUBLE), 4)")

  rules.foreach { case (spark, duck) =>
    test(s"rule: $spark") {
      assert(DuckDialect(spark) == duck)
    }
  }

  test("a VALUES list over several lines gets its parentheses") {
    assert(DuckDialect("FROM VALUES (0,1,2),\n         (1,3,4) AS perm(i,a,b)") ==
      "FROM (VALUES (0,1,2),\n         (1,3,4)) AS perm(i,a,b)")
  }

  test("a shingle whose slice width is not K+1 gets only the renames") {
    assert(DuckDialect("transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 4)))") ==
      "list_transform(generate_series(1, len(w)-2), i -> concat_ws(' ', slice(w, i, 4)))")
  }

  test("nested calls rewrite innermost first") {
    assert(DuckDialect("element_at(element_at(m, 1), size(w))") == "m[1][len(w)]")
  }

  test("texts outside the rules pass through unchanged") {
    Seq(
      "string_split(text, ' ')",
      "list_transform(w, x -> x)",
      "count(*) FILTER (WHERE event_type='purchase')",
      "conv(x, 2, 10)",
      "conv(substr(h,1,16),16,10)",
      "SELECT 'split(a div b) <=> size(c)' AS s",
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(v))",
      "SELECT '(SELECT /*+ REPARTITION(4, k) */ k FROM t)' AS s",
      "listagg(c_name, ',')"
    ).foreach(s => assert(DuckDialect(s) == s, s))
  }

  // Hint widths follow SPARK_GRAFT_CPUS (Queries.hintPar); the hint rules
  // drop every hint, so no oracle depends on the width or carries a hint.
  test("every oracle is the same at REPARTITION widths 3 and 7") {
    val hint = s"REPARTITION(${Harness.cpus},"
    val hinted = Queries.all.filter(q => !q.handWritten && q.spark.contains(hint))
    assert(hinted.size == 13, hinted.map(_.name))
    Queries.all.filterNot(_.handWritten).foreach { q =>
      Seq(3, 7).foreach { w =>
        assert(DuckDialect(q.spark.replace(hint, s"REPARTITION($w,")) == q.oracle, q.name)
      }
    }
  }

  test("no oracle text carries a Spark hint") {
    val hinted = SparkEntry.oracleSql.filter(_._2.contains("/*+")).keys
    assert(hinted.isEmpty, hinted)
  }

  test("no two-text entry is one the rewriter already reproduces") {
    val redundant = Queries.all.filter(q => q.handWritten && DuckDialect(q.spark) == q.oracle)
    assert(redundant.isEmpty,
      s"declare these with one text: ${redundant.map(_.name).mkString(", ")}")
  }
}
