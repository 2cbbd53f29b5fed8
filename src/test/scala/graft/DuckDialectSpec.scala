package graft

import scala.util.control.Exception.catching

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
      "round(cast(list_cosine_similarity(q.embedding, c.embedding) AS DOUBLE), 4)",
    "array(1, 2,x)" -> "[1, 2,x]",
    "array_max(w)" -> "list_max(w)",
    "jaro_winkler(a, b)" -> "jaro_winkler_similarity(a, b)",
    "fold_accents(t)" -> "strip_accents(t)",
    "percentile(value, 0.25)" -> "quantile_cont(value, 0.25)",
    "datediff(b.d, a.d)" -> "datediff('day', a.d, b.d)",
    "date_diff(DATE '2001-08-01', cast(max(d) AS DATE))" ->
      "date_diff('day', cast(max(d) AS DATE), DATE '2001-08-01')",
    "last_value(v) IGNORE NULLS OVER w" -> "last_value(v IGNORE NULLS) OVER w",
    "nth_value(v, 2) IGNORE NULLS OVER w" -> "nth_value(v, 2 IGNORE NULLS) OVER w",
    "lead(CASE WHEN e THEN us END) IGNORE NULLS OVER w" ->
      "lead(CASE WHEN e THEN us END IGNORE NULLS) OVER w",
    "slice(w, i, 8)" -> "w[i:i+7]",
    "slice(w, 1, 8)" -> "w[1:8]",
    "concat_ws(' ', slice(w, i, 8))" -> "array_to_string(w[i:i+7], ' ')",
    "concat_ws(' ',slice(w, i, 3))" -> "array_to_string(w[i:i+2],' ')",
    "cast(get_json_object(props,'$.k') AS INTEGER)" -> "cast(props->>'$.k' AS INTEGER)",
    "regexp_replace(s,'[AEIOU]','_')" -> "regexp_replace(s,'[AEIOU]','_','g')",
    "regexp_replace(s, 'a', 'b')" -> "regexp_replace(s, 'a', 'b', 'g')")

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
      "list_transform(generate_series(1, len(w)-2), i -> array_to_string(w[i:i+3], ' '))")
  }

  test("the array( rule leaves array_max( to its rename") {
    assert(DuckDialect("array_max(array(1, n))") == "list_max([1, n])")
  }

  test("a literal with a backslash is refused, naming the text") {
    val sql = "SELECT split(text, '\\\\.') AS p FROM documents"
    val e = intercept[IllegalArgumentException](DuckDialect(sql))
    assert(e.getMessage.contains(sql))
  }

  test("a double-quoted literal is refused, naming the text") {
    val sql = """SELECT concat(k, "-") AS s FROM t"""
    val e = intercept[IllegalArgumentException](DuckDialect(sql))
    assert(e.getMessage.contains(sql))
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
      "listagg(c_name, ',')",
      "datediff('day', a, b)",
      "regexp_replace(s, 'a', 'b', 2)",
      "slice(w, i, n)",
      "concat_ws(' ', slice(w, i, n))",
      "concat_ws('-', a, b)",
      "get_json_object(p, '$.k') = 'x'",
      "1 + get_json_object(p, '$.k')",
      "lag(v) IGNORE NULLS OVER w",
      "SELECT 'array(1) datediff(a, b) percentile(v, 0.5)' AS s"
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

  /** `sql`'s tokens: quoted literals verbatim, words lower-cased,
    * whitespace dropped. */
  private def tokens(sql: String): Seq[String] =
    """'(?:[^'\\]|\\.)*'|\w+|\S""".r.findAllIn(sql)
      .map(t => if (t.startsWith("'")) t else t.toLowerCase).toSeq

  /** An entry whose literals the rewriter refuses is a fork by design. */
  private val refused = catching(classOf[IllegalArgumentException])

  // A fork that the rewriter reproduces up to whitespace or keyword case
  // folds by a layout edit of the Spark text, so it is redundant too.
  test("no two-text entry is one the rewriter already reproduces") {
    val redundant = Queries.all.filter(q => q.handWritten &&
      refused.opt(DuckDialect(q.spark)).exists(d => tokens(d) == tokens(q.oracle)))
    assert(redundant.isEmpty,
      s"declare these with one text: ${redundant.map(_.name).mkString(", ")}")
  }

  test("the redundancy check ignores whitespace and keyword case, not literals") {
    assert(tokens("SELECT a,\n  cast(b AS INT) AS c") == tokens("select a , CAST(b as int) as c"))
    assert(tokens("SELECT 'A  b'") != tokens("SELECT 'a b'"))
    assert(tokens("SELECT a b") != tokens("SELECT ab"))
  }

  // Each rule carries weight: without it, some one-text entry's oracle
  // would come out different.
  test("every rule folds at least one one-text entry") {
    val oneText = Queries.all.filterNot(_.handWritten)
    val idle = DuckDialect.rules.indices.filterNot { i =>
      val without = DuckDialect.rules.patch(i, Nil, 1)
      oneText.exists(q => DuckDialect.derive(q.spark, without) != q.oracle)
    }
    assert(idle.isEmpty, s"rules (by index) that fold no entry: ${idle.mkString(", ")}")
  }
}
