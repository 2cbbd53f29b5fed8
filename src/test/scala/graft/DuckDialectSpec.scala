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
      "cast(('0x'||substr(md5(cast(k AS VARCHAR)),9,8)) AS BIGINT)")

  rules.foreach { case (spark, duck) =>
    test(s"rule: $spark") {
      assert(DuckDialect(spark) == duck)
    }
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
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(v))"
    ).foreach(s => assert(DuckDialect(s) == s, s))
  }

  test("no two-text entry is one the rewriter already reproduces") {
    val redundant = Queries.all.filter(q => q.handWritten && DuckDialect(q.spark) == q.oracle)
    assert(redundant.isEmpty,
      s"declare these with one text: ${redundant.map(_.name).mkString(", ")}")
  }
}
