package graft

import scala.util.matching.Regex

/** Spark SQL → DuckDB SQL for the declared-query oracle texts.
  *
  * A closed, ordered rule list: it covers exactly the dialect deltas the
  * contract inventory uses and nothing else, so a query whose text needs
  * a delta outside the list keeps a hand-written oracle
  * (`Queries.q(name, spark, oracle)`). Quoted string literals pass
  * through byte-for-byte: they are masked before any rule runs.
  *
  * Each rule folds at least one inventory entry; add a rule only with
  * the entry it folds. DuckDialectSpec checks every rule and that no
  * two-text entry is one the rewriter already reproduces; ContractSpec
  * pins the digest of all oracle texts, so a rule change that alters an
  * oracle byte fails there.
  */
object DuckDialect {

  def apply(spark: String): String = {
    val literals = Literal.findAllIn(spark).toVector
    val code = Literal.replaceAllIn(spark, _ => Regex.quoteReplacement(Mask))
    val rewritten = rules.foldLeft(code)((s, rule) => rule(s))
    val it = literals.iterator
    Masked.replaceAllIn(rewritten, _ => Regex.quoteReplacement(it.next()))
  }

  /** A single-quoted SQL string literal (backslash escapes, Spark style). */
  private val Literal = """'(?:[^'\\]|\\.)*'""".r
  /** Stands in for a literal while the rules run: a private-use
    * character, so no declared SQL text contains it. */
  private val Mask = "\uE000"
  private val Masked = Mask.r

  /** Same-arity function and keyword renames. */
  private val renames: Seq[(String, String)] = Seq(
    """\bdiv\b""" -> "//",
    """\bsize\(""" -> "len(",
    """\bsplit\(""" -> "string_split(",
    """\bexplode\(""" -> "unnest(",
    """\bsequence\(""" -> "generate_series(",
    """\bAS STRING\b""" -> "AS VARCHAR",
    """\barray_distinct\(""" -> "list_distinct(",
    """\btransform\(""" -> "list_transform(",
    """\bfilter\(""" -> "list_filter(",
    """\bsort_array\(""" -> "list_sort(",
    """\barray_join\(""" -> "array_to_string(",
    """\bunix_millis\(""" -> "epoch_ms(",
    """\bunix_micros\(""" -> "epoch_us(",
    """\bmax_by\(""" -> "arg_max(",
    """\bmin_by\(""" -> "arg_min(",
    """\bcollect_set\(""" -> "list(DISTINCT ",
    """<=>""" -> "IS NOT DISTINCT FROM")

  private def regex(pattern: String, replacement: String): String => String = {
    val r = pattern.r
    s => r.replaceAllIn(s, replacement)
  }

  private val hexPrefix = """(?s)substr\(.*,\s*\d+,\s*8\)""".r

  private val rules: Seq[String => String] =
    renames.map { case (p, r) => regex(p, Regex.quoteReplacement(r)) } ++ Seq(
      // percentile_disc(p) WITHIN GROUP (ORDER BY e) → quantile_disc(e, p),
      // for a parenthesis-free ordering expression
      regex("""\bpercentile_disc\(([^()]*)\)\s+WITHIN GROUP \(ORDER BY ([^()]*)\)""",
        "quantile_disc($2, $1)"),
      // x RLIKE 'p' → regexp_matches(x, 'p'), for a (qualified) column x
      regex("""([\w.]+) RLIKE (""" + Mask + ")", "regexp_matches($1, $2)"),
      call("element_at") { case Seq(a, i) => s"${a.trim}[${i.trim}]" },
      // conv(substr(h, p, 8), 16, 10) → ('0x'||substr(h, p, 8)): eight hex
      // digits fit BIGINT, so DuckDB's hex-literal cast gives conv's value
      call("conv") {
        case Seq(h, b, t) if hexPrefix.matches(h.trim) && b.trim == "16" && t.trim == "10" =>
          s"('0x'||${h.trim})"
      })

  /** Rewrites each call `name(args)` whose top-level argument list `f`
    * accepts, innermost first; other calls of `name` are left as they are. */
  private def call(name: String)(f: PartialFunction[Seq[String], String]): String => String = {
    val open = ("""\b""" + name + """\(""").r.pattern
    def rewrite(s: String): String = {
      val out = new StringBuilder
      val m = open.matcher(s)
      var from = 0
      while (m.find(from)) {
        val close = closing(s, m.end)
        val inner = rewrite(s.substring(m.end, close))
        out ++= s.substring(from, m.start)
        f.lift(splitArgs(inner)) match {
          case Some(r) => out ++= r
          case None => out ++= s.substring(m.start, m.end) ++= inner += ')'
        }
        from = close + 1
      }
      (out ++= s.substring(from)).toString
    }
    rewrite
  }

  /** Index of the `)` that closes the parenthesis opened just before `i`. */
  private def closing(s: String, i: Int): Int = {
    var depth = 1
    var j = i
    while (depth > 0) {
      s(j) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      j += 1
    }
    j - 1
  }

  /** `s` split at its top-level commas. */
  private def splitArgs(s: String): Seq[String] = {
    val args = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    s.indices.foreach { j =>
      s(j) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => args += s.substring(start, j); start = j + 1
        case _ =>
      }
    }
    (args += s.substring(start)).result()
  }
}
