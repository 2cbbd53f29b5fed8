package graft

import scala.util.matching.Regex

/** Spark SQL → DuckDB SQL for the declared-query oracle texts.
  *
  * A closed, ordered rule list: it covers exactly the dialect deltas the
  * contract inventory uses and nothing else, so a query whose text needs
  * a delta outside the list keeps a hand-written oracle
  * (`Queries.q(name, spark, oracle)`). Quoted string literals pass
  * through byte-for-byte: they are masked before any rule runs. A
  * literal the two engines read differently is refused instead: Spark
  * unescapes a backslash that DuckDB keeps (`'\\.'` is a different
  * regex in each), and a double-quoted text is a Spark string but a
  * DuckDB identifier.
  *
  * Spark plan hints carry no meaning for a result, so the rules drop
  * them: a hinted `(SELECT cols FROM t)` subquery reads as `t`, and a
  * bare hint comment goes. A hint thus stays in the one text, and no
  * oracle depends on its width (`SPARK_GRAFT_CPUS`).
  *
  * A rule that emits an infix operator (`->>`) fires only where its
  * output needs no parentheses.
  *
  * Each rule folds at least one inventory entry; add a rule only with
  * the entry it folds. DuckDialectSpec checks every rule, that dropping
  * any one of them changes some derived oracle, and that no two-text
  * entry is one the rewriter reproduces up to whitespace and keyword
  * case; ContractSpec pins the digest of all oracle texts, so a rule
  * change that alters an oracle byte fails there.
  */
object DuckDialect {

  def apply(spark: String): String = derive(spark, rules)

  /** `spark` rewritten by `rules` ([[apply]] passes the full list);
    * throws, naming the text, on a literal with a backslash or in
    * double quotes. */
  private[graft] def derive(spark: String, rules: Seq[String => String]): String = {
    val literals = Literal.findAllIn(spark).toVector
    literals.find(_.contains('\\')).foreach(l =>
      throw new IllegalArgumentException(s"backslash in literal $l: write the oracle by hand\n$spark"))
    val code = Literal.replaceAllIn(spark, _ => Regex.quoteReplacement(Mask))
    if (code.contains('"'))
      throw new IllegalArgumentException(s"double-quoted text: write the oracle by hand\n$spark")
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
    """\barray_max\(""" -> "list_max(",
    """\bjaro_winkler\(""" -> "jaro_winkler_similarity(",
    """\bfold_accents\(""" -> "strip_accents(",
    """\bpercentile\(""" -> "quantile_cont(",
    """<=>""" -> "IS NOT DISTINCT FROM")

  private def regex(pattern: String, replacement: String): String => String = {
    val r = pattern.r
    s => r.replaceAllIn(s, replacement)
  }

  private val hexPrefix = """(?s)substr\(.*,\s*\d+,\s*8\)""".r

  /** `transform(sequence(1, size(w)-K), i -> concat_ws(sep, slice(w, i, W)))`,
    * the word shingles of `w`; rewritten only when the width W is K+1. */
  private val shingles = ("""\btransform\(sequence\(1, size\((\w+)\)-(\d+)\), (\w+) -> """ +
    """concat_ws\((""" + Mask + """), slice\(\1, \3, (\d+)\)\)\)""").r

  private[graft] val rules: Seq[String => String] = Seq[String => String](
    // (SELECT /*+ hint */ cols FROM t) → t, then any bare hint comment
    // is dropped: Spark plan hints carry no meaning for the result
    regex("""\(SELECT /\*\+ [^*]*\*/ \w+(?:, \w+)* FROM (\w+)\)""", "$1"),
    regex("""/\*\+ [^*]*\*/ """, ""),
    // the shingle comprehension → DuckDB's list comprehension over l[i:j]
    s => shingles.replaceSomeIn(s, m => {
      val Seq(w, k, i, sep, width) = m.subgroups
      Option.when(width.toInt == k.toInt + 1)(Regex.quoteReplacement(
        s"[array_to_string($w[$i:$i+$k],$sep) FOR $i IN range(1, len($w)-${k.toInt - 1})]"))
    }),
    // FROM VALUES (…), … AS t(c…) → FROM (VALUES (…), …) AS t(c…)
    regex("""\bFROM VALUES ((?:\([^()]*\),?\s*)+?) AS (\w+\()""", "FROM (VALUES $1) AS $2"),
    // listagg(e, s) WITHIN GROUP (ORDER BY k) → string_agg(e, s ORDER BY k)
    regex("""\blistagg\(((?:[^()]|\([^()]*\))*)\) WITHIN GROUP \(ORDER BY ([^()]*)\)""",
      "string_agg($1 ORDER BY $2)")) ++
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
      },
      call("cosine_sim") { case Seq(a, b) =>
        s"cast(list_cosine_similarity(${a.trim}, ${b.trim}) AS DOUBLE)"
      },
      // array(a, …) → [a, …]
      call("array") { case args => args.mkString("[", ",", "]") },
      // f(args) IGNORE NULLS → f(args IGNORE NULLS), for a value or offset window function
      regex("""\b((?:first|last|nth)_value|lead)\(((?:[^()]|\([^()]*\))*)\) IGNORE NULLS\b""",
        "$1($2 IGNORE NULLS)"),
      // slice(w, i, n) → w[i:i+n-1], for a list column w and a literal width n
      call("slice") {
        case Seq(w, i, n) if Word.matches(w.trim) && Digits.matches(n.trim) =>
          val last = n.trim.toInt - 1
          val to = if (Digits.matches(i.trim)) s"${i.trim.toInt + last}" else s"${i.trim}+$last"
          s"${w.trim}[${i.trim}:$to]"
      },
      // concat_ws(s, w[i:j]) → array_to_string(w[i:j], s): joins a list slice
      call("concat_ws") { case Seq(sep, l) if Sliced.matches(l.trim) =>
        s"array_to_string(${l.trim},${leading(l)}${sep.trim})"
      },
      // get_json_object(p, 'k') → p->>'k', where the operator needs no parentheses
      regex("""(?<=[(,]\s{0,8})get_json_object\(([\w.]+),\s*(""" + Mask + """)\)(?=\s*(?:[,)]|AS\b))""",
        "$1->>$2"),
      // regexp_replace(s, p, r) → regexp_replace(s, p, r, 'g'): Spark replaces every match
      call("regexp_replace") { case args @ Seq(_, _, r) =>
        s"regexp_replace(${args.mkString(",")},${leading(r)}'g')"
      }) ++
    // datediff(a, b) → datediff('day', b, a), under either Spark spelling
    Seq("datediff", "date_diff").map(name => call(name) { case Seq(a, b) =>
      s"$name('day', ${b.trim}, ${a.trim})"
    })

  private val Word = """\w+""".r
  private val Digits = """\d+""".r
  /** A slice `w[i:j]` of a list column, as the slice rule writes it. */
  private val Sliced = """\w+\[[^\[\]]*\]""".r
  /** The whitespace an argument starts with. */
  private def leading(arg: String): String = arg.takeWhile(_.isWhitespace)

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
