package graft

import scala.collection.immutable.ListMap

/** The declared query inventory (SURVEY.md §2 — THE CONTRACT).
  *
  * Each entry carries the Spark-dialect SQL (run by the engine) and the
  * DuckDB-dialect oracle SQL (run by the driver's correctness gate on the
  * same parquet tables). Canonical semantics are defined by the oracle text
  * in SURVEY.md §2.10. An entry written once, `q(name, sql)`, gets its
  * oracle from [[DuckDialect]], whose rule list is the table of dialect
  * deltas. An entry keeps a hand-written oracle, `q(name, spark, oracle)`,
  * only where the rewrite does not reproduce that oracle byte-for-byte:
  *  - list comprehensions and `l[i:j]` slices vs `transform`/`slice`,
  *    other than the word-shingle idiom the rewriter derives;
  *  - `[…]` vs `array(…)` literals;
  *  - ASOF JOIN vs the window-emulated as-of;
  *  - argument-order and unit deltas (`datediff`, `date_format` vs
  *    `strftime`, `dayofweek` vs `isodow`, regex flags);
  *  - functions with no common name or shape (JSON access, IGNORE
  *    NULLS placement);
  *  - genuinely different plans of the same result, such as x80's
  *    window-counted fingerprints and x137's salted aggregate, or casts
  *    DuckDB needs around HUGEINT sums.
  *
  * Spark plan hints stay in the one text, next to the comment that
  * explains them: a hinted input is written as a `REPARTITION`-hinted
  * `(SELECT cols FROM t)` where it is used, and the rewriter reads it
  * as `t`.
  *
  * Determinism rules baked into every query (SURVEY.md §5.4): total ORDER BY
  * with a unique key suffix, floats rounded in-query, explicit NULL ordering,
  * unique window tie-break keys, µs timestamp precision.
  */
object Queries {

  /** A contract query: Spark SQL + DuckDB oracle SQL; `handWritten`
    * when the oracle is a second text rather than the rewrite. */
  final case class Q(name: String, spark: String, oracle: String, handWritten: Boolean)

  /** One text: the oracle is its [[DuckDialect]] rewrite. */
  private def q(name: String, sql: String): Q =
    Q(name, sql, DuckDialect(sql), handWritten = false)

  /** Two texts, for a query the rewriter does not reproduce (see the
    * object doc for the kinds of fork that remain). */
  private def q(name: String, spark: String, oracle: String): Q =
    Q(name, spark, oracle, handWritten = true)

  /** Explicit-repartition width for the few Spark-dialect texts whose hot
    * path EXPLODES (join/window output ≫ every input): input-bytes-based
    * partitioning — the bench protocol's volume-sized static shuffle AND
    * AQE's coalescing alike — sees single-digit-MB inputs and folds such a
    * plan into ONE task, serializing tens of millions of produced rows
    * (the exploding-join blind spot; history/OPTIMIZATION_r18.md §6).
    * Parameterized off the run's core count ([[Harness.cpus]]: a
    * malformed `SPARK_GRAFT_CPUS` fails the run), NOT a hard-coded local
    * constant: the 8-core companion run gets width 8, a cluster session
    * gets its configured width. At 100 TB the same hint is the explicit
    * hash-repartition any exploding self-join needs; width there is sized
    * to cores/output-volume, and AQE skew splits handle residual key skew.
    * Hash partitioning is deterministic and aggregation-exact, so declared
    * results are bit-identical at any width (InvariantsSpec pins this). */
  private def hintPar: Int = Harness.cpus

  /** Deliberately-quadratic exact baselines (the plans their banded/LSH
    * siblings are recall-verified against). Contract-SF only: Verify
    * skips them on non-contract corpora (the 10× soak), where their
    * O(n²) shape is the known scale-killer, not a regression. */
  val exactBaselines: Set[String] = Set("x48_jaccard_topk", "x49_cosine_pairs",
    // r17 audit entries that EMBED the quadratic exact pair join by
    // design (their point is exact-vs-estimate error, so the exact side
    // cannot be banded away): same contract-SF-only rule
    "x364_lsh_band_sensitivity", "x365_minhash_jaccard_err",
    "x367_neardup_transitivity",
    // r17b: exact tri-width gram joins over the banded candidates —
    // the exact sides ARE the audited truth (same rule as x365)
    "x379_shingle_size_sensitivity",
    // r17b: measured banding recall needs the exact all-sharing-pairs
    // truth to measure AGAINST (same rule)
    "x386_lsh_recall_audit")

  val all: Seq[Q] = Seq(
    // ---- scans / filters / predicates -------------------------------------
    q("q01_count",
      "SELECT count(*) AS n FROM lineitem"),

    // NOTE: (l_orderkey, l_linenumber) is NOT unique in the corpus (verified
    // 11785 dup pairs at sf0.01) — order by every output column so the
    // serialized result is total-ordered (ties ⇒ identical rows).
    q("q02_project_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin),

    q("q03_in_list",
      """SELECT event_id, user_id, event_type, round(value,4) AS v FROM events
        |WHERE event_type IN ('error','signup') AND value > 100 ORDER BY event_id""".stripMargin),

    q("q04_regex_grep",
      """SELECT doc_id, n_chars FROM documents
        |WHERE text RLIKE '(join|merge).*(window|stream)'
        |ORDER BY doc_id""".stripMargin),

    // ---- aggregations -----------------------------------------------------
    q("q05_histogram",
      "SELECT event_type, count(*) AS c FROM events GROUP BY event_type ORDER BY c DESC, event_type"),

    q("q06_hourly_series",
      """SELECT date_trunc('hour', ts) AS h, count(*) AS c, round(sum(value),4) AS s
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // cast to DATE: DuckDB's date_trunc('day') yields DATE, Spark's TIMESTAMP
    q("q07_daily_matrix",
      "SELECT cast(date_trunc('day', ts) AS DATE) AS d, event_type, count(*) AS c FROM events GROUP BY 1,2 ORDER BY 1,2"),

    q("q08_distinct_users",
      "SELECT event_type, count(DISTINCT user_id) AS u FROM events GROUP BY 1 ORDER BY 1"),

    q("q09_multi_agg",
      """SELECT event_type, round(min(value),4) AS mn, round(max(value),4) AS mx,
        |       round(avg(value),4) AS av, round(sum(value),4) AS sm
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q10_topk_users",
      "SELECT user_id, count(*) AS c FROM events GROUP BY 1 ORDER BY c DESC, user_id LIMIT 10"),

    q("q11_rollup",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS c FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, c""".stripMargin),

    q("q12_having_subquery",
      """SELECT user_id, count(*) AS c FROM events GROUP BY 1
        |HAVING count(*) > (SELECT count(*)*1.0/count(DISTINCT user_id) FROM events)
        |ORDER BY user_id""".stripMargin),

    q("q13_wordcount",
      """SELECT w, count(*) AS c
        |FROM (SELECT explode(split(text,' ')) AS w FROM documents)
        |GROUP BY w ORDER BY c DESC, w LIMIT 20""".stripMargin),

    q("q14_conditional_agg",
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type='purchase') AS purchases,
        |       round(sum(value) FILTER (WHERE event_type='purchase'),4) AS spend,
        |       count(*) FILTER (WHERE event_type='error') AS errors
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- joins ------------------------------------------------------------
    q("q15_inner_join",
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice),4) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q16_multiway_join",
      """SELECT n_name, count(*) AS c, round(sum(l_extendedprice*(1-l_discount)),4) AS rev
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |  JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey
        |WHERE o_orderstatus='F' GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q17_left_join",
      """SELECT c_custkey, count(o_orderkey) AS c FROM customer
        |LEFT JOIN orders ON c_custkey=o_custkey GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q18_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_orderstatus='F')
        |ORDER BY c_custkey""".stripMargin),

    q("q19_anti_join",
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_orderstatus='P')
        |ORDER BY c_custkey""".stripMargin),

    q("q20_full_outer",
      """SELECT coalesce(c.k, s.k) AS k, c.cc, s.sc
        |FROM (SELECT c_nationkey AS k, count(*) AS cc FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS k, count(*) AS sc FROM supplier GROUP BY 1) s ON c.k=s.k
        |ORDER BY k""".stripMargin),

    q("q21_cross_join",
      "SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2 ORDER BY 1,2"),

    q("q22_range_join",
      """SELECT b.lo, count(*) AS c FROM part p
        |JOIN (VALUES (900,920),(920,940),(940,960),(960,980),(980,1000)) AS b(lo,hi)
        |  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
        |GROUP BY b.lo ORDER BY b.lo""".stripMargin),

    // As-of join: Spark has no ASOF — window emulation (SURVEY.md §2.3 #19).
    // Union clicks+purchases per user ordered by (ts, is_click DESC, event_id)
    // so a ts-equal click sorts before the purchase (`>=` tie semantics),
    // then last_value(click_id) IGNORE NULLS carries the latest click forward.
    q("q23_asof_join",
      """WITH u AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type='click' THEN 1 ELSE 0 END AS is_click,
        |         CASE WHEN event_type='click' THEN event_id END AS cid
        |  FROM events WHERE event_type IN ('click','purchase')),
        |w AS (
        |  SELECT event_id, is_click,
        |         last_value(cid, true) OVER (
        |           PARTITION BY user_id ORDER BY ts, is_click DESC, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        |  FROM u)
        |SELECT event_id AS purchase_id, click_id FROM w WHERE is_click=0
        |ORDER BY purchase_id""".stripMargin,
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type='purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    q("q24_broadcast_join",
      "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey=r_regionkey ORDER BY n_name"),

    // ---- window functions -------------------------------------------------
    q("q25_ranking",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice,4) AS tp,
        |         rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |         dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS dr
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk, o_orderkey""".stripMargin),

    q("q26_lag_gap",
      """SELECT user_id, round(avg(gap_ms),4) AS avg_gap
        |FROM (SELECT user_id,
        |             unix_millis(ts) - lag(unix_millis(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        |      FROM events)
        |WHERE gap_ms IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q27_moving_avg",
      """SELECT d, round(avg(s) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS ma7
        |FROM (SELECT cast(date_trunc('day',ts) AS DATE) AS d, sum(value) AS s FROM events GROUP BY 1) ORDER BY d""".stripMargin),

    q("q28_running_total",
      """SELECT event_id, user_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING),4) AS rt
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    q("q29_ntile",
      """SELECT c_custkey, ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quart,
        |       round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey),4) AS pr
        |FROM customer ORDER BY c_custkey""".stripMargin),

    q("q30_first_last",
      """SELECT DISTINCT user_id,
        |  first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ev,
        |  last_value(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ev
        |FROM events ORDER BY user_id""".stripMargin),

    q("q31_sessionization",
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |               OR unix_millis(ts) - lag(unix_millis(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |per AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1,2)
        |SELECT user_id, count(*) AS sessions, round(avg(n),4) AS avg_len FROM per GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- sorts / limits / set ops ----------------------------------------
    q("q32_sort_limit_offset",
      """SELECT c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC NULLS LAST, c_name LIMIT 20 OFFSET 10""".stripMargin),

    q("q33_union",
      """SELECT 'all' AS tag, count(*) AS c FROM (SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'dist' AS tag, count(*) AS c FROM (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier)
        |ORDER BY tag""".stripMargin),

    q("q34_intersect",
      """SELECT user_id FROM events WHERE event_type='purchase' AND value>190
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type='error' AND value>190 ORDER BY user_id""".stripMargin),

    q("q35_except",
      """SELECT user_id FROM events WHERE event_type='purchase' AND value>180
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type='error' AND value>180 ORDER BY user_id""".stripMargin),

    // ---- scalar function batteries ---------------------------------------
    q("q36_string_funcs",
      """SELECT c_custkey, upper(c_name) AS up, lower(c_name) AS lo, substr(c_name,1,8) AS sub,
        |       length(c_name) AS len, concat(c_name,'-',c_mktsegment) AS cat,
        |       replace(c_name,'#','@') AS rep,
        |       lpad(cast(c_custkey AS STRING),8,'0') AS pad
        |FROM customer ORDER BY c_custkey""".stripMargin),

    q("q37_date_funcs",
      """SELECT o_orderkey, extract(year FROM o_orderdate) AS y, extract(month FROM o_orderdate) AS m,
        |       extract(day FROM o_orderdate) AS d, cast(o_orderdate + INTERVAL 30 DAY AS DATE) AS due
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin),

    q("q38_math_funcs",
      """SELECT l_orderkey, l_linenumber, round(abs(l_discount-0.05),4) AS a, cast(ceil(l_quantity) AS BIGINT) AS c,
        |       cast(floor(l_quantity) AS BIGINT) AS f, round(sqrt(l_extendedprice),4) AS sq,
        |       round(ln(l_extendedprice+1),4) AS lg, round(power(l_discount+1,2),4) AS pw,
        |       mod(l_orderkey,7) AS md
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_discount
        |LIMIT 500""".stripMargin),

    q("q39_json_extract",
      """SELECT event_id, cast(get_json_object(props,'$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
      """SELECT event_id, cast(props->>'$.k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    q("q40_array_access",
      """SELECT vec_id, size(embedding) AS dim,
        |       round(cast(element_at(embedding,1) AS DOUBLE),4) AS e1, label
        |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin),

    q("q41_collect_agg",
      """SELECT user_id, array_join(sort_array(collect_set(event_type)),',') AS types
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- LLM-data-pipeline (hash-checked subset, SURVEY.md §2.8) ----------
    q("q42_dedup_census",
      """SELECT count(*) AS total, count(DISTINCT text) AS uniq_text, count(DISTINCT md5(text)) AS uniq_hash
        |FROM documents""".stripMargin),

    // Cosine top-k via the native codegen'd expression (graft.functions
    // .CosineSim; registered by Catalog.ensure). Arithmetic is identical
    // to the zip_with/aggregate HOF form — per-element widen to double,
    // double accumulation — but HOFs are CodegenFallback (interpreted
    // lambda per element) while this is one primitive loop in whole-stage
    // codegen: q43 exec 121ms→57ms, x49 (2M pairs) 11.5s→1.4s at sf0.1.
    q("q43_cosine_topk",
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id=0)
        |SELECT v.vec_id, round(cosine_sim(v.embedding, q.e), 4) AS sim
        |FROM embeddings v, q WHERE v.vec_id <> 0
        |ORDER BY sim DESC, v.vec_id LIMIT 10""".stripMargin,
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id=0)
        |SELECT v.vec_id, round(cast(list_cosine_similarity(v.embedding, q.e) AS DOUBLE),4) AS sim
        |FROM embeddings v, q WHERE v.vec_id <> 0 ORDER BY sim DESC, v.vec_id LIMIT 10""".stripMargin),

    q("q44_text_stats",
      """SELECT lang, count(*) AS n, round(avg(n_chars),4) AS avg_c,
        |       round(cast(median(n_chars) AS DOUBLE),1) AS med
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q45_tumbling_window",
      """SELECT cast(floor(unix_millis(ts)/21600000.0) AS BIGINT) AS w, count(*) AS c, round(sum(value),4) AS s
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q46_correlated_scalar",
      """SELECT c_custkey, (SELECT round(max(o_totalprice),4) FROM orders WHERE o_custkey=c_custkey) AS max_order
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ==== LLM-data-pipeline extensions (x47+) ============================
    // Oracle-checked like the core inventory; excluded from Bench (the
    // BASELINE.md suite is exactly q01-q46).

    // Exact dedup over a normalized representation (sorted distinct token
    // set): keep the lowest doc_id per key, report the dropped docs.
    q("x47_dedup_keep_first",
      """WITH k AS (SELECT doc_id,
        |  md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key
        |  FROM documents),
        |f AS (SELECT key, min(doc_id) AS keeper FROM k GROUP BY 1)
        |SELECT k.doc_id, f.keeper FROM k JOIN f ON k.key=f.key
        |WHERE k.doc_id <> f.keeper ORDER BY k.doc_id""".stripMargin),

    // EXACT BASELINE — quadratic in per-shingle document frequency BY
    // DESIGN; at scale use x52 (MinHash+LSH) / x74 (banded SQL twin),
    // whose recall is spec-verified against THIS query. Capped to the
    // contract SFs: Verify skips it on non-contract corpora
    // (Queries.exactBaselines).
    // Near-dup candidate generation + scoring: word 3-gram shingles,
    // inverted index self-join, exact Jaccard, top-20 most similar pairs.
    // r18b: the same serialized-expansion fix as x80 (guide §3.3; see
    // hintPar and history/OPTIMIZATION_r18.md §8) — the docs scan is one row
    // group, so the shingle explode, the inverted-index self-join's
    // probe side AND the (a,b) pair count all ran in ONE task. One
    // hash-repartition hint on documents parallelizes all three
    // (HashPartitioning(doc_id) flows to a = sa.doc_id, so the pair agg
    // stays in-task). Result-identical; DuckDialect drops the hint.
    q("x48_jaccard_topk",
      s"""WITH t AS (SELECT doc_id,
        |  array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3)))) AS shs
        |  FROM (SELECT doc_id, split(text,' ') AS w FROM (SELECT /*+ REPARTITION($hintPar, doc_id) */ doc_id, text FROM documents)) WHERE size(w) >= 3),
        |n AS (SELECT doc_id, size(shs) AS n FROM t),
        |s AS (SELECT doc_id, explode(shs) AS sh FROM t),
        |p AS (SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS c
        |      FROM s sa JOIN s sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id GROUP BY 1,2)
        |SELECT p.a, p.b, cast(floor(p.c*10000.0/(na.n + nb.n - p.c)) AS BIGINT) AS jac_bp
        |FROM p JOIN n na ON p.a=na.doc_id JOIN n nb ON p.b=nb.doc_id
        |ORDER BY jac_bp DESC, p.a, p.b LIMIT 20""".stripMargin),

    // EXACT BASELINE — all-pairs (O(n²)) BY DESIGN; at scale use x54
    // (LSH ANN) / x59 (IVF) / x103 (IVFPQ), spec-verified against this
    // brute force. Capped to the contract SFs via Queries.exactBaselines.
    // Top-20 cosine pairs over the embedding table; the native cosine_sim
    // expression (see q43 note) keeps the 2M-pair loop in codegen.
    // r18b: same class as x48 — the all-pairs loop streamed the single
    // row-group embeddings scan through ONE BroadcastNestedLoopJoin
    // task; repartitioning the streamed side runs the pair loop
    // width-way parallel (top-20 is a per-partition partial TakeOrdered).
    q("x49_cosine_pairs",
      s"""SELECT va.vec_id AS a, vb.vec_id AS b,
        |       round(cosine_sim(va.embedding, vb.embedding), 4) AS sim
        |FROM (SELECT /*+ REPARTITION($hintPar, vec_id) */ vec_id, embedding FROM embeddings) va JOIN embeddings vb ON va.vec_id < vb.vec_id
        |ORDER BY sim DESC, a, b LIMIT 20""".stripMargin),

    // Per-document quality scoring: token counts, type-token ratio,
    // stopword ratio, composite quality. All ratio outputs are integer
    // basis points via floor() — round-half rules differ across engines
    // and small-integer ratios hit .xxxx5 boundaries often (observed:
    // quality 0.65875 at sf0.1 rounded 0.6587 vs 0.6588).
    q("x50_quality_score",
      """SELECT doc_id, n_toks, n_types,
        |       cast(floor(n_types*10000.0/n_toks) AS BIGINT) AS ttr_bp,
        |       cast(floor(n_stop*10000.0/n_toks) AS BIGINT) AS stop_bp,
        |       cast(floor((0.4*(n_types/cast(n_toks AS DOUBLE))
        |             + 0.3*(1.0 - n_stop/cast(n_toks AS DOUBLE))
        |             + 0.3*least(n_toks/100.0, 1.0))*10000.0) AS BIGINT) AS quality_bp
        |FROM (SELECT doc_id, size(w) AS n_toks, size(array_distinct(w)) AS n_types,
        |             size(filter(w, x -> x IN ('a','the'))) AS n_stop
        |      FROM (SELECT doc_id, split(text,' ') AS w FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // Token counting per source: whitespace tokens, distinct vocab, chars
    // (the corpus-accounting pass a training-data pipeline runs first).
    q("x58_token_counts",
      """SELECT source, count(*) AS docs,
        |       sum(size(split(text,' '))) AS toks,
        |       sum(size(array_distinct(split(text,' ')))) AS vocab_sum,
        |       sum(n_chars) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // CAST the sums: DuckDB sum(INTEGER) yields HUGEINT (int128), which
      // survives fetchall() as int but turns float64 through pandas —
      // "1435.0" vs Spark's BIGINT "1435" is a hash mismatch (r1 failure).
      """SELECT source, count(*) AS docs,
        |       cast(sum(len(string_split(text,' '))) AS BIGINT) AS toks,
        |       cast(sum(len(list_distinct(string_split(text,' ')))) AS BIGINT) AS vocab_sum,
        |       cast(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // CUBE over two dims (same Expand machinery as q11's ROLLUP, all four
    // grouping combinations).
    q("x60_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS c, round(sum(l_quantity),4) AS q
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Pivot: per-user event-type count matrix. Spark PIVOT with an
    // explicit IN list (deterministic columns); oracle spells the same
    // matrix as conditional aggregates with matching column names.
    // coalesce the pivoted cells: Spark PIVOT yields NULL for an empty
    // (user, type) cell, DuckDB's FILTER count yields 0
    q("x61_pivot",
      """SELECT user_id, coalesce(click,0) AS click, coalesce(purchase,0) AS purchase,
        |       coalesce(error,0) AS error, coalesce(signup,0) AS signup,
        |       coalesce(view,0) AS view
        |FROM (SELECT * FROM (SELECT user_id, event_type FROM events)
        |      PIVOT (count(*) FOR event_type IN ('click' AS click, 'purchase' AS purchase,
        |             'error' AS error, 'signup' AS signup, 'view' AS view)))
        |ORDER BY user_id""".stripMargin,
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type='click') AS click,
        |       count(*) FILTER (WHERE event_type='purchase') AS purchase,
        |       count(*) FILTER (WHERE event_type='error') AS error,
        |       count(*) FILTER (WHERE event_type='signup') AS signup,
        |       count(*) FILTER (WHERE event_type='view') AS view
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin),

    // Typed JSON parse (from_json with a schema — parse once into a
    // struct, the at-scale alternative to per-field get_json_object).
    q("x62_json_typed",
      """SELECT event_id, from_json(props, 'k INT').k AS k
        |FROM events ORDER BY event_id""".stripMargin,
      """SELECT event_id, cast(props->>'$.k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // Exact interpolated percentiles per group (beyond q44's median):
    // Spark percentile() and DuckDB quantile_cont both linear-interpolate.
    q("x63_percentiles",
      """SELECT event_type,
        |       round(percentile(value, 0.25), 4) AS p25,
        |       round(percentile(value, 0.5), 4) AS p50,
        |       round(percentile(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 4) AS p25,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Language-ID as a trained classifier: per-language unigram profiles
    // (Laplace-smoothed), per-doc log-likelihood argmax, accuracy by true
    // lang. Profiles are tiny → broadcast to the doc-word join at scale.
    // Determinism: per-term log-prob is quantized to integer micro-nats
    // (floor(ln·1e6)) BEFORE summing, so the score is an exact integer in
    // both engines — a float score sum is order-dependent and an exact
    // mathematical tie between two languages would be broken by noise,
    // not by the cand tie-break. The oracle's `correct` sum is cast to
    // BIGINT (DuckDB integer sum → HUGEINT → float64 via pandas).
    q("x51_langid",
      """WITH wt AS (SELECT doc_id, lang, explode(split(text,' ')) AS w FROM documents),
        |counts AS (SELECT lang AS l, w, count(*) AS c FROM wt GROUP BY 1,2),
        |tot AS (SELECT l, sum(c) AS tc FROM counts GROUP BY 1),
        |dw AS (SELECT doc_id, lang, w, count(*) AS n FROM wt GROUP BY 1,2,3),
        |sc AS (SELECT d.doc_id, d.lang AS true_lang, t.l AS cand,
        |              sum(d.n * cast(floor(ln((coalesce(c.c,0)+1.0)/(t.tc+31.0))*1000000) AS BIGINT)) AS score
        |       FROM dw d CROSS JOIN tot t LEFT JOIN counts c ON c.l = t.l AND c.w = d.w
        |       GROUP BY 1,2,3),
        |pred AS (SELECT doc_id, true_lang, cand,
        |                row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        |         FROM sc)
        |SELECT true_lang AS lang, count(*) AS n,
        |       sum(CASE WHEN cand = true_lang THEN 1 ELSE 0 END) AS correct
        |FROM pred WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH wt AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w FROM documents),
        |counts AS (SELECT lang AS l, w, count(*) AS c FROM wt GROUP BY 1,2),
        |tot AS (SELECT l, sum(c) AS tc FROM counts GROUP BY 1),
        |dw AS (SELECT doc_id, lang, w, count(*) AS n FROM wt GROUP BY 1,2,3),
        |sc AS (SELECT d.doc_id, d.lang AS true_lang, t.l AS cand,
        |              sum(d.n * cast(floor(ln((coalesce(c.c,0)+1.0)/(t.tc+31.0))*1000000) AS BIGINT)) AS score
        |       FROM dw d CROSS JOIN tot t LEFT JOIN counts c ON c.l = t.l AND c.w = d.w
        |       GROUP BY 1,2,3),
        |pred AS (SELECT doc_id, true_lang, cand,
        |                row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        |         FROM sc)
        |SELECT true_lang AS lang, count(*) AS n,
        |       cast(sum(CASE WHEN cand = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS correct
        |FROM pred WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Statistical aggregates (corr / covariance / stddev / variance) —
    // the profiling pass of a data-quality pipeline. Same function names
    // in both dialects; both compute in double and are rounded 4dp.
    q("x64_stats",
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice),4) AS co,
        |       round(covar_pop(l_quantity, l_extendedprice),4) AS cv,
        |       round(stddev_samp(l_quantity),4) AS sd,
        |       round(var_samp(l_quantity),4) AS vr
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Edit distance (levenshtein) vs an anchor string — the fuzzy-match
    // primitive for near-dup keys too short for shingling.
    q("x65_editdist",
      """SELECT c_custkey, cast(levenshtein(c_name,'Customer#000000001') AS INT) AS d
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Regex capture-group extraction + regex replace (structured field
    // recovery from semi-structured log text — the core parse op).
    // DuckDB's regexp_replace is first-match-only without the 'g' flag;
    // Spark's is global by default.
    q("x66_regex_extract",
      """SELECT o_orderkey,
        |       regexp_extract(o_orderpriority,'([0-9])-(.*)',2) AS word,
        |       cast(regexp_extract(o_orderpriority,'([0-9])',1) AS INT) AS num,
        |       regexp_replace(o_orderpriority,'[AEIOU]','_') AS rep
        |FROM orders ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey,
        |       regexp_extract(o_orderpriority,'([0-9])-(.*)',2) AS word,
        |       cast(regexp_extract(o_orderpriority,'([0-9])',1) AS INT) AS num,
        |       regexp_replace(o_orderpriority,'[AEIOU]','_','g') AS rep
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // RANGE-frame window (value-based, not row-based): 3-day windowed sum
    // over the daily revenue series — gaps in the day sequence widen the
    // frame correctly, unlike a ROWS frame.
    q("x67_range_frame",
      """SELECT dn, round(sum(s) OVER (ORDER BY dn RANGE BETWEEN 2 PRECEDING AND CURRENT ROW),4) AS r3
        |FROM (SELECT cast(floor(unix_millis(ts)/86400000.0) AS BIGINT) AS dn, sum(value) AS s
        |      FROM events GROUP BY 1)
        |ORDER BY dn""".stripMargin),

    // Explicit GROUPING SETS + grouping() markers (the general form of
    // q11's ROLLUP / x60's CUBE). grouping() output cast to INT on both
    // sides (Spark returns TINYINT, DuckDB BIGINT).
    q("x68_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |       cast(grouping(o_orderstatus) AS INT) AS g1,
        |       cast(grouping(o_orderpriority) AS INT) AS g2, count(*) AS c
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus),(o_orderpriority),())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // Time-series gap fill: dense hour axis from sequence/generate_series,
    // left join the sparse per-hour counts, zero-fill the holes (the
    // dashboard-correctness op a log pipeline always needs).
    q("x69_gap_fill",
      """WITH h AS (SELECT cast(floor(unix_millis(ts)/3600000.0) AS BIGINT) AS hn, count(*) AS c
        |           FROM events WHERE event_type='signup' AND value > 150 GROUP BY 1)
        |SELECT b.hn, coalesce(h.c, 0) AS c
        |FROM (SELECT explode(sequence((SELECT min(hn) FROM h),(SELECT max(hn) FROM h))) AS hn) b
        |LEFT JOIN h ON b.hn = h.hn ORDER BY b.hn""".stripMargin),

    // Conditional-expression battery: searched CASE, nullif/coalesce,
    // greatest/least (all identical across dialects).
    q("x70_conditional",
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity>25 THEN 'hi' WHEN l_quantity>10 THEN 'mid' ELSE 'lo' END AS band,
        |       coalesce(nullif(l_returnflag,'N'),'none') AS rf,
        |       round(greatest(l_quantity, l_discount*100),4) AS g,
        |       round(least(l_tax, l_discount),4) AS l
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        |LIMIT 1000""".stripMargin),

    // Bitwise ops (hash-bucketing / flag-mask primitives). Spark `^` is
    // XOR while DuckDB's is power — DuckDB side uses xor(); shifts are
    // functions in Spark, operators in DuckDB.
    q("x71_bitwise",
      """SELECT o_orderkey, o_orderkey & 255 AS band, o_orderkey | 4096 AS bor,
        |       o_orderkey ^ 21845 AS bxor, shiftleft(o_orderkey,2) AS shl,
        |       shiftright(o_orderkey,3) AS shr
        |FROM orders ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey, o_orderkey & 255 AS band, o_orderkey | 4096 AS bor,
        |       xor(o_orderkey, 21845) AS bxor, o_orderkey << 2 AS shl,
        |       o_orderkey >> 3 AS shr
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Null-safe equality over full-outer-join results: Spark `<=>` ==
    // DuckDB `IS NOT DISTINCT FROM`.
    q("x72_nullsafe_eq",
      """SELECT coalesce(c.k, s.k) AS k, (c.cc <=> s.sc) AS eq_counts,
        |       (c.cc IS NULL) AS cust_missing
        |FROM (SELECT c_nationkey AS k, count(*) AS cc FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS k, count(*) AS sc FROM supplier GROUP BY 1) s ON c.k=s.k
        |ORDER BY k""".stripMargin),

    // Per-doc token-distribution entropy in integer micro-nats: each term
    // -(p·ln p) is floored to an integer BEFORE summing (same determinism
    // argument as x51 — float sums are order-dependent across engines).
    q("x73_entropy",
      """WITH c AS (SELECT doc_id, w, count(*) AS n
        |           FROM (SELECT doc_id, explode(split(text,' ')) AS w FROM documents)
        |           GROUP BY 1,2),
        |t AS (SELECT doc_id, sum(n) AS nt FROM c GROUP BY 1)
        |SELECT c.doc_id,
        |       cast(sum(cast(floor(-(c.n/cast(t.nt AS DOUBLE))*ln(c.n/cast(t.nt AS DOUBLE))*1000000) AS BIGINT)) AS BIGINT) AS ent_unat
        |FROM c JOIN t ON c.doc_id = t.doc_id GROUP BY 1 ORDER BY 1""".stripMargin),

    // MinHash signatures computed entirely in SQL — 16 affine permutations
    // over a 32-bit md5-prefix shingle hash, near-dup pairs where ≥8 of 16
    // signature slots agree. Unlike x52 (Scala MinHash+LSH, rows-only)
    // this variant is exactly reproducible in DuckDB → full hash check.
    // Spark gets hex→int via conv(); DuckDB casts a '0x…' literal.
    q("x74_minhash_sql",
      """WITH w AS (SELECT doc_id, split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, explode(array_distinct(
        |         transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |hv AS (SELECT doc_id, cast(conv(substr(md5(sh),1,8),16,10) AS BIGINT) AS hv FROM sh),
        |perm AS (SELECT * FROM VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891) AS perm(i,a,b)),
        |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
        |pairs AS (SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS m
        |          FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.mh = sb.mh AND sa.doc_id < sb.doc_id
        |          GROUP BY 1,2)
        |SELECT a, b, m FROM pairs WHERE m >= 8 ORDER BY a, b""".stripMargin),

    // Ordered string aggregation: Spark 4 listagg WITHIN GROUP == DuckDB
    // string_agg with ORDER BY (deterministic element order).
    q("x75_listagg",
      """SELECT c_nationkey, listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names
        |FROM customer WHERE c_custkey < 300 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Arg-max/arg-min (max_by/min_by vs arg_max/arg_min). The ordering
    // key (c_custkey) is unique, so ties — where both engines pick
    // arbitrarily — cannot occur.
    q("x76_argmax",
      """SELECT c_nationkey, max_by(c_name, c_custkey) AS newest, min_by(c_name, c_custkey) AS oldest
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),

    // Discrete percentiles (no interpolation — returns an actual data
    // value; deterministic unlike mode()). Spark WITHIN GROUP syntax,
    // DuckDB quantile_disc.
    q("x77_percentile_disc",
      """SELECT event_type,
        |       round(percentile_disc(0.25) WITHIN GROUP (ORDER BY value),4) AS p25d,
        |       round(percentile_disc(0.5)  WITHIN GROUP (ORDER BY value),4) AS p50d,
        |       round(percentile_disc(0.9)  WITHIN GROUP (ORDER BY value),4) AS p90d
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Sliding 6h windows every 3h (batch analog of streaming
    // window(ts,'6 hours','3 hours')): each event lands in exactly two
    // windows, materialized by exploding the two covering window ids.
    q("x78_sliding_window",
      """WITH k AS (SELECT cast(floor(unix_millis(ts)/10800000.0) AS BIGINT) AS k, value FROM events)
        |SELECT s, count(*) AS c, round(sum(value),4) AS v
        |FROM (SELECT explode(array(k-1, k)) AS s, value FROM k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH k AS (SELECT cast(floor(epoch_ms(ts)/10800000.0) AS BIGINT) AS k, value FROM events)
        |SELECT s, count(*) AS c, round(sum(value),4) AS v
        |FROM (SELECT unnest([k-1, k]) AS s, value FROM k)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SimHash computed entirely in SQL (companion to x53's Scala
    // operator, as x74 is to x52): 32-bit signature from md5-prefix token
    // hashes weighted by term frequency, near-dup pairs at Hamming ≤ 3.
    // All-integer weights → the sign of every bit weight is exact, no
    // float tie risk. Spark: conv()/shiftleft/^; DuckDB: 0x-cast/<</xor().
    // The pair stage is pigeonhole-banded exactly like the Scala path
    // (llm.Dedup.simHashNearDups): Hamming ≤ 3 over 32 bits means at
    // least one of 4 disjoint 8-bit chunks matches exactly, so the join
    // is chunk-equality (candidate-bounded), never doc_id < doc_id over
    // the full signature table — the O(n²) shape that exhausted the
    // oracle's temp disk at the 10× soak (SCALE.md §7).
    q("x79_simhash_sql",
      """WITH tok AS (SELECT doc_id, w, count(*) AS n
        |             FROM (SELECT doc_id, explode(split(text,' ')) AS w FROM documents)
        |             GROUP BY 1,2),
        |hv AS (SELECT doc_id, n, cast(conv(substr(md5(w),1,8),16,10) AS BIGINT) AS h FROM tok),
        |bits AS (SELECT doc_id, j, cast(sum(n * (2*((h >> j) & 1) - 1)) AS BIGINT) AS wt
        |         FROM hv CROSS JOIN (SELECT explode(sequence(0,31)) AS j) b
        |         GROUP BY 1,2),
        |sig AS (SELECT doc_id, cast(sum(CASE WHEN wt > 0 THEN shiftleft(cast(1 AS BIGINT), j) ELSE 0 END) AS BIGINT) AS sig
        |        FROM bits GROUP BY 1),
        |chunks AS (SELECT doc_id, sig, c, (sig >> (8*c)) & 255 AS ck
        |           FROM sig CROSS JOIN (SELECT explode(sequence(0,3)) AS c) cs),
        |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |                 cast(bit_count(x.sig ^ y.sig) AS INT) AS ham
        |          FROM chunks x JOIN chunks y
        |            ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id)
        |SELECT a, b, ham FROM pairs WHERE ham <= 3 ORDER BY a, b""".stripMargin,
      """WITH tok AS (SELECT doc_id, w, count(*) AS n
        |             FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |             GROUP BY 1,2),
        |hv AS (SELECT doc_id, n, cast(('0x'||substr(md5(w),1,8)) AS BIGINT) AS h FROM tok),
        |bits AS (SELECT doc_id, j, cast(sum(n * (2*((h >> j) & 1) - 1)) AS BIGINT) AS wt
        |         FROM hv CROSS JOIN (SELECT unnest(generate_series(0,31)) AS j) b
        |         GROUP BY 1,2),
        |sig AS (SELECT doc_id, cast(sum(CASE WHEN wt > 0 THEN (cast(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sig
        |        FROM bits GROUP BY 1),
        |chunks AS (SELECT doc_id, sig, c, (sig >> (8*c)) & 255 AS ck
        |           FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS c) cs(c)),
        |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |                 cast(bit_count(xor(x.sig, y.sig)) AS INT) AS ham
        |          FROM chunks x JOIN chunks y
        |            ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id)
        |SELECT a, b, ham FROM pairs WHERE ham <= 3 ORDER BY a, b""".stripMargin),

    // Winnowing fingerprints entirely in SQL (companion to x55's Scala
    // operator): char 8-gram md5-prefix hashes, per-window (4) minima via
    // a ROWS window frame, distinct fingerprint set per doc, containment
    // = |common| / |smaller set| in basis points, pairs ≥ 50%.
    // The pair join reads only REPEATED fingerprints (df ≥ 2 via the
    // `rep` prefilter): unique fps — the vast majority of any corpus —
    // contribute no pairs, so dropping them is output-preserving while
    // bounding the join input to actual candidates. This is what kept
    // the 10×-soak oracle from spilling to death (SCALE.md §7).
    //
    // r18 (VERDICT r17 #1, Spark dialect; guide §2.3 — aggregate before
    // you shuffle): the df ≥ 2 prefilter is now a two-phase
    // groupBy(fp) HAVING + join back, replacing
    // `count(*) OVER (PARTITION BY fp)` — the window form shuffled and
    // SORTED every (doc_id, fp) row per `rep` reference, while the
    // groupBy partial-aggregates map-side and its ~|distinct fp| output
    // broadcasts into the join. Filter semantics identical (both count
    // fps rows per fp; fps is distinct (doc_id, fp)). Measured 64.7 →
    // 40.9 s at sf0.1 under the protocol config. The per-position hash
    // is fused by FuseMd5Prefix32 (plans/Rules.scala); the DuckDB text
    // below keeps the window form verbatim. The remaining wall was the
    // exact 94.9M-row pair expansion — see history/OPTIMIZATION_r18.md §6/§8.
    //
    // r18b (guide §2.1/§3.3 — the exploding-join blind spot): every
    // byte-sized partitioning signal (static volume-sized shuffle, AQE
    // coalescing) sees this plan's single-digit-MB INPUTS and folds the
    // whole chain into ONE task — serializing the 40M-row explode+
    // window pass and the 95M-row pair expansion alike. ONE
    // hash-repartition hint on documents (width = the SPARK_GRAFT_CPUS
    // contract, see hintPar) fixes both with zero result change: the
    // explode/hash/window/distinct chain runs width-way parallel
    // (window needs only ClusteredDistribution(doc_id) — satisfied, so
    // this also REPLACES the old exchange that carried (doc_id,i,h)
    // per POSITION with one carrying docs, ~25× fewer shuffled bytes),
    // and HashPartitioning(doc_id) flows through the streamed side of
    // the pair join into GROUP BY (a,b) (a = x.doc_id alone determines
    // the partition), so the join probe AND both pair-count phases run
    // width-way parallel in-task, no post-join exchange. Measured
    // 60.4 → 3.14 s at sf0.1 under the protocol config (19×); plan in
    // plans/r18/x80_winnowing_sql_after.txt. (A second REPARTITION
    // above fps — a would-be reuse point for the 6 inlined copies — is
    // optimizer-removed as redundant with this one; the copies run
    // parallel and cheap.)
    q("x80_winnowing_sql",
      s"""WITH pos AS (SELECT doc_id, explode(sequence(1, greatest(length(text)-7,1))) AS i, text
        |             FROM (SELECT /*+ REPARTITION($hintPar, doc_id) */ doc_id, text FROM documents)),
        |h AS (SELECT doc_id, i, cast(conv(substr(md5(substr(text,i,8)),1,8),16,10) AS BIGINT) AS h FROM pos),
        |wmin AS (SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE i >= 4),
        |n AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
        |df AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) >= 2),
        |rep AS (SELECT fps.doc_id, fps.fp FROM fps JOIN df ON fps.fp = df.fp),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM rep x JOIN rep y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1,2)
        |SELECT a, b, contain_bp FROM (
        |  SELECT common.a, common.b, cast(floor(common.c*10000.0/least(na.n, nb.n)) AS BIGINT) AS contain_bp
        |  FROM common JOIN n na ON common.a = na.doc_id JOIN n nb ON common.b = nb.doc_id)
        |WHERE contain_bp >= 5000 ORDER BY contain_bp DESC, a, b""".stripMargin,
      """WITH pos AS (SELECT doc_id, unnest(generate_series(1, greatest(length(text)-7,1))) AS i, text FROM documents),
        |h AS (SELECT doc_id, i, cast(('0x'||substr(md5(substr(text,i,8)),1,8)) AS BIGINT) AS h FROM pos),
        |wmin AS (SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE i >= 4),
        |n AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
        |rep AS (SELECT doc_id, fp FROM (
        |          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
        |        WHERE df >= 2),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |           FROM rep x JOIN rep y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1,2)
        |SELECT a, b, contain_bp FROM (
        |  SELECT common.a, common.b, cast(floor(common.c*10000.0/least(na.n, nb.n)) AS BIGINT) AS contain_bp
        |  FROM common JOIN n na ON common.a = na.doc_id JOIN n nb ON common.b = nb.doc_id)
        |WHERE contain_bp >= 5000 ORDER BY contain_bp DESC, a, b""".stripMargin),

    // Session funnel: within q31's 30-min sessions, count sessions that
    // contain a click and sessions that convert (a purchase at-or-after
    // the first click). The click→purchase attribution query a log
    // pipeline exists to answer. Sums cast BIGINT (HUGEINT hazard).
    q("x81_funnel_sessions",
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |               OR unix_millis(ts) - lag(unix_millis(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |per AS (SELECT user_id, sid,
        |               min(CASE WHEN event_type='click' THEN ts END) AS fc,
        |               max(CASE WHEN event_type='purchase' THEN ts END) AS lp
        |        FROM s GROUP BY 1,2)
        |SELECT user_id, count(*) AS sessions,
        |       cast(sum(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_click,
        |       cast(sum(CASE WHEN fc IS NOT NULL AND lp IS NOT NULL AND lp >= fc THEN 1 ELSE 0 END) AS BIGINT) AS conversions
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),

    // Cohort retention: users bucketed by first-active day, activity
    // counted per (cohort, days-since-cohort) cell — the retention
    // triangle. datediff arg order differs across dialects.
    q("x82_cohort_retention",
      """WITH f AS (SELECT user_id, min(cast(date_trunc('day', ts) AS DATE)) AS cohort FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, cast(date_trunc('day', ts) AS DATE) AS d FROM events)
        |SELECT f.cohort, cast(datediff(a.d, f.cohort) AS INT) AS age, count(*) AS active
        |FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      """WITH f AS (SELECT user_id, min(cast(date_trunc('day', ts) AS DATE)) AS cohort FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, cast(date_trunc('day', ts) AS DATE) AS d FROM events)
        |SELECT f.cohort, cast(date_diff('day', f.cohort, a.d) AS INT) AS age, count(*) AS active
        |FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    // Boolean aggregates (universal / existential quantification per
    // group). Predicates chosen so both answers vary across users.
    q("x83_bool_agg",
      """SELECT user_id, bool_and(value < 195) AS never_hi, bool_or(value > 199) AS any_extreme
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Linear-regression aggregates (slope/intercept/R²/count) — the
    // one-pass OLS family both engines implement.
    q("x84_regression",
      """SELECT l_returnflag,
        |       round(regr_slope(l_extendedprice, l_quantity),4) AS slope,
        |       round(regr_intercept(l_extendedprice, l_quantity),4) AS icept,
        |       round(regr_r2(l_extendedprice, l_quantity),4) AS r2,
        |       cast(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Safe casting (try_cast → NULL instead of error) — the dirty-data
    // ingestion primitive.
    q("x85_try_cast",
      """SELECT c_custkey, try_cast(substr(c_name,10,9) AS BIGINT) AS id_num,
        |       try_cast(c_mktsegment AS INT) AS bad,
        |       try_cast(c_acctbal AS STRING) IS NOT NULL AS ok
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Second string battery: trim family (NOTE Spark's two-arg
    // ltrim/rtrim take (trimStr, str); DuckDB takes (str, chars)),
    // repeat, reverse, split_part, prefix/suffix tests.
    q("x86_string_trim",
      """SELECT c_custkey, trim('  x  '||c_mktsegment) AS tr,
        |       ltrim('xy', 'xxy'||c_name) AS lt, rtrim('0123456789', c_name) AS rt,
        |       repeat(substr(c_mktsegment,1,2),3) AS rp, reverse(c_mktsegment) AS rv,
        |       split_part(c_name,'#',2) AS sp,
        |       startswith(c_name,'Customer') AS sw, endswith(c_name,'1') AS ew
        |FROM customer ORDER BY c_custkey""".stripMargin,
      """SELECT c_custkey, trim('  x  '||c_mktsegment) AS tr,
        |       ltrim('xxy'||c_name, 'xy') AS lt, rtrim(c_name, '0123456789') AS rt,
        |       repeat(substr(c_mktsegment,1,2),3) AS rp, reverse(c_mktsegment) AS rv,
        |       split_part(c_name,'#',2) AS sp,
        |       starts_with(c_name,'Customer') AS sw, ends_with(c_name,'1') AS ew
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Second window battery: lead, nth_value over a full frame, and
    // cume_dist (unique order keys — no tie ambiguity).
    q("x87_window_lead",
      """SELECT o_orderkey,
        |       lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nxt,
        |       nth_value(o_orderkey, 3) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third,
        |       round(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderkey),4) AS cd
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Second date battery: month interval arithmetic, last_day, quarter,
    // day-of-year (dayofweek remains banned — SURVEY.md §5.4).
    q("x88_date_parts",
      """SELECT o_orderkey, cast(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |       last_day(cast(o_orderdate AS DATE)) AS eom,
        |       extract(quarter FROM o_orderdate) AS q,
        |       extract(doy FROM o_orderdate) AS doy
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Correlated LATERAL derived table (dependent join): top-2 customers
    // by balance per nation — the per-group top-k shape without window
    // functions. Catalyst decorrelates to a ranked join.
    q("x90_lateral_topk",
      """SELECT n.n_nationkey, t.c_custkey, round(t.c_acctbal,4) AS bal
        |FROM nation n,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_nationkey, t.c_custkey""".stripMargin),

    // Recursive CTE (iteration in the plan — Spark 4 UnionLoop): closed
    // 1..100 series, aggregated to a checkable single row.
    q("x91_recursive_cte",
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM t WHERE n < 100)
        |SELECT count(*) AS n, cast(sum(n) AS BIGINT) AS total FROM t""".stripMargin),

    // UNPIVOT: per-user event-type count matrix back to long form (the
    // inverse of x61's PIVOT; same standard syntax in both dialects).
    q("x92_unpivot",
      """SELECT user_id, metric, val
        |FROM (SELECT user_id,
        |             count(*) FILTER (WHERE event_type='click') AS click,
        |             count(*) FILTER (WHERE event_type='purchase') AS purchase,
        |             count(*) FILTER (WHERE event_type='error') AS error
        |      FROM events GROUP BY 1)
        |UNPIVOT (val FOR metric IN (click, purchase, error))
        |ORDER BY user_id, metric""".stripMargin),

    // Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL keep
    // multiplicities, unlike q34/q35).
    q("x93_set_ops_all",
      """SELECT 'ia' AS op, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type='purchase' AND value>150
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type='error' AND value>150)
        |UNION ALL
        |SELECT 'ea' AS op, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type='purchase' AND value>150
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type='error' AND value>150)
        |ORDER BY op, user_id""".stripMargin),

    // Array-function battery with scalar outputs (array-valued output
    // columns canonicalize fragilely across engines): intersect size,
    // 1-based position, membership, flatten size. Spark slice(a,5,8) ==
    // DuckDB a[5:12] (both 8 elements).
    q("x94_array_battery",
      """SELECT vec_id,
        |       size(array_intersect(slice(embedding,1,8), slice(embedding,5,8))) AS ni,
        |       cast(array_position(embedding, element_at(embedding,3)) AS INT) AS ap,
        |       array_contains(embedding, element_at(embedding,1)) AS ac,
        |       size(flatten(array(slice(embedding,1,2), slice(embedding,3,2)))) AS fl
        |FROM embeddings ORDER BY vec_id""".stripMargin,
      """SELECT vec_id,
        |       cast(len(list_intersect(embedding[1:8], embedding[5:12])) AS INT) AS ni,
        |       cast(list_position(embedding, embedding[3]) AS INT) AS ap,
        |       list_contains(embedding, embedding[1]) AS ac,
        |       cast(len(flatten([embedding[1:2], embedding[3:4]])) AS INT) AS fl
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // BPE-ish subword counting per source (SURVEY.md §2.8 companion to
    // x58's whitespace counts): regex tokenization (runs of letters /
    // digits / single punctuation) with a length-bucket cost of
    // 1 + (len-1)/4 subwords per token — the no-tokenizer-binary
    // heuristic, computed with codegen'd HOFs, oracle-matched exactly.
    q("x95_subword_counts",
      """SELECT source,
        |       cast(sum(aggregate(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0),
        |                cast(0 AS BIGINT), (a, t) -> a + 1 + ((length(t)-1) div 4))) AS BIGINT) AS subwords
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      """SELECT source,
        |       cast(sum(list_sum(list_transform(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'),
        |                t -> 1 + (length(t)-1)//4))) AS BIGINT) AS subwords
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Higher-order quantifiers over arrays (exists/forall vs DuckDB's
    // bool_or/bool_and list_aggregate) + ordered HOF reduction (L2 norm —
    // both engines fold the transformed list left-to-right in element
    // order, so the double sum is bit-identical).
    q("x96_hof_quantifiers",
      """SELECT vec_id, exists(embedding, x -> x > 0.2) AS has_hi,
        |       forall(embedding, x -> x > -1.0) AS all_gt,
        |       round(sqrt(aggregate(transform(embedding, x -> cast(x AS DOUBLE)*x),
        |             cast(0 AS DOUBLE), (s, x) -> s + x)),4) AS l2
        |FROM embeddings ORDER BY vec_id""".stripMargin,
      """SELECT vec_id,
        |       list_aggregate(list_transform(embedding, x -> x > 0.2), 'bool_or') AS has_hi,
        |       list_aggregate(list_transform(embedding, x -> x > -1.0), 'bool_and') AS all_gt,
        |       round(sqrt(list_aggregate(list_transform(embedding, x -> cast(x AS DOUBLE)*x), 'sum')),4) AS l2
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // Timestamp ↔ string round-trip (the log-parsing core op). The format
    // languages differ wholesale: JDK letters (yyyy-MM-dd HH:mm:ss) vs
    // C strftime (%Y-%m-%d %H:%M:%S).
    q("x97_ts_parse",
      """SELECT event_id, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS s,
        |       unix_millis(to_timestamp(date_format(ts, 'yyyy-MM-dd HH:mm:ss'),
        |                   'yyyy-MM-dd HH:mm:ss')) AS ems
        |FROM events ORDER BY event_id""".stripMargin,
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS s,
        |       epoch_ms(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')) AS ems
        |FROM events ORDER BY event_id""".stripMargin),

    // Extended math battery: trig, atan2, degrees, exp, log10/log2, sign
    // (complements q38; both engines round libm doubles at 4dp).
    q("x98_trig_math",
      """SELECT p_partkey, round(sin(p_retailprice/100),4) AS sn, round(cos(p_retailprice/100),4) AS cs,
        |       round(atan2(p_retailprice, cast(p_size AS DOUBLE)),4) AS at2,
        |       round(degrees(atan(p_size/10.0)),4) AS dg, round(exp(p_size/25.0),4) AS ex,
        |       round(log10(p_retailprice),4) AS l10, round(log2(p_retailprice),4) AS l2,
        |       cast(sign(p_retailprice-1000) AS INT) AS sg
        |FROM part ORDER BY p_partkey""".stripMargin),

    // Date-interval series generation (sequence/generate_series with a
    // MONTH step) + zero-filled monthly order counts — x69's gap fill at
    // calendar granularity.
    q("x99_month_series",
      """WITH b AS (SELECT explode(sequence(DATE '1995-01-01', DATE '1998-12-01', INTERVAL 1 MONTH)) AS m),
        |o AS (SELECT cast(date_trunc('month', o_orderdate) AS DATE) AS m, count(*) AS c FROM orders GROUP BY 1)
        |SELECT cast(b.m AS DATE) AS m, coalesce(o.c, 0) AS c
        |FROM b LEFT JOIN o ON cast(b.m AS DATE) = o.m ORDER BY 1""".stripMargin),

    // ---- round-4 training-data pipeline ops (x105-x108) -----------------

    // Reproducible content-keyed sampling: the training-pipeline
    // downsample must be a pure function of the record (NOT rand()) so
    // reruns, backfills, and engines agree on the kept set. Same md5
    // hash family as x74/x89 — both engines reproduce it bit-for-bit.
    // Embarrassingly parallel at any scale (per-row predicate, no
    // shuffle before the sort).
    q("x105_hash_sample",
      """SELECT doc_id, source
        |FROM (SELECT doc_id, source,
        |        cast(conv(substr(md5(cast(doc_id AS STRING)),1,8),16,10) AS BIGINT) % 100 AS b
        |      FROM documents)
        |WHERE b < 10 ORDER BY doc_id""".stripMargin),

    // Stratified train/val/test split (80/10/10) by the same content
    // hash: split assignment is stable under corpus growth (a doc never
    // changes split when new docs arrive — the property random splits
    // lack), leakage-free by construction, and auditable as counts per
    // (source, split).
    q("x106_stratified_split",
      """WITH h AS (SELECT source,
        |    cast(conv(substr(md5(cast(doc_id AS STRING)),1,8),16,10) AS BIGINT) % 100 AS b
        |  FROM documents)
        |SELECT source,
        |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Concat-and-chunk sequence packing: lay all documents end-to-end in
    // doc_id order and split the token stream into 512-token context
    // windows — each doc's start offset, first window and last window
    // (GPT-style pretraining batching). The global running sum is the
    // q28-shaped single-task window kept for oracle parity; the scale
    // tier is operators.GlobalWindow.runningSum, hash-proven equivalent
    // by x102.
    q("x107_sequence_packing",
      """WITH t AS (SELECT doc_id, size(split(text,' ')) AS n FROM documents),
        |c AS (SELECT doc_id, n,
        |        sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS start_tok
        |      FROM t)
        |SELECT doc_id, cast(n AS BIGINT) AS n_toks,
        |       cast(start_tok AS BIGINT) AS start_tok,
        |       cast(floor(start_tok/512.0) AS BIGINT) AS first_win,
        |       cast(floor((start_tok + n - 1)/512.0) AS BIGINT) AS last_win
        |FROM c ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id, len(string_split(text,' ')) AS n FROM documents),
        |c AS (SELECT doc_id, n,
        |        cast(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS start_tok
        |      FROM t)
        |SELECT doc_id, cast(n AS BIGINT) AS n_toks,
        |       cast(start_tok AS BIGINT) AS start_tok,
        |       cast(floor(start_tok/512.0) AS BIGINT) AS first_win,
        |       cast(floor((start_tok + n - 1)/512.0) AS BIGINT) AS last_win
        |FROM c ORDER BY doc_id""".stripMargin),

    // Benchmark-contamination scan: docs outside the held-out source
    // (src0) sharing any word 5-gram with it. Shingle semi-join shape —
    // explode + distinct-gram semi join, NO pair join, so unlike x48 it
    // stays linear in corpus size at scale (the benchmark gram set is
    // the small side; broadcast it).
    q("x108_contamination",
      """WITH sh AS (SELECT doc_id, source, g
        |  FROM (SELECT doc_id, source,
        |          explode(array_distinct(transform(sequence(1, size(w)-4),
        |            i -> concat_ws(' ', slice(w, i, 5))))) AS g
        |        FROM (SELECT doc_id, source, split(text,' ') AS w FROM documents)
        |        WHERE size(w) >= 5))
        |SELECT source, count(DISTINCT doc_id) AS contaminated
        |FROM sh
        |WHERE source <> 'src0'
        |  AND g IN (SELECT g FROM sh WHERE source = 'src0')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH sh AS (SELECT doc_id, source, unnest(gs) AS g
        |  FROM (SELECT doc_id, source,
        |          list_distinct([array_to_string(w[i:i+4],' ') FOR i IN range(1, len(w)-3)]) AS gs
        |        FROM (SELECT doc_id, source, string_split(text,' ') AS w FROM documents)
        |        WHERE len(w) >= 5))
        |SELECT source, count(DISTINCT doc_id) AS contaminated
        |FROM sh
        |WHERE source <> 'src0'
        |  AND g IN (SELECT g FROM sh WHERE source = 'src0')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Deterministic mixture resampling: per-source target weight in
    // basis points (here: 1.5x for even-digit sources, 0.5x for odd) —
    // the integer part replicates each doc, the fractional part keeps a
    // content-hash-selected subset, so the output mixture hits the
    // target in expectation with zero randomness: reruns and engines
    // produce the identical multiset. Replication via explode(sequence)
    // stays row-local (no shuffle); the training-data "source mixing"
    // op every pretraining pipeline runs.
    q("x109_mixture_resample",
      """WITH w AS (SELECT doc_id, source,
        |    cast(conv(substr(md5(cast(doc_id AS STRING)),1,8),16,10) AS BIGINT) % 10000 AS hb,
        |    CASE WHEN right(source, 1) IN ('0','2','4','6','8') THEN 15000 ELSE 5000 END AS w_bp
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |        cast(w_bp div 10000 AS INT) + CASE WHEN hb < w_bp % 10000 THEN 1 ELSE 0 END AS copies
        |      FROM w)
        |SELECT doc_id, source, explode(sequence(1, copies)) AS copy_id
        |FROM r WHERE copies > 0
        |ORDER BY doc_id, copy_id""".stripMargin,
      """WITH w AS (SELECT doc_id, source,
        |    cast(('0x'||substr(md5(cast(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 10000 AS hb,
        |    CASE WHEN right(source, 1) IN ('0','2','4','6','8') THEN 15000 ELSE 5000 END AS w_bp
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |        cast(w_bp // 10000 AS INT) + CASE WHEN hb < w_bp % 10000 THEN 1 ELSE 0 END AS copies
        |      FROM w)
        |SELECT doc_id, source, cast(unnest(range(1, copies + 1)) AS INT) AS copy_id
        |FROM r WHERE copies > 0
        |ORDER BY doc_id, copy_id""".stripMargin),

    // Repetition quality signal (the C4-style boilerplate detector x50's
    // battery lacks): fraction of repeated word 3-grams per doc, integer
    // basis points via the same floor(a*10000.0/b) shape x50 proved
    // hash-stable. Pure per-row HOFs — no shuffle, codegen end-to-end.
    q("x110_repetition_filter",
      """SELECT doc_id, n_grams, n_distinct,
        |       cast(floor((n_grams - n_distinct)*10000.0/n_grams) AS BIGINT) AS rep_bp
        |FROM (SELECT doc_id, cast(size(gs) AS BIGINT) AS n_grams,
        |             cast(size(array_distinct(gs)) AS BIGINT) AS n_distinct
        |      FROM (SELECT doc_id, transform(sequence(1, size(w)-2),
        |                     i -> concat_ws(' ', slice(w, i, 3))) AS gs
        |            FROM (SELECT doc_id, split(text,' ') AS w FROM documents)
        |            WHERE size(w) >= 3))
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, n_grams, n_distinct,
        |       cast(floor((n_grams - n_distinct)*10000.0/n_grams) AS BIGINT) AS rep_bp
        |FROM (SELECT doc_id, cast(len(gs) AS BIGINT) AS n_grams,
        |             cast(len(list_distinct(gs)) AS BIGINT) AS n_distinct
        |      FROM (SELECT doc_id, [array_to_string(w[i:i+2],' ') FOR i IN range(1, len(w)-1)] AS gs
        |            FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
        |            WHERE len(w) >= 3))
        |ORDER BY doc_id""".stripMargin),

    // PII redaction (the scrub stage every training pipeline runs before
    // text ships): emails, IPv4s, and phone-shaped numbers replaced with
    // typed placeholder tokens, plus per-row match counts for the audit
    // trail. The corpus text carries no PII, so the rows synthesize it
    // deterministically from c_custkey — the redaction still exercises
    // real matches. Patterns stay in the Java∩RE2 common subset ([.] and
    // [0-9] instead of \. and \d, no \b) so both engines compile the
    // IDENTICAL pattern string; per-row codegen'd regexps, no shuffle.
    // Dialect: Spark regexp_replace is replace-all and counts via
    // regexp_count; DuckDB needs the 'g' flag and len(regexp_extract_all).
    q("x112_pii_redact",
      """WITH t AS (SELECT c_custkey,
        |    concat('contact user', cast(c_custkey AS STRING), '@mail.example.com ip=10.',
        |           cast(c_custkey % 256 AS STRING), '.', cast((c_custkey * 7) % 256 AS STRING), '.',
        |           cast((c_custkey * 13) % 256 AS STRING), ' tel 555-',
        |           lpad(cast(c_custkey % 1000 AS STRING), 3, '0'), '-',
        |           lpad(cast((c_custkey * 31) % 10000 AS STRING), 4, '0'), ' end') AS text
        |  FROM customer)
        |SELECT c_custkey,
        |       regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>'),
        |         '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>'),
        |         '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>') AS redacted,
        |       cast(regexp_count(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}') AS BIGINT) AS n_email,
        |       cast(regexp_count(text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}') AS BIGINT) AS n_ip,
        |       cast(regexp_count(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}') AS BIGINT) AS n_phone
        |FROM t ORDER BY c_custkey""".stripMargin,
      """WITH t AS (SELECT c_custkey,
        |    concat('contact user', cast(c_custkey AS VARCHAR), '@mail.example.com ip=10.',
        |           cast(c_custkey % 256 AS VARCHAR), '.', cast((c_custkey * 7) % 256 AS VARCHAR), '.',
        |           cast((c_custkey * 13) % 256 AS VARCHAR), ' tel 555-',
        |           lpad(cast(c_custkey % 1000 AS VARCHAR), 3, '0'), '-',
        |           lpad(cast((c_custkey * 31) % 10000 AS VARCHAR), 4, '0'), ' end') AS text
        |  FROM customer)
        |SELECT c_custkey,
        |       regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g'),
        |         '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
        |       cast(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |       cast(len(regexp_extract_all(text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS BIGINT) AS n_ip,
        |       cast(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone
        |FROM t ORDER BY c_custkey""".stripMargin),

    // TF-IDF top-3 terms per document (corpus keyword extraction). Scores
    // in integer micro-units — floor(tf·ln(N/df)·1e6) — the x73 trick
    // that makes a float formula hash-exact across engines; rank ties
    // (common here: idf=0 for corpus-universal words) break on the term
    // itself. Scale shape: tf is a (doc,term) aggregate, df a broadcast-
    // sized term aggregate joined back on term, top-k a per-doc window —
    // all key-partitioned, nothing global.
    q("x113_tfidf_topk",
      """WITH tok AS (SELECT doc_id, w, count(*) AS tf
        |             FROM (SELECT doc_id, explode(split(text,' ')) AS w FROM documents)
        |             GROUP BY 1,2),
        |dfq AS (SELECT w, count(*) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT t.doc_id, t.w,
        |         cast(floor(t.tf * ln(n.n / cast(d.df AS DOUBLE)) * 1000000) AS BIGINT) AS score_u
        |       FROM tok t JOIN dfq d ON t.w = d.w CROSS JOIN n),
        |r AS (SELECT doc_id, w, score_u,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, w) AS rk
        |      FROM sc)
        |SELECT doc_id, w, score_u, cast(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    // BM25 top-20 corpus search (Robertson/Spärck Jones k1=1.2, b=0.75)
    // for a 3-term query. Hash-exact across engines by the x73 rule:
    // each per-term contribution is floored to integer micro-units
    // BEFORE the per-doc sum (float addition order never observable),
    // and avgdl is an exact integer sum ÷ count, not engine-avg().
    // Scale shape: tf and dl are per-doc aggregates, the 3-row query
    // term df joins broadcast, top-20 is TakeOrderedAndProject — no
    // global sort materializes.
    q("x114_bm25",
      """WITH tok AS (SELECT doc_id, w, count(*) AS tf
        |             FROM (SELECT doc_id, explode(split(text,' ')) AS w FROM documents)
        |             GROUP BY 1,2),
        |dl AS (SELECT doc_id, size(split(text,' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n, cast(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
        |qt AS (SELECT explode(array('spark','window','join')) AS w),
        |dfq AS (SELECT t.w, count(*) AS df FROM tok t JOIN qt ON t.w = qt.w GROUP BY 1),
        |sc AS (SELECT t.doc_id,
        |         sum(cast(floor(ln((st.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
        |             * t.tf * 2.2
        |             / (t.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl)) * 1000000) AS BIGINT)) AS score_u
        |       FROM tok t JOIN dfq d ON t.w = d.w
        |       JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN st
        |       GROUP BY 1)
        |SELECT doc_id, cast(score_u AS BIGINT) AS score_u
        |FROM sc ORDER BY score_u DESC, doc_id LIMIT 20""".stripMargin,
      """WITH tok AS (SELECT doc_id, w, count(*) AS tf
        |             FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |             GROUP BY 1,2),
        |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n, cast(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
        |qt AS (SELECT unnest(['spark','window','join']) AS w),
        |dfq AS (SELECT t.w, count(*) AS df FROM tok t JOIN qt ON t.w = qt.w GROUP BY 1),
        |sc AS (SELECT t.doc_id,
        |         sum(cast(floor(ln((st.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
        |             * t.tf * 2.2
        |             / (t.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl)) * 1000000) AS BIGINT)) AS score_u
        |       FROM tok t JOIN dfq d ON t.w = d.w
        |       JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN st
        |       GROUP BY 1)
        |SELECT doc_id, cast(score_u AS BIGINT) AS score_u
        |FROM sc ORDER BY score_u DESC, doc_id LIMIT 20""".stripMargin),

    // Gopher-style quality-rule audit (Rae et al. 2021 §A1 shape): four
    // independent per-doc rules — too short (<30 tokens), mean word
    // length outside [4.00, 5.00] chars, type-token ratio < 50%, and
    // single-word dominance (>10% of tokens are one word) — rolled up
    // to violation counts per source plus the pass-all census. All
    // integer arithmetic (centichars/doubled counts), so hash-exact.
    // Scale shape: every rule is per-row HOF work over the token array
    // (codegen, no shuffle); the only exchange is the final per-source
    // rollup. Dominance is O(types·tokens) per row — bounded by the
    // vocabulary, and never a join.
    q("x115_gopher_rules",
      """WITH t AS (SELECT doc_id, source, split(text,' ') AS w, n_chars FROM documents),
        |m AS (SELECT doc_id, source,
        |        size(w) AS n_toks,
        |        size(array_distinct(w)) AS n_types,
        |        (n_chars - (size(w)-1)) * 100 div size(w) AS mwl_c,
        |        array_max(transform(array_distinct(w),
        |          x -> size(filter(w, y -> y = x)))) AS top_cnt
        |      FROM t)
        |SELECT source,
        |       count(*) AS docs,
        |       cast(sum(CASE WHEN n_toks < 30 THEN 1 ELSE 0 END) AS BIGINT) AS viol_short,
        |       cast(sum(CASE WHEN mwl_c < 400 OR mwl_c > 500 THEN 1 ELSE 0 END) AS BIGINT) AS viol_wordlen,
        |       cast(sum(CASE WHEN n_types*2 < n_toks THEN 1 ELSE 0 END) AS BIGINT) AS viol_ttr,
        |       cast(sum(CASE WHEN top_cnt*10 > n_toks THEN 1 ELSE 0 END) AS BIGINT) AS viol_dominance,
        |       cast(sum(CASE WHEN n_toks >= 30 AND mwl_c BETWEEN 400 AND 500
        |                      AND n_types*2 >= n_toks AND top_cnt*10 <= n_toks THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w, n_chars FROM documents),
        |m AS (SELECT doc_id, source,
        |        len(w) AS n_toks,
        |        len(list_distinct(w)) AS n_types,
        |        (n_chars - (len(w)-1)) * 100 // len(w) AS mwl_c,
        |        list_max(list_transform(list_distinct(w),
        |          x -> len(list_filter(w, y -> y = x)))) AS top_cnt
        |      FROM t)
        |SELECT source,
        |       count(*) AS docs,
        |       cast(sum(CASE WHEN n_toks < 30 THEN 1 ELSE 0 END) AS BIGINT) AS viol_short,
        |       cast(sum(CASE WHEN mwl_c < 400 OR mwl_c > 500 THEN 1 ELSE 0 END) AS BIGINT) AS viol_wordlen,
        |       cast(sum(CASE WHEN n_types*2 < n_toks THEN 1 ELSE 0 END) AS BIGINT) AS viol_ttr,
        |       cast(sum(CASE WHEN top_cnt*10 > n_toks THEN 1 ELSE 0 END) AS BIGINT) AS viol_dominance,
        |       cast(sum(CASE WHEN n_toks >= 30 AND mwl_c BETWEEN 400 AND 500
        |                      AND n_types*2 >= n_toks AND top_cnt*10 <= n_toks THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    // Duplicate-window scan (Lee et al. 2022 "Deduplicating Training
    // Data" signal): hash every 8-token window, mark windows appearing
    // in ≥2 distinct docs, report the top-20 docs by duplicated-window
    // fraction. The per-doc fraction is the practical "this doc is
    // mostly boilerplate copied elsewhere" filter that exact-dup (x47)
    // and near-dup (x52) both miss when only a passage repeats.
    // Scale shape: windows shuffle as 32-char md5 keys (never text),
    // the shared set is a semi-join back on the same key, and the
    // top-20 is TakeOrderedAndProject. Linear in total windows.
    q("x116_dup_window_scan",
      """WITH t AS (SELECT doc_id, split(text,' ') AS w FROM documents WHERE size(split(text,' ')) >= 8),
        |wins AS (SELECT doc_id, explode(transform(sequence(1, size(w)-7),
        |           i -> md5(concat_ws(' ', slice(w, i, 8))))) AS h
        |         FROM t),
        |shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |per AS (SELECT doc_id, count(*) AS n_win,
        |          cast(sum(CASE WHEN h IN (SELECT h FROM shared) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |        FROM wins GROUP BY 1)
        |SELECT doc_id, n_win, n_dup, cast(floor(n_dup*10000.0/n_win) AS BIGINT) AS dup_bp
        |FROM per ORDER BY dup_bp DESC, doc_id LIMIT 20""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE len(string_split(text,' ')) >= 8),
        |wins AS (SELECT doc_id, unnest(hs) AS h
        |         FROM (SELECT doc_id, [md5(array_to_string(w[i:i+7],' ')) FOR i IN range(1, len(w)-6)] AS hs FROM t)),
        |shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |per AS (SELECT doc_id, count(*) AS n_win,
        |          cast(sum(CASE WHEN h IN (SELECT h FROM shared) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |        FROM wins GROUP BY 1)
        |SELECT doc_id, n_win, n_dup, cast(floor(n_dup*10000.0/n_win) AS BIGINT) AS dup_bp
        |FROM per ORDER BY dup_bp DESC, doc_id LIMIT 20""".stripMargin),

    // Anchor-based semantic clustering census: assign every vector to
    // its nearest of 8 fixed anchor vectors (vec_id 0-7) by cosine, and
    // report cluster sizes + similarity mass. The k-means-free analog of
    // semantic dedup bucketing: anchors stand in for trained centroids
    // so the assignment is closed-form and oracle-checkable (DuckDB has
    // list_cosine_similarity but no trainer). Determinism: q43's 4dp
    // round is NOT enough here — summing 492 rounded sims exposes every
    // knife edge, and DuckDB's float32-kernel cosine really did land one
    // sim 1 ulp across a .00005 boundary (anchor-7 sum off by 1). The
    // oracle therefore casts to DOUBLE[] so both engines run the same
    // sequential double accumulation (bit-identical, measured); ties
    // break on anchor_id via row_number.
    // Scale shape: the 8-anchor side broadcasts; assignment is a
    // per-row argmax (8 codegen'd cosine_sim calls, no explode); the
    // only exchange is the 8-group rollup. This is IVF assignment
    // (llm.Ann.ivfTopK) with frozen centroids.
    q("x117_anchor_clusters",
      """WITH a AS (SELECT vec_id AS anchor_id, embedding AS ae FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        |sc AS (SELECT v.vec_id, a.anchor_id,
        |         round(cosine_sim(v.embedding, a.ae), 4) AS sim
        |       FROM v CROSS JOIN a),
        |best AS (SELECT vec_id, anchor_id, sim,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, anchor_id) AS rn
        |         FROM sc)
        |SELECT anchor_id, count(*) AS n_assigned,
        |       cast(sum(cast(round(sim*10000, 0) AS BIGINT)) AS BIGINT) AS sum_sim4
        |FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH a AS (SELECT vec_id AS anchor_id, embedding AS ae FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        |sc AS (SELECT v.vec_id, a.anchor_id,
        |         round(list_cosine_similarity(cast(v.embedding AS DOUBLE[]), cast(a.ae AS DOUBLE[])), 4) AS sim
        |       FROM v CROSS JOIN a),
        |best AS (SELECT vec_id, anchor_id, sim,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, anchor_id) AS rn
        |         FROM sc)
        |SELECT anchor_id, count(*) AS n_assigned,
        |       cast(sum(cast(round(sim*10000, 0) AS BIGINT)) AS BIGINT) AS sum_sim4
        |FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Incremental near-dup: dedup the NEW batch (doc_id ≡ 4 mod 5, the
    // daily increment) against the EXISTING corpus without ever
    // comparing corpus×corpus — the shape every production pipeline
    // actually runs (x74 is the one-shot full-corpus variant). MinHash
    // signatures on both sides, but the candidate join is restricted to
    // new×old, so rework per day is O(batch), not O(corpus). Output:
    // each new doc's best corpus match at ≥8/16 matching minhashes.
    // Scale shape: the signature join shuffles (i, mh) int pairs only;
    // at a real corpus the old side's signatures are a precomputed index
    // read from parquet, not recomputed (sources.Layout bucketed by mh).
    q("x118_incremental_neardup",
      """WITH w AS (SELECT doc_id, split(text,' ') AS w, doc_id % 5 = 4 AS is_new FROM documents),
        |sh AS (SELECT doc_id, is_new, explode(array_distinct(
        |         transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |hv AS (SELECT doc_id, is_new, cast(conv(substr(md5(sh),1,8),16,10) AS BIGINT) AS hv FROM sh),
        |perm AS (SELECT * FROM VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891) AS perm(i,a,b)),
        |sig AS (SELECT doc_id, is_new, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2,3),
        |cand AS (SELECT sn.doc_id AS new_id, sc.doc_id AS corpus_id, count(*) AS m
        |         FROM sig sn JOIN sig sc ON sn.i = sc.i AND sn.mh = sc.mh
        |         WHERE sn.is_new AND NOT sc.is_new
        |         GROUP BY 1,2),
        |best AS (SELECT new_id, corpus_id, m,
        |           row_number() OVER (PARTITION BY new_id ORDER BY m DESC, corpus_id) AS rn
        |         FROM cand WHERE m >= 8)
        |SELECT new_id, corpus_id, m FROM best WHERE rn = 1 ORDER BY new_id""".stripMargin),

    // SemDeDup (Abbas et al. 2023): embedding near-dup detection scoped
    // to semantic clusters — assign every vector to its nearest anchor
    // (same closed-form assignment as x117), then pair-compare ONLY
    // within a cluster. That scoping is the whole algorithm: pair space
    // drops from O(n²) to O(Σ cluster²), and at 100 TB the cluster id
    // becomes the shuffle/partition key so each cluster's pairs are
    // computed co-located, no global cross join. Keep-rule: the lower
    // vec_id of each qualifying pair survives (keep_id). The LSH-bucketed
    // scale sibling with no exact pair pass is llm/Ann.cosineNearDups.
    q("x119_semdedup",
      """WITH a AS (SELECT vec_id AS anchor_id, embedding AS ae FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        |sc AS (SELECT v.vec_id, v.embedding, a.anchor_id,
        |         round(cosine_sim(v.embedding, a.ae), 4) AS asim
        |       FROM v CROSS JOIN a),
        |best AS (SELECT vec_id, embedding, anchor_id
        |         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |                 ORDER BY asim DESC, anchor_id) AS rn FROM sc) t
        |         WHERE rn = 1),
        |pairs AS (SELECT x.anchor_id AS cluster_id, x.vec_id AS keep_id, y.vec_id AS drop_id,
        |            round(cosine_sim(x.embedding, y.embedding), 4) AS sim
        |          FROM best x JOIN best y
        |            ON x.anchor_id = y.anchor_id AND x.vec_id < y.vec_id)
        |SELECT cluster_id, keep_id, drop_id,
        |       cast(round(sim*10000, 0) AS BIGINT) AS sim4
        |FROM pairs WHERE sim >= 0.35
        |ORDER BY cluster_id, keep_id, drop_id""".stripMargin,
      """WITH a AS (SELECT vec_id AS anchor_id, cast(embedding AS DOUBLE[]) AS ae FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE vec_id >= 8),
        |sc AS (SELECT v.vec_id, v.embedding, a.anchor_id,
        |         round(list_cosine_similarity(v.embedding, a.ae), 4) AS asim
        |       FROM v CROSS JOIN a),
        |best AS (SELECT vec_id, embedding, anchor_id
        |         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |                 ORDER BY asim DESC, anchor_id) AS rn FROM sc) t
        |         WHERE rn = 1),
        |pairs AS (SELECT x.anchor_id AS cluster_id, x.vec_id AS keep_id, y.vec_id AS drop_id,
        |            round(list_cosine_similarity(x.embedding, y.embedding), 4) AS sim
        |          FROM best x JOIN best y
        |            ON x.anchor_id = y.anchor_id AND x.vec_id < y.vec_id)
        |SELECT cluster_id, keep_id, drop_id,
        |       cast(round(sim*10000, 0) AS BIGINT) AS sim4
        |FROM pairs WHERE sim >= 0.35
        |ORDER BY cluster_id, keep_id, drop_id""".stripMargin),

    // kNN-vote label propagation: predict each held-out vector's label
    // from the majority label of its 5 nearest labeled neighbors (cosine).
    // The shape behind quality-classifier bootstrapping on embeddings.
    // Vote tie-break: larger count, then higher best-sim, then lower
    // label — all deterministic on 4dp sims. Scale path: the CROSS JOIN
    // becomes an ANN probe (x59/x104) feeding the same vote aggregation;
    // here the exact form doubles as the recall oracle.
    q("x120_knn_vote",
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
        |r AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 50),
        |sc AS (SELECT q.vec_id AS qid, q.label AS true_label, r.vec_id AS rid, r.label AS nlabel,
        |         round(cosine_sim(q.embedding, r.embedding), 4) AS sim
        |       FROM q CROSS JOIN r),
        |top AS (SELECT qid, true_label, nlabel, sim,
        |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, rid) AS rn
        |        FROM sc),
        |votes AS (SELECT qid, true_label, nlabel, count(*) AS c, max(sim) AS msim
        |          FROM top WHERE rn <= 5 GROUP BY 1, 2, 3),
        |pred AS (SELECT qid, true_label, nlabel AS pred_label,
        |           row_number() OVER (PARTITION BY qid
        |             ORDER BY c DESC, msim DESC, nlabel) AS vr
        |         FROM votes)
        |SELECT qid, true_label, pred_label,
        |       CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS correct
        |FROM pred WHERE vr = 1 ORDER BY qid""".stripMargin,
      """WITH q AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS embedding, label FROM embeddings WHERE vec_id < 50),
        |r AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS embedding, label FROM embeddings WHERE vec_id >= 50),
        |sc AS (SELECT q.vec_id AS qid, q.label AS true_label, r.vec_id AS rid, r.label AS nlabel,
        |         round(list_cosine_similarity(q.embedding, r.embedding), 4) AS sim
        |       FROM q CROSS JOIN r),
        |top AS (SELECT qid, true_label, nlabel, sim,
        |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, rid) AS rn
        |        FROM sc),
        |votes AS (SELECT qid, true_label, nlabel, count(*) AS c, max(sim) AS msim
        |          FROM top WHERE rn <= 5 GROUP BY 1, 2, 3),
        |pred AS (SELECT qid, true_label, nlabel AS pred_label,
        |           row_number() OVER (PARTITION BY qid
        |             ORDER BY c DESC, msim DESC, nlabel) AS vr
        |         FROM votes)
        |SELECT qid, true_label, pred_label,
        |       CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS correct
        |FROM pred WHERE vr = 1 ORDER BY qid""".stripMargin),

    // Boilerplate-prefix census: hash each document's first 8 words and
    // report prefix groups shared by ≥2 docs — the cheap first-pass
    // filter for template/boilerplate families (nav headers, license
    // stubs) that near-dup passes then refine. One hash per doc, one
    // hash-agg shuffle; at 100 TB this is the cheapest dedup signal that
    // exists, and keep_id implements keep-first within each family.
    q("x121_prefix_census",
      """WITH w AS (SELECT doc_id, split(text,' ') AS w FROM documents),
        |p AS (SELECT doc_id, md5(concat_ws(' ', slice(w, 1, 8))) AS prefix_hash
        |      FROM w WHERE size(w) >= 8)
        |SELECT prefix_hash, count(*) AS n_docs, min(doc_id) AS keep_id, max(doc_id) AS last_id
        |FROM p GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, prefix_hash""".stripMargin,
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |p AS (SELECT doc_id, md5(array_to_string(w[1:8], ' ')) AS prefix_hash
        |      FROM w WHERE len(w) >= 8)
        |SELECT prefix_hash, count(*) AS n_docs, min(doc_id) AS keep_id, max(doc_id) AS last_id
        |FROM p GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, prefix_hash""".stripMargin),

    // Token-budget planner: given per-source token counts and an
    // equal-share target mixture, compute each source's natural weight
    // and the epoch multiplier (how many passes over the source fill its
    // share of the budget) — the arithmetic behind "repeat small
    // high-quality sources, subsample big ones". Pure two-level agg on
    // fixed-point outputs; the heavy input (token counting) is one scan.
    q("x122_token_budget",
      """WITH s AS (SELECT source, cast(sum(size(split(text,' '))) AS BIGINT) AS n_tokens,
        |             count(*) AS n_docs
        |           FROM documents GROUP BY 1),
        |t AS (SELECT source, n_docs, n_tokens,
        |        sum(n_tokens) OVER () AS tot, count(*) OVER () AS n_src
        |      FROM s)
        |SELECT source, n_docs, n_tokens,
        |       cast(floor(n_tokens * 10000.0 / tot) AS BIGINT) AS weight_bp,
        |       cast(floor((tot * 1.0 / n_src) * 10000.0 / n_tokens) AS BIGINT) AS epochs_4dp
        |FROM t ORDER BY source""".stripMargin),

    // Decimal money battery (VERDICT r4 missing #3): the corpus stores
    // doubles, so exact money math was never exercised. Cast to
    // DECIMAL(12,2) at source and do sum/min/max/round IN decimal.
    // Dialect deltas handled: (a) double→DECIMAL(12,2) rounds to
    // nearest on both engines and exact .005 ties are unrepresentable
    // in binary, so the casts agree bit-for-bit; (b) Spark widens
    // sum(DECIMAL(12,2)) to DECIMAL(22,2), DuckDB to DECIMAL(38,2) —
    // values equal, so both are CAST to a pinned scale and compared AS
    // STRING (exact, no float canonicalization); (c) round() on a
    // positive scale-3 decimal ties HALF_UP in Spark and half-away-
    // from-zero in DuckDB — identical for the all-positive money
    // domain; (d) avg is the one aggregate DuckDB computes as DOUBLE
    // (Spark: exact DECIMAL(16,6)), so it is surfaced through the
    // driver's 4dp float canonicalization instead of a string.
    q("x123_decimal_money",
      """WITH m AS (SELECT o_orderpriority, cast(o_totalprice AS DECIMAL(12,2)) AS m FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |       cast(cast(sum(m) AS DECIMAL(18,2)) AS STRING) AS sum_money,
        |       cast(min(m) AS STRING) AS min_money,
        |       cast(max(m) AS STRING) AS max_money,
        |       cast(cast(round(sum(m * cast(0.9 AS DECIMAL(2,1))), 1) AS DECIMAL(18,1)) AS STRING) AS disc_money,
        |       round(cast(avg(m) AS DOUBLE), 4) AS avg_money
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    // Statistical moment aggregates. stddev/variance (sample+population)
    // have identical semantics on both engines; skewness/kurtosis do NOT
    // (Spark: population central-moment ratios m3/m2^1.5 and m4/m2²-3;
    // DuckDB: bias-corrected sample versions), so the oracle states
    // Spark's definition explicitly via a two-pass central-moment CTE —
    // the battery doubles as executable documentation of the delta.
    q("x124_stats_battery",
      """SELECT event_type,
        |       round(stddev_samp(value),4) AS sd_s, round(stddev_pop(value),4) AS sd_p,
        |       round(var_samp(value),4) AS var_s, round(var_pop(value),4) AS var_p,
        |       round(skewness(value),4) AS skew, round(kurtosis(value),4) AS kurt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH mu AS (SELECT event_type, avg(value) AS mean FROM events GROUP BY 1),
        |m AS (SELECT e.event_type,
        |        avg(pow(e.value - mu.mean, 2)) AS m2,
        |        avg(pow(e.value - mu.mean, 3)) AS m3,
        |        avg(pow(e.value - mu.mean, 4)) AS m4
        |      FROM events e JOIN mu ON e.event_type = mu.event_type GROUP BY 1)
        |SELECT e.event_type,
        |       round(stddev_samp(e.value),4) AS sd_s, round(stddev_pop(e.value),4) AS sd_p,
        |       round(var_samp(e.value),4) AS var_s, round(var_pop(e.value),4) AS var_p,
        |       round(any_value(m.m3 / pow(m.m2, 1.5)),4) AS skew,
        |       round(any_value(m.m4 / pow(m.m2, 2) - 3),4) AS kurt
        |FROM events e JOIN m ON e.event_type = m.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bivariate/regression aggregates over genuinely correlated columns
    // (quantity drives extendedprice): corr / covar / the regr_* family —
    // identical ANSI semantics on both engines.
    q("x125_regression_agg",
      """SELECT l_returnflag,
        |       round(corr(l_extendedprice, l_quantity),4) AS r,
        |       round(covar_samp(l_extendedprice, l_quantity),4) AS cov_s,
        |       round(covar_pop(l_extendedprice, l_quantity),4) AS cov_p,
        |       round(regr_slope(l_extendedprice, l_quantity),4) AS slope,
        |       round(regr_intercept(l_extendedprice, l_quantity),4) AS icept,
        |       round(regr_r2(l_extendedprice, l_quantity),4) AS r2,
        |       cast(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        |       round(regr_avgx(l_extendedprice, l_quantity),4) AS ax,
        |       round(regr_avgy(l_extendedprice, l_quantity),4) AS ay
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Edit-distance fuzzy matching (the typo-tier dedup signal exact and
    // shingle dedup both miss). Candidates banded by p_brand with a
    // bounded key-distance window — the candidate-generation discipline
    // of every dedup operator here — then classic Levenshtein, identical
    // DP semantics on both engines.
    //
    // r18 (VERDICT r17 #4; guide §1.2 "per-task work"): the levenshtein
    // predicate is stated LAST in the ON clause instead of in a WHERE.
    // The WHERE form was pushed into the join condition AHEAD of the
    // cheap band conjuncts (plans/r18/x126_levenshtein_before.txt:
    // `(levenshtein <= 12) AND (pa < pb) AND (pb - pa <= 40)`), so the
    // O(|a|·|b|) DP ran on EVERY brand-equal pair (~16M at sf0.1)
    // before the key band could reject; conjuncts in ON order evaluate
    // short-circuit left-to-right, so the DP now runs only on pairs
    // inside the ±40 key band (~32k at sf0.1 — a ~500× cut in DP
    // invocations). Conjunction order cannot change an inner join's
    // result set; both engines keep the identical DP semantics.
    q("x126_levenshtein",
      """SELECT a.p_partkey AS pa, b.p_partkey AS pb,
        |       cast(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        | AND b.p_partkey - a.p_partkey <= 40
        | AND levenshtein(a.p_name, b.p_name) <= 12
        |ORDER BY dist, pa, pb""".stripMargin),

    // Ordinal explode (position-aware tokenization — the shape BPE-style
    // token pipelines need). Spark posexplode; DuckDB reconstructs the
    // ordinal with a range lateral join over the split list.
    q("x127_posexplode",
      """SELECT doc_id, pos, tok
        |FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok) FROM documents)
        |WHERE doc_id < 40 AND pos < 5
        |ORDER BY doc_id, pos""".stripMargin,
      """SELECT doc_id, i - 1 AS pos, w[i] AS tok
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |     range(1, 6) r(i)
        |WHERE doc_id < 40 AND i <= len(w)
        |ORDER BY doc_id, pos""".stripMargin),

    // PIVOT: event-type columns per user bucket (Spark's native PIVOT
    // syntax; the oracle states the equivalent conditional aggregation —
    // which is also exactly the plan Spark compiles PIVOT into).
    q("x128_pivot",
      """SELECT * FROM (
        |  SELECT user_id % 10 AS ub, event_type FROM events)
        |PIVOT (count(*) FOR event_type IN ('click' AS click, 'view' AS view, 'purchase' AS purchase))
        |ORDER BY ub""".stripMargin,
      """SELECT user_id % 10 AS ub,
        |       cast(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |       cast(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
        |       cast(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Map-typed column construction + lookup, surfaced as scalars (map
    // values cannot hash-compare across engines; element_at lookups can).
    // Spark builds a real MapType from collected entries; the oracle
    // computes the same lookups with conditional aggregation.
    q("x129_map_funcs",
      """WITH per AS (SELECT event_type, user_id % 5 AS ub, count(*) AS c
        |             FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, map_from_entries(sort_array(collect_list(struct(ub, c)))) AS mp
        |      FROM per GROUP BY 1)
        |SELECT event_type,
        |       cast(size(mp) AS BIGINT) AS nkeys,
        |       element_at(mp, 0) AS b0, element_at(mp, 4) AS b4,
        |       cast(aggregate(map_values(mp), 0L, (s, v) -> s + v) AS BIGINT) AS total
        |FROM m ORDER BY event_type""".stripMargin,
      """WITH per AS (SELECT event_type, user_id % 5 AS ub, count(*) AS c
        |             FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |       cast(count(*) AS BIGINT) AS nkeys,
        |       cast(sum(c) FILTER (WHERE ub = 0) AS BIGINT) AS b0,
        |       cast(sum(c) FILTER (WHERE ub = 4) AS BIGINT) AS b4,
        |       cast(sum(c) AS BIGINT) AS total
        |FROM per GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Bitwise aggregates (feature-flag folding): bit_and/bit_or/bit_xor
    // over a deterministic per-event flag word — identical semantics on
    // both engines.
    q("x130_bit_aggs",
      """WITH f AS (SELECT event_type, user_id % 256 AS flags FROM events)
        |SELECT event_type,
        |       cast(bit_and(flags) AS BIGINT) AS f_and,
        |       cast(bit_or(flags) AS BIGINT) AS f_or,
        |       cast(bit_xor(flags) AS BIGINT) AS f_xor
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // Time-RANGE window frame: per-user rolling 6h count/sum keyed by
    // EVENT TIME, not row position (ROWS frames — q27 — cannot express
    // this). RANGE includes all ts-peers, so the frame contents are
    // deterministic even with duplicate timestamps; the sum is floored
    // to centi-units pre-comparison to keep float accumulation order
    // out of the hash.
    q("x131_time_range_frame",
      """SELECT event_id, user_id,
        |       cast(count(*) OVER w AS BIGINT) AS n6h,
        |       cast(floor(sum(value) OVER w * 100) AS BIGINT) AS s6h_c
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
      """SELECT event_id, user_id,
        |       cast(count(*) OVER w AS BIGINT) AS n6h,
        |       cast(floor(sum(value) OVER w * 100) AS BIGINT) AS s6h_c
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // URL parsing battery (crawl-corpus provenance handling): synthetic
    // deterministic URLs through Spark's parse_url; DuckDB reconstructs
    // each component with anchored regexes — the oracle doubles as the
    // component grammar.
    q("x132_url_parse",
      """WITH u AS (SELECT c_custkey,
        |             concat('https://', lower(replace(c_mktsegment,' ','')),
        |                    '.example.com/seg/', cast(c_nationkey AS STRING),
        |                    '/item?id=', cast(c_custkey AS STRING), '&ref=mail') AS url
        |           FROM customer WHERE c_custkey <= 500)
        |SELECT c_custkey,
        |       parse_url(url, 'HOST') AS host,
        |       parse_url(url, 'PATH') AS path,
        |       parse_url(url, 'QUERY') AS query,
        |       parse_url(url, 'QUERY', 'id') AS qid
        |FROM u ORDER BY c_custkey""".stripMargin,
      """WITH u AS (SELECT c_custkey,
        |             concat('https://', lower(replace(c_mktsegment,' ','')),
        |                    '.example.com/seg/', cast(c_nationkey AS VARCHAR),
        |                    '/item?id=', cast(c_custkey AS VARCHAR), '&ref=mail') AS url
        |           FROM customer WHERE c_custkey <= 500)
        |SELECT c_custkey,
        |       regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |       regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
        |       regexp_extract(url, '\?([^#]*)', 1) AS query,
        |       regexp_extract(url, '[?&]id=([^&#]*)', 1) AS qid
        |FROM u ORDER BY c_custkey""".stripMargin),

    // Deterministic per-group sampling ("take k docs per source" — the
    // subsample-big-sources step of x122's budget plan, made replayable):
    // rank by md5 of the doc id, a content-independent uniform order both
    // engines reproduce bit-for-bit, then keep the k smallest.
    q("x133_per_group_sample",
      """WITH r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY md5(cast(doc_id AS STRING)), doc_id) AS rk
        |           FROM documents)
        |SELECT source, doc_id, cast(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin),

    // Cross-source overlap matrix: distinct 8-token windows shared
    // between source pairs (the between-source counterpart of x116's
    // within-corpus duplicated-window scan). Grams shuffle as md5 keys,
    // never text; the pair join sees only grams present in ≥2 sources.
    q("x134_source_overlap",
      """WITH w AS (SELECT source, split(text,' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source, md5(concat_ws(' ', slice(w, i, 8))) AS h
        |      FROM (SELECT source, w, explode(sequence(1, size(w)-7)) AS i
        |            FROM w WHERE size(w) >= 8))
        |SELECT x.source AS a, y.source AS b, cast(count(*) AS BIGINT) AS shared
        |FROM g x JOIN g y ON x.h = y.h AND x.source < y.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      """WITH w AS (SELECT source, string_split(text,' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source, md5(array_to_string(w[i:i+7], ' ')) AS h
        |      FROM (SELECT source, w, unnest(generate_series(1, len(w)-7)) AS i
        |            FROM w WHERE len(w) >= 8))
        |SELECT x.source AS a, y.source AS b, cast(count(*) AS BIGINT) AS shared
        |FROM g x JOIN g y ON x.h = y.h AND x.source < y.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Unigram LM cross-entropy per doc (the perplexity quality signal):
    // corpus-trained unigram probabilities, per-token negative log-probs
    // floored to micro-nats BEFORE summing (x73's fixed-point trick —
    // integer sums are accumulation-order-independent, so the hash
    // compare survives any execution order). High xent = improbable
    // token stream = noise/garbage candidate.
    q("x135_perplexity",
      """WITH tok AS (SELECT doc_id, explode(split(text,' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM cnt),
        |lp AS (SELECT tok.doc_id,
        |         cast(floor(-ln(cnt.c * 1.0 / tot.t) * 1000000) AS BIGINT) AS nlp_u
        |       FROM tok JOIN cnt ON tok.w = cnt.w CROSS JOIN tot)
        |SELECT doc_id, cast(count(*) AS BIGINT) AS n_tok,
        |       cast(sum(nlp_u) AS BIGINT) AS nll_u,
        |       cast(floor(sum(nlp_u) * 1.0 / count(*)) AS BIGINT) AS xent_u
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT cast(sum(c) AS BIGINT) AS t FROM cnt),
        |lp AS (SELECT tok.doc_id,
        |         cast(floor(-ln(cnt.c * 1.0 / tot.t) * 1000000) AS BIGINT) AS nlp_u
        |       FROM tok JOIN cnt ON tok.w = cnt.w CROSS JOIN tot)
        |SELECT doc_id, cast(count(*) AS BIGINT) AS n_tok,
        |       cast(sum(nlp_u) AS BIGINT) AS nll_u,
        |       cast(floor(sum(nlp_u) * 1.0 / count(*)) AS BIGINT) AS xent_u
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin),

    // Iterative graph op: PageRank over the nation-level trade graph
    // (edge c_nation -> s_nation weighted by lineitem count), 3 unrolled
    // iterations, damping 0.85. ALL arithmetic is BIGINT nano-units with
    // integer division (Spark `div` / DuckDB `//`) — no float enters the
    // computation, so both engines produce bit-identical ranks regardless
    // of join/agg execution order. Dangling mass is dropped (documented:
    // classic PageRank-without-redistribution); 1e9/25 = 40_000_000 nano
    // start, 0.15/25 = 6_000_000 teleport. At 100 TB the same shape is
    // N log-N: edges aggregate once, each iteration is one broadcast-able
    // deg join + one shuffle on dst.
    q("x136_pagerank",
      """WITH e AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        |           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |                JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |                JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |           GROUP BY 1, 2),
        |deg AS (SELECT src, sum(w) AS d FROM e GROUP BY 1),
        |n AS (SELECT n_nationkey AS node FROM nation),
        |p0 AS (SELECT node, CAST(40000000 AS BIGINT) AS r FROM n),
        |p1 AS (SELECT n.node,
        |         CAST(6000000 + (85 * coalesce(sum((p.r * e.w) div d.d), 0)) div 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN e ON e.dst = n.node
        |              LEFT JOIN deg d ON d.src = e.src
        |              LEFT JOIN p0 p ON p.node = e.src
        |       GROUP BY 1),
        |p2 AS (SELECT n.node,
        |         CAST(6000000 + (85 * coalesce(sum((p.r * e.w) div d.d), 0)) div 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN e ON e.dst = n.node
        |              LEFT JOIN deg d ON d.src = e.src
        |              LEFT JOIN p1 p ON p.node = e.src
        |       GROUP BY 1),
        |p3 AS (SELECT n.node,
        |         CAST(6000000 + (85 * coalesce(sum((p.r * e.w) div d.d), 0)) div 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN e ON e.dst = n.node
        |              LEFT JOIN deg d ON d.src = e.src
        |              LEFT JOIN p2 p ON p.node = e.src
        |       GROUP BY 1)
        |SELECT p3.node AS nationkey, nat.n_name AS nation, p3.r AS rank_nano
        |FROM p3 JOIN nation nat ON nat.n_nationkey = p3.node
        |ORDER BY 1""".stripMargin),

    // Skew-salted two-phase aggregation, promoted from spec-only to the
    // hash gate: the Spark side groups by (key, salt) first — the shape
    // that splits a hot key across `nSalts` reducers at 100 TB — then
    // re-aggregates by key; the oracle is the PLAIN group-by, so the hash
    // match proves salting is semantics-preserving. l_quantity is
    // integral (checked: 0 non-integer rows), so double partial sums are
    // exact and re-summation order cannot change the result.
    q("x137_salted_agg",
      """WITH p AS (SELECT l_partkey AS k, pmod(l_orderkey, 8) AS salt,
        |             count(*) AS c, sum(l_quantity) AS sq
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT k, cast(sum(c) AS BIGINT) AS n,
        |       cast(floor(sum(sq)) AS BIGINT) AS qty
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
      """SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n,
        |       CAST(floor(sum(l_quantity)) AS BIGINT) AS qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Ordered funnel (view -> click -> purchase): per-user earliest view,
    // earliest click strictly after it, earliest purchase strictly after
    // that — the classic clickstream conversion scan. Each stage is one
    // groupBy over a pushed event_type filter joined back on user_id;
    // min() of microsecond-distinct timestamps is deterministic, no
    // floats anywhere. Same SQL runs on both engines.
    q("x138_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |       cast(CASE WHEN s3.t3 IS NOT NULL THEN 3
        |                 WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin),

    // Gaps-and-islands: maximal runs of consecutive identical event_type
    // per user, via the classic row_number-difference trick (global rn
    // minus per-type rn is constant exactly within a run). Run identity
    // is (user, type, rn gap) — pure integer window arithmetic over
    // µs-distinct timestamps, so both engines carve identical runs.
    // Output one row per run with its bounds and length; runs are
    // time-disjoint per user, making (user_id, run_start) a unique
    // deterministic sort key. Same SQL runs on both engines.
    q("x139_event_runs",
      """WITH o AS (SELECT user_id, event_type, ts,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
        |             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts) AS rn_t
        |           FROM events)
        |SELECT user_id, event_type, min(ts) AS run_start, max(ts) AS run_end,
        |       cast(count(*) AS BIGINT) AS run_len
        |FROM o GROUP BY user_id, event_type, rn - rn_t
        |ORDER BY user_id, run_start""".stripMargin),

    // Training-chunk extraction: overlapping token windows of 64 with
    // stride 48 (16-token overlap) — the doc→sequence step between
    // cleaning and packing (x107). Chunk count = ceil((n-64)/48)+1
    // (short docs yield their single partial chunk); both engines' array
    // slices clamp at the end, and the md5 of the joined window makes
    // the content comparable without shipping text. Per-row explode,
    // no shuffle — at 100 TB this is a map-only stage.
    q("x141_chunking",
      """WITH w AS (SELECT doc_id, split(text,' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, explode(sequence(0,
        |        greatest(cast(ceil((size(w) - 64) / 48.0) AS INT), 0))) AS i
        |      FROM w)
        |SELECT doc_id, cast(i AS BIGINT) AS chunk_id,
        |       cast(size(slice(w, i*48 + 1, 64)) AS BIGINT) AS n_tok,
        |       md5(concat_ws(' ', slice(w, i*48 + 1, 64))) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, unnest(generate_series(0,
        |        greatest(CAST(ceil((len(w) - 64) / 48.0) AS INT), 0))) AS i
        |      FROM w)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |       CAST(len(w[i*48+1 : i*48+64]) AS BIGINT) AS n_tok,
        |       md5(array_to_string(w[i*48+1 : i*48+64], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // Error-tolerant parsing battery (dirty-log ingestion): try_cast /
    // try_divide / try_to_timestamp over a deterministic mix of valid,
    // garbage-suffixed, empty, and padded-whitespace values. The ANSI
    // try_* tier is how a 100 TB ingest survives malformed rows without
    // either FAILFAST aborts or silent permissive-mode nulling of whole
    // lines — bad FIELDS become NULL, the row survives, and the engines
    // agree on every edge (whitespace-trimmed int cast, empty string,
    // invalid calendar date, divide by zero). Sentinels keep the
    // NULL-vs-value distinction in the hash (-1 before the fixed-point
    // floor, epoch for failed timestamps — a bare NULL TIMESTAMP also
    // lands as pandas NaT in the compare's strftime path, the one spot
    // §5.3 canonicalization doesn't cover).
    q("x142_try_parse",
      """WITH s AS (SELECT c_custkey AS k,
        |  CASE c_custkey % 4 WHEN 0 THEN cast(c_custkey AS STRING)
        |                     WHEN 1 THEN concat(cast(c_custkey AS STRING), 'x')
        |                     WHEN 2 THEN '' ELSE '  42  ' END AS raw,
        |  CASE c_custkey % 3 WHEN 0 THEN '2024-01-15' WHEN 1 THEN '2024-13-40'
        |                     ELSE 'nope' END AS draw
        |  FROM customer)
        |SELECT k, try_cast(raw AS INT) AS as_int,
        |       cast(floor(coalesce(try_cast(raw AS DOUBLE), -1) * 100) AS BIGINT) AS cents,
        |       coalesce(try_to_timestamp(draw, 'yyyy-MM-dd'),
        |                timestamp'1970-01-01 00:00:00') AS as_ts,
        |       cast(floor(coalesce(try_divide(100, k % 7), -1) * 100) AS BIGINT) AS div_c
        |FROM s ORDER BY k""".stripMargin,
      """WITH s AS (SELECT c_custkey AS k,
        |  CASE c_custkey % 4 WHEN 0 THEN CAST(c_custkey AS VARCHAR)
        |                     WHEN 1 THEN concat(CAST(c_custkey AS VARCHAR), 'x')
        |                     WHEN 2 THEN '' ELSE '  42  ' END AS raw,
        |  CASE c_custkey % 3 WHEN 0 THEN '2024-01-15' WHEN 1 THEN '2024-13-40'
        |                     ELSE 'nope' END AS draw
        |  FROM customer)
        |SELECT k, try_cast(raw AS INTEGER) AS as_int,
        |       CAST(floor(coalesce(try_cast(raw AS DOUBLE), -1) * 100) AS BIGINT) AS cents,
        |       coalesce(try_strptime(draw, '%Y-%m-%d'),
        |                TIMESTAMP '1970-01-01 00:00:00') AS as_ts,
        |       CAST(floor(coalesce(100 / nullif(k % 7, 0), -1) * 100) AS BIGINT) AS div_c
        |FROM s ORDER BY k""".stripMargin),

    // BPE first-merge census: character-bigram frequencies weighted by
    // word counts — the statistic byte-pair-encoding vocabulary
    // induction greedily maximizes at every merge step (Sennrich et al.;
    // the full iterative merge is sequential-rewrite-shaped and lives
    // outside declarative SQL, but the candidate table each step ranks
    // IS this query). Two hash aggs (word census, pair census) + a
    // top-20 with a total (cnt DESC, pair) tie-break; pairs extracted
    // with substr so no char-array dialect quirks enter the hash.
    q("x143_bpe_pair_census",
      """WITH tok AS (SELECT lower(w) AS w
        |             FROM (SELECT explode(split(text,' ')) AS w FROM documents)),
        |wd AS (SELECT w, count(*) AS c FROM tok WHERE length(w) >= 2 GROUP BY 1),
        |p AS (SELECT substr(w, i, 2) AS pair, c
        |      FROM (SELECT w, c, explode(sequence(1, length(w)-1)) AS i FROM wd)),
        |agg AS (SELECT pair, cast(sum(c) AS BIGINT) AS cnt FROM p GROUP BY 1),
        |rk AS (SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rk FROM agg)
        |SELECT cast(rk AS BIGINT) AS rk, pair, cnt FROM rk WHERE rk <= 20 ORDER BY rk""".stripMargin,
      """WITH tok AS (SELECT lower(unnest(string_split(text,' '))) AS w FROM documents),
        |wd AS (SELECT w, count(*) AS c FROM tok WHERE len(w) >= 2 GROUP BY 1),
        |p AS (SELECT substr(w, i, 2) AS pair, c
        |      FROM (SELECT w, c, unnest(generate_series(1, len(w)-1)) AS i FROM wd)),
        |agg AS (SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM p GROUP BY 1),
        |rk AS (SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rk FROM agg)
        |SELECT CAST(rk AS BIGINT) AS rk, pair, cnt FROM rk WHERE rk <= 20 ORDER BY rk""".stripMargin),

    // Size-WEIGHTED per-group sampling (x133's uniform sibling):
    // priority sampling (Duffield et al.) — keep the k docs per source
    // with the smallest hash/weight priority, so selection probability
    // grows with n_chars ("sample tokens, not documents" — the mixture-
    // building rule when sources bill by bytes). The classic u/w priority
    // is quantized to PURE INTEGERS: (hv·10⁶) div n_chars with a 32-bit
    // md5-prefix hv keeps everything under 2^52 and bit-identical on
    // both engines — no ln/pow, whose last-ulp differences could flip
    // near-tied ranks cross-engine.
    q("x144_weighted_sample",
      """WITH h AS (SELECT source, doc_id, n_chars,
        |             CAST(conv(substr(md5(CAST(doc_id AS STRING)),1,8),16,10) AS BIGINT) AS hv
        |           FROM documents),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY (hv * 1000000) div n_chars, doc_id) AS rk
        |      FROM h)
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin),

    // Collocation mining by PMI rank: adjacent word bigrams vs unigram
    // frequencies — the phrase-detection statistic (Church & Hanks)
    // that turns "new york" into one token before BPE/tokenization.
    // Since the corpus-size term N is constant across candidates, PMI
    // ranking is the pure ratio c_xy/(c_x*c_y); it is computed in
    // integer fixed point ((c_xy*1e12) div (c_x*c_y)) so no log() ulp
    // can flip near-tied ranks cross-engine. min-count 5 is the
    // classic sparsity guard. Shapes: two hash aggs + two broadcast-
    // size joins onto the candidate table — all shuffle keys are
    // words, never text; linear at 100 TB.
    q("x145_pmi_collocations",
      """WITH t AS (SELECT split(lower(text),' ') AS a FROM documents),
        |bg AS (SELECT element_at(a, i) AS w1, element_at(a, i+1) AS w2
        |       FROM (SELECT a, explode(sequence(1, size(a)-1)) AS i FROM t WHERE size(a) >= 2)),
        |cb AS (SELECT w1, w2, count(*) AS cxy FROM bg
        |       WHERE w1 <> '' AND w2 <> '' GROUP BY 1,2 HAVING count(*) >= 5),
        |u AS (SELECT w, count(*) AS cw
        |      FROM (SELECT explode(split(lower(text),' ')) AS w FROM documents)
        |      WHERE w <> '' GROUP BY 1)
        |SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy,
        |       CAST((cxy * 1000000000000) div (u1.cw * u2.cw) AS BIGINT) AS pmi_score
        |FROM cb JOIN u u1 ON cb.w1 = u1.w JOIN u u2 ON cb.w2 = u2.w
        |ORDER BY pmi_score DESC, w1, w2 LIMIT 20""".stripMargin),

    // IGNORE NULLS window battery: forward-fill (last_value IGNORE
    // NULLS over a preceding frame), backward-fill (first_value over a
    // following frame) and nth_value — the sensor/telemetry gap-repair
    // idiom (x69 zero-fills MISSING rows; this repairs NULL FIELDS on
    // present rows). A deterministic 1-in-3 mask makes every engine
    // see the same NULL pattern; fills copy single row values (no
    // accumulation), so round(,4) is knife-edge-safe. Dialect delta:
    // Spark puts IGNORE NULLS after the call, DuckDB inside the args.
    q("x146_ignore_nulls",
      """WITH s AS (SELECT event_id, user_id, ts,
        |             CASE WHEN event_id % 3 = 0 THEN value END AS v
        |           FROM events)
        |SELECT event_id, user_id,
        |       round(last_value(v) IGNORE NULLS OVER w1, 4) AS ffill,
        |       round(first_value(v) IGNORE NULLS OVER w2, 4) AS bfill,
        |       round(nth_value(v, 2) IGNORE NULLS OVER w1, 4) AS nth2
        |FROM s
        |WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
      """WITH s AS (SELECT event_id, user_id, ts,
        |             CASE WHEN event_id % 3 = 0 THEN value END AS v
        |           FROM events)
        |SELECT event_id, user_id,
        |       round(last_value(v IGNORE NULLS) OVER w1, 4) AS ffill,
        |       round(first_value(v IGNORE NULLS) OVER w2, 4) AS bfill,
        |       round(nth_value(v, 2 IGNORE NULLS) OVER w1, 4) AS nth2
        |FROM s
        |WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin),

    // Duplicated-SPAN coverage (the measurement half of Lee et al.
    // exact-substring dedup): x116 counts dup windows; this merges the
    // overlapping [i, i+8) hit intervals per doc (classic running-max
    // island merge) into disjoint spans and reports what FRACTION of
    // each doc's tokens sits inside cross-doc duplicated text — the
    // number that decides remove-span vs drop-doc. All integer: span
    // ends are positions, coverage is basis points via div. Window
    // ORDER BY s is total (one window per start position per doc).
    q("x147_dup_span_coverage",
      """WITH t AS (SELECT doc_id, split(text,' ') AS w FROM documents WHERE size(split(text,' ')) >= 8),
        |wins AS (SELECT doc_id, i, md5(concat_ws(' ', slice(w, i, 8))) AS h
        |         FROM (SELECT doc_id, w, explode(sequence(1, size(w)-7)) AS i FROM t)),
        |shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT doc_id, i AS s, i + 8 AS e FROM wins WHERE h IN (SELECT h FROM shared)),
        |m AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |      FROM dup),
        |isl AS (SELECT doc_id, s, e,
        |          sum(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS g
        |        FROM m),
        |mg AS (SELECT doc_id, g, max(e) - min(s) AS cov FROM isl GROUP BY doc_id, g),
        |per AS (SELECT doc_id, cast(sum(cov) AS BIGINT) AS covered FROM mg GROUP BY doc_id),
        |tok AS (SELECT doc_id, cast(size(w) AS BIGINT) AS n_tok FROM t)
        |SELECT p.doc_id, t.n_tok, p.covered,
        |       cast((p.covered * 10000) div t.n_tok AS BIGINT) AS cov_bp
        |FROM per p JOIN tok t ON p.doc_id = t.doc_id
        |ORDER BY cov_bp DESC, p.doc_id LIMIT 20""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE len(string_split(text,' ')) >= 8),
        |wins AS (SELECT doc_id, i, md5(array_to_string(w[i:i+7], ' ')) AS h
        |         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS i FROM t)),
        |shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT doc_id, i AS s, i + 8 AS e FROM wins WHERE h IN (SELECT h FROM shared)),
        |m AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |      FROM dup),
        |isl AS (SELECT doc_id, s, e,
        |          sum(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS g
        |        FROM m),
        |mg AS (SELECT doc_id, g, max(e) - min(s) AS cov FROM isl GROUP BY doc_id, g),
        |per AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS covered FROM mg GROUP BY doc_id),
        |tok AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM t)
        |SELECT p.doc_id, t.n_tok, p.covered,
        |       CAST((p.covered * 10000) // t.n_tok AS BIGINT) AS cov_bp
        |FROM per p JOIN tok t ON p.doc_id = t.doc_id
        |ORDER BY cov_bp DESC, p.doc_id LIMIT 20""".stripMargin),

    // BPE vocabulary induction, 3 merges unrolled (Sennrich et al.) —
    // x143 ranks the FIRST merge's candidates; this executes the loop.
    // Words become space-WRAPPED symbol strings (' t  h  e ' — each
    // symbol carries its own spaces, so back-to-back pair occurrences
    // are non-overlapping and one replace() merges both, matching
    // greedy left-to-right BPE). Each step: adjacent-pair census over
    // the word DICT weighted by count → argmax (cnt DESC, pair) →
    // literal rewrite. The 1-row argmax is CROSS JOINed (not scalar-
    // subqueried 4×) so the unrolled chain re-executes each level
    // once, not 4^k×. Output = the 3 merges + the top-12 post-merge
    // symbol census (proves the rewrite, not just the choice).
    // Training cost lives on the dict, not the corpus — the one
    // corpus-scale pass is the word census; the iterative scale form
    // is llm/Bpe.scala (x149, same oracle — the x136/x140 policy).
    q("x148_bpe_train3",
      """WITH tok AS (SELECT lower(w) AS w
        |             FROM (SELECT explode(split(text,' ')) AS w FROM documents)),
        |wd AS (SELECT w, count(*) AS c FROM tok WHERE length(w) >= 2 GROUP BY 1),
        |e0 AS (SELECT c, regexp_replace(w, '(?s)(.)', ' $1 ') AS cs FROM wd),
        |pc1 AS (SELECT element_at(s,i) AS p1, element_at(s,i+1) AS p2, c
        |        FROM (SELECT s, c, explode(sequence(1, size(s)-1)) AS i
        |              FROM (SELECT split(trim(cs),'  ') AS s, c FROM e0) WHERE size(s) >= 2)),
        |m1 AS (SELECT p1, p2, cast(sum(c) AS BIGINT) AS cnt,
        |              ' '||p1||'  '||p2||' ' AS srch, ' '||p1||p2||' ' AS repl
        |       FROM pc1 GROUP BY 1,2 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |e1 AS (SELECT e0.c, replace(e0.cs, m1.srch, m1.repl) AS cs FROM e0 CROSS JOIN m1),
        |pc2 AS (SELECT element_at(s,i) AS p1, element_at(s,i+1) AS p2, c
        |        FROM (SELECT s, c, explode(sequence(1, size(s)-1)) AS i
        |              FROM (SELECT split(trim(cs),'  ') AS s, c FROM e1) WHERE size(s) >= 2)),
        |m2 AS (SELECT p1, p2, cast(sum(c) AS BIGINT) AS cnt,
        |              ' '||p1||'  '||p2||' ' AS srch, ' '||p1||p2||' ' AS repl
        |       FROM pc2 GROUP BY 1,2 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |e2 AS (SELECT e1.c, replace(e1.cs, m2.srch, m2.repl) AS cs FROM e1 CROSS JOIN m2),
        |pc3 AS (SELECT element_at(s,i) AS p1, element_at(s,i+1) AS p2, c
        |        FROM (SELECT s, c, explode(sequence(1, size(s)-1)) AS i
        |              FROM (SELECT split(trim(cs),'  ') AS s, c FROM e2) WHERE size(s) >= 2)),
        |m3 AS (SELECT p1, p2, cast(sum(c) AS BIGINT) AS cnt,
        |              ' '||p1||'  '||p2||' ' AS srch, ' '||p1||p2||' ' AS repl
        |       FROM pc3 GROUP BY 1,2 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |e3 AS (SELECT e2.c, replace(e2.cs, m3.srch, m3.repl) AS cs FROM e2 CROSS JOIN m3),
        |sym AS (SELECT sy, cast(sum(c) AS BIGINT) AS cnt
        |        FROM (SELECT explode(split(trim(cs),'  ')) AS sy, c FROM e3) GROUP BY 1),
        |syt AS (SELECT sy, cnt, row_number() OVER (ORDER BY cnt DESC, sy) AS r FROM sym)
        |SELECT * FROM (
        |  SELECT cast(1 AS BIGINT) AS rk, 'merge' AS kind, p1 AS a, p2 AS b, cnt FROM m1
        |  UNION ALL SELECT cast(2 AS BIGINT), 'merge', p1, p2, cnt FROM m2
        |  UNION ALL SELECT cast(3 AS BIGINT), 'merge', p1, p2, cnt FROM m3
        |  UNION ALL SELECT cast(10 + r AS BIGINT), 'sym', sy, '', cnt FROM syt WHERE r <= 12
        |) ORDER BY rk""".stripMargin,
      """WITH tok AS (SELECT lower(unnest(string_split(text,' '))) AS w FROM documents),
        |wd AS (SELECT w, count(*) AS c FROM tok WHERE len(w) >= 2 GROUP BY 1),
        |e0 AS (SELECT c, regexp_replace(w, '(?s)(.)', ' \1 ', 'g') AS cs FROM wd),
        |pc1 AS (SELECT s[i] AS p1, s[i+1] AS p2, c
        |        FROM (SELECT s, c, unnest(generate_series(1, len(s)-1)) AS i
        |              FROM (SELECT string_split(trim(cs),'  ') AS s, c FROM e0) WHERE len(s) >= 2)),
        |m1 AS (SELECT p1, p2, CAST(sum(c) AS BIGINT) AS cnt,
        |              ' '||p1||'  '||p2||' ' AS srch, ' '||p1||p2||' ' AS repl
        |       FROM pc1 GROUP BY 1,2 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |e1 AS (SELECT e0.c, replace(e0.cs, m1.srch, m1.repl) AS cs FROM e0 CROSS JOIN m1),
        |pc2 AS (SELECT s[i] AS p1, s[i+1] AS p2, c
        |        FROM (SELECT s, c, unnest(generate_series(1, len(s)-1)) AS i
        |              FROM (SELECT string_split(trim(cs),'  ') AS s, c FROM e1) WHERE len(s) >= 2)),
        |m2 AS (SELECT p1, p2, CAST(sum(c) AS BIGINT) AS cnt,
        |              ' '||p1||'  '||p2||' ' AS srch, ' '||p1||p2||' ' AS repl
        |       FROM pc2 GROUP BY 1,2 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |e2 AS (SELECT e1.c, replace(e1.cs, m2.srch, m2.repl) AS cs FROM e1 CROSS JOIN m2),
        |pc3 AS (SELECT s[i] AS p1, s[i+1] AS p2, c
        |        FROM (SELECT s, c, unnest(generate_series(1, len(s)-1)) AS i
        |              FROM (SELECT string_split(trim(cs),'  ') AS s, c FROM e2) WHERE len(s) >= 2)),
        |m3 AS (SELECT p1, p2, CAST(sum(c) AS BIGINT) AS cnt,
        |              ' '||p1||'  '||p2||' ' AS srch, ' '||p1||p2||' ' AS repl
        |       FROM pc3 GROUP BY 1,2 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |e3 AS (SELECT e2.c, replace(e2.cs, m3.srch, m3.repl) AS cs FROM e2 CROSS JOIN m3),
        |sym AS (SELECT sy, CAST(sum(c) AS BIGINT) AS cnt
        |        FROM (SELECT unnest(string_split(trim(cs),'  ')) AS sy, c FROM e3) GROUP BY 1),
        |syt AS (SELECT sy, cnt, row_number() OVER (ORDER BY cnt DESC, sy) AS r FROM sym)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS rk, 'merge' AS kind, p1 AS a, p2 AS b, cnt FROM m1
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'merge', p1, p2, cnt FROM m2
        |  UNION ALL SELECT CAST(3 AS BIGINT), 'merge', p1, p2, cnt FROM m3
        |  UNION ALL SELECT CAST(10 + r AS BIGINT), 'sym', sy, '', cnt FROM syt WHERE r <= 12
        |) ORDER BY rk""".stripMargin),

    // Curriculum interleave: per-source quality rank (n_chars as the
    // deterministic quality proxy), then a global training order that
    // round-robins sources — every source's best doc before any
    // source's second-best. The data-ORDERING op of curriculum /
    // mixture training. The outer global window is the q29 shape:
    // contract form here, GlobalWindow.ranks is the scale tier.
    // row_number is INT in Spark and BIGINT in DuckDB — cast both.
    q("x150_curriculum_interleave",
      """WITH r AS (SELECT doc_id, source,
        |             CAST(row_number() OVER (PARTITION BY source
        |               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |           FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY rk, source) AS BIGINT) AS pos,
        |       doc_id, source, rk
        |FROM r ORDER BY pos LIMIT 100""".stripMargin),

    // Training-shard manifest: content-hash assignment of docs to 8
    // shards (the x105 md5-prefix key) + the per-shard audit a dataset
    // release ships — doc/char totals, source spread, id range. One
    // hash-agg shuffle; the assignment column doubles as the
    // partitionBy key of the writer at 100 TB.
    q("x151_shard_manifest",
      """WITH a AS (SELECT doc_id, source, n_chars,
        |    CAST(conv(substr(md5(CAST(doc_id AS STRING)),1,8),16,10) AS BIGINT) % 8 AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |       count(DISTINCT source) AS n_sources,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),

    // OOV rate under a truncated vocabulary: top-k words by corpus
    // frequency (total (c DESC, w) tie-break) as the vocab, then each
    // doc's out-of-vocabulary token fraction in basis points — the
    // coverage statistic that decides vocab size vs UNK rate when
    // fixing a tokenizer. k=15 because the synthetic corpus has 31
    // distinct words — a half-covering vocab produces real OOV spread
    // (1000 would be all-zero here; at a real corpus it's 10^4-10^5).
    // The vocab rank is a global window over the WORD CENSUS
    // (dict-sized, not corpus-sized); per-doc scoring is one hash agg
    // with a broadcast-semi IN probe.
    q("x152_oov_rate",
      """WITH tok AS (SELECT doc_id, w
        |             FROM (SELECT doc_id, explode(split(lower(text),' ')) AS w FROM documents)
        |             WHERE w <> ''),
        |wc AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |v AS (SELECT w FROM (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM wc)
        |      WHERE r <= 15),
        |per AS (SELECT doc_id, count(*) AS n_tok,
        |          CAST(sum(CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END) AS BIGINT) AS in_v
        |        FROM tok GROUP BY 1)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |       CAST(n_tok - in_v AS BIGINT) AS oov,
        |       CAST(((n_tok - in_v) * 10000) div n_tok AS BIGINT) AS oov_bp
        |FROM per ORDER BY oov_bp DESC, doc_id LIMIT 20""".stripMargin),

    // Ratio-to-report + ABC/Pareto bands: per-customer revenue share
    // and cumulative share of the ranked list, banded A (top 50% of
    // revenue), B (to 80%), C (tail) — the concentration analysis
    // behind "which sources fill the token budget" (x122's sibling on
    // money). Revenue is floored to integer CENTS per row before any
    // sum (the §5.4 fixed-point rule: identical IEEE double → floor on
    // both engines, then order-independent integer sums). The ranked
    // cumulative window runs over per-customer AGGREGATES (dim-sized);
    // GlobalWindow.runningSum is the tier if the key set were corpus-
    // sized.
    q("x153_pareto_bands",
      """WITH rev AS (SELECT o_custkey AS ck,
        |         CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |       FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
        |r AS (SELECT ck, cents,
        |        CAST(row_number() OVER (ORDER BY cents DESC, ck) AS BIGINT) AS rk,
        |        CAST(sum(cents) OVER (ORDER BY cents DESC, ck
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM rev)
        |SELECT rk, ck, cents,
        |       CAST((cents * 10000) div t AS BIGINT) AS share_bp,
        |       CAST((cum * 10000) div t AS BIGINT) AS cum_bp,
        |       CASE WHEN (cum * 10000) div t <= 5000 THEN 'A'
        |            WHEN (cum * 10000) div t <= 8000 THEN 'B' ELSE 'C' END AS band
        |FROM r CROSS JOIN tot ORDER BY rk LIMIT 50""".stripMargin),

    // Character-function battery rounding out §2.7: translate (char
    // map), ascii/chr (code point bridge, both directions), reverse,
    // repeat, negative-index substr — identical text in both dialects.
    q("x154_char_funcs",
      """SELECT c_custkey,
        |       translate(c_name, 'aeiou', '-----') AS tr,
        |       ascii(substr(c_name, 1, 1)) AS first_code,
        |       chr(65 + CAST(c_custkey % 26 AS INT)) AS rot_chr,
        |       reverse(lower(c_name)) AS rev,
        |       repeat(substr(c_name, -2, 2), 3) AS rep3
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Regex SPLIT (the delta none of the other regex queries cover:
    // x66 extracts/replaces, this splits). Both engines keep trailing
    // empty fields (Java split(limit=-1) == regexp_split_to_array), so
    // 'customer#000…' splits to ['customer#', ''] — asserting that
    // edge IS the point. Joined with '|' for a hash-stable scalar.
    q("x155_regex_split",
      """SELECT c_custkey,
        |       concat_ws('|', split(lower(c_name), '[0-9]+')) AS parts,
        |       cast(size(split(lower(c_name), '[0-9]+')) AS BIGINT) AS n_parts,
        |       concat_ws('|', split(c_mktsegment, '[aeiou]+')) AS seg_parts
        |FROM customer ORDER BY c_custkey""".stripMargin,
      """SELECT c_custkey,
        |       array_to_string(regexp_split_to_array(lower(c_name), '[0-9]+'), '|') AS parts,
        |       CAST(len(regexp_split_to_array(lower(c_name), '[0-9]+')) AS BIGINT) AS n_parts,
        |       array_to_string(regexp_split_to_array(c_mktsegment, '[aeiou]+'), '|') AS seg_parts
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Rolling 3-day distinct buyers: count(DISTINCT) over a RANGE
    // frame. Spark windows don't take DISTINCT aggregates — the
    // equivalent is size(collect_set()) over the same frame; DuckDB
    // takes count(DISTINCT …) OVER directly. Both run on the
    // pre-deduplicated (day, user) pairs, so the window input is
    // days × active-users (dim-sized), not the event stream.
    q("x156_rolling_distinct",
      """WITH du AS (SELECT DISTINCT cast(floor(unix_millis(ts)/86400000.0) AS BIGINT) AS d, user_id
        |            FROM events WHERE event_type = 'purchase')
        |SELECT DISTINCT d,
        |  cast(size(collect_set(user_id) OVER (ORDER BY d
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)) AS BIGINT) AS u3
        |FROM du ORDER BY d""".stripMargin,
      """WITH du AS (SELECT DISTINCT CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT) AS d, user_id
        |            FROM events WHERE event_type = 'purchase')
        |SELECT DISTINCT d,
        |  CAST(count(DISTINCT user_id) OVER (ORDER BY d
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS u3
        |FROM du ORDER BY d""".stripMargin),

    // Dataset card: the per-source release audit every corpus ships —
    // doc/token totals, language spread, exact-dup rate (docs minus
    // distinct md5 texts, in bp), char range. One hash-agg pass with
    // two count(DISTINCT)s; the card a 100 TB release computes as its
    // final pipeline stage (x151's shard manifest is the storage half,
    // this is the content half).
    q("x157_dataset_card",
      """SELECT source,
        |       count(*) AS docs,
        |       CAST(sum(size(split(text,' '))) AS BIGINT) AS toks,
        |       count(DISTINCT lang) AS langs,
        |       count(DISTINCT md5(text)) AS uniq,
        |       CAST(((count(*) - count(DISTINCT md5(text))) * 10000) div count(*) AS BIGINT) AS dup_bp,
        |       CAST(min(n_chars) AS BIGINT) AS min_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // GROUP BY ALL — the infer-the-keys shorthand both engines added
    // independently (Spark 3.4 / DuckDB): every non-aggregate select
    // item becomes a key. Identical text in both dialects; the plan is
    // the same two-phase agg as an explicit GROUP BY 1,2.
    q("x158_group_by_all",
      """SELECT l_returnflag, l_linestatus, count(*) AS c,
        |       cast(sum(cast(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Equi-width histogram profile (the ANALYZE-histogram op): 16
    // buckets over [min,max] of order totals, empty buckets zero-
    // filled by a generated series left join. The bucket edge float
    // division is identical IEEE on both engines; the max row is
    // clamped into the last bucket (classic right-edge rule).
    q("x159_histogram",
      """WITH b AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo, CAST(max(o_totalprice) AS DOUBLE) AS hi FROM orders),
        |h AS (SELECT least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 16.0)) AS BIGINT), 15) AS bucket,
        |             count(*) AS c
        |      FROM orders CROSS JOIN b GROUP BY 1),
        |s AS (SELECT explode(sequence(0, 15)) AS bucket)
        |SELECT s.bucket, coalesce(h.c, 0) AS c
        |FROM s LEFT JOIN h ON s.bucket = h.bucket ORDER BY s.bucket""".stripMargin),

    // Column profiler (the stats-collection pass CBO consumes, §1):
    // per column ndv / null count / min / max, typed columns unified
    // through string casts (timestamp prints identically under the
    // UTC session on both engines). One scan per column here for SQL
    // clarity; the Scala form would fuse them into one pass of
    // multi-column aggregates.
    q("x160_column_profile",
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col, count(DISTINCT l_orderkey) AS ndv,
        |         CAST(count(*) - count(l_orderkey) AS BIGINT) AS nulls,
        |         CAST(min(l_orderkey) AS STRING) AS minv, CAST(max(l_orderkey) AS STRING) AS maxv
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linenumber', count(DISTINCT l_linenumber),
        |         CAST(count(*) - count(l_linenumber) AS BIGINT),
        |         CAST(min(l_linenumber) AS STRING), CAST(max(l_linenumber) AS STRING) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(DISTINCT l_returnflag),
        |         CAST(count(*) - count(l_returnflag) AS BIGINT),
        |         min(l_returnflag), max(l_returnflag) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', count(DISTINCT l_shipdate),
        |         CAST(count(*) - count(l_shipdate) AS BIGINT),
        |         CAST(min(l_shipdate) AS STRING), CAST(max(l_shipdate) AS STRING) FROM lineitem
        |) ORDER BY col""".stripMargin),

    // Market-basket pair mining: co-purchase support + lift over the
    // order×part incidence. THE skew-prone self-join of retail
    // analytics — baskets are bounded (≤7 lines/order in this corpus),
    // so pair blow-up is O(orders · maxBasket²), and a real deployment
    // would cap basket size before pairing (the x119 SemDeDup cap
    // pattern). Lift in integer basis points (support·N·10000 div
    // c1·c2) so the ranking is exact, not float-ordered. min-support 2
    // keeps the frequent-edge set ~constant (2.4k/3.6k/3.9k pairs at
    // the three SFs — measured) while raw pairs grow 134×.
    // r18b: x80-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8) — the protocol's 1-partition exchange
    // under the DISTINCT serialized the basket self-join's probe and
    // the pair expansion; the hinted `li` subquery at each join side
    // repartitions on the join key so the expansion runs width-way
    // parallel. DuckDialect drops the hint.
    q("x162_market_basket",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |cnt AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY 1),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) a JOIN (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p1, p2, support,
        |       CAST((support * n * 10000) div (c1.c * c2.c) AS BIGINT) AS lift_bp
        |FROM pairs JOIN cnt c1 ON c1.l_partkey = p1
        |           JOIN cnt c2 ON c2.l_partkey = p2 CROSS JOIN tot
        |ORDER BY support DESC, p1, p2 LIMIT 30""".stripMargin),

    // Triangle enumeration on the frequent-co-purchase graph (edges =
    // x162's min-support-2 pairs, kept oriented p1<p2 so each triangle
    // is emitted exactly once as a<b<c — the standard orientation
    // trick that cuts the join fan-out 6×). Identical text in both
    // dialects. NOTE: `pairs` is referenced three times and Spark
    // inlines CTEs, so the edge build runs 3× here — the contract
    // form; operators.Graph.triangles is the persist-once scale path
    // (x165, same oracle — the x136/x140 policy).
    // r18b: x80-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8), x162's hinted `li` subquery; DuckDialect
    // drops the hint.
    q("x163_triangles",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) a JOIN (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |FROM pairs e1 JOIN pairs e2 ON e1.p2 = e2.p1
        |     JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
        |ORDER BY a, b, c""".stripMargin),

    // Date/interval arithmetic battery (the calendar half of §2.7 that
    // x88/x99 don't cover: INTERVAL literals, last_day, quarter trunc,
    // next-weekday, boundary-count month diff). Spark has next_day()
    // built in; DuckDB derives it from isodow ((7-isodow)%7+1 — lands
    // strictly after, +7 when already Monday, matching Spark). Month
    // distance via year*12+month subtraction — identical boundary
    // semantics in both engines, unlike months_between (fractional,
    // day-of-month dependent) vs date_diff('month').
    q("x164_interval_math",
      """WITH o AS (SELECT o_orderkey, cast(o_orderdate AS DATE) AS d FROM orders)
        |SELECT o_orderkey,
        |       cast(d + INTERVAL '3' MONTH AS DATE) AS plus3mo,
        |       cast(d - INTERVAL '90' DAY AS DATE) AS minus90d,
        |       last_day(d) AS eom,
        |       cast(date_trunc('quarter', d) AS DATE) AS qtr,
        |       next_day(d, 'MO') AS next_mon,
        |       cast(datediff(DATE'1998-12-31', d) AS BIGINT) AS days_to_eoy,
        |       cast((1998*12 + 12) - (year(d)*12 + month(d)) AS BIGINT) AS mon_to_eoy
        |FROM o ORDER BY o_orderkey""".stripMargin,
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT o_orderkey,
        |       CAST(d + INTERVAL 3 MONTH AS DATE) AS plus3mo,
        |       CAST(d - INTERVAL 90 DAY AS DATE) AS minus90d,
        |       last_day(d) AS eom,
        |       CAST(date_trunc('quarter', d) AS DATE) AS qtr,
        |       d + CAST(((7 - isodow(d)) % 7) + 1 AS INT) AS next_mon,
        |       CAST(date_diff('day', d, DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
        |       CAST((1998*12 + 12) - (year(d)*12 + month(d)) AS BIGINT) AS mon_to_eoy
        |FROM o ORDER BY o_orderkey""".stripMargin),

    // Unicode accent folding — the canonicalization pass upstream of
    // every hash-based dedup (md5/minhash keys must not split on
    // é vs e+U+0301). Spark has no built-in that RETURNS the folded
    // string, so the engine side is the native codegen'd
    // functions.FoldAccents (NFD → drop Mn marks → NFC, ASCII fast
    // path); the oracle is DuckDB's utf8proc-backed strip_accents.
    // Accented input is synthesized by translate() so the fold is
    // exercised on every row; the constant column pins the
    // already-decomposed case (combining marks in the literal) and the
    // non-decomposable Ø (must survive); `roundtrip` proves
    // fold(translate(x)) == x.
    q("x166_fold_accents",
      """WITH acc AS (SELECT c_custkey,
        |                    lower(c_name) AS lo,
        |                    translate(lower(c_name), 'aeioucs', 'áéíóüçš') AS accented
        |             FROM customer)
        |SELECT c_custkey, accented,
        |       fold_accents(accented) AS folded,
        |       cast(length(accented) AS BIGINT) AS n_chars,
        |       (fold_accents(accented) = lo) AS roundtrip,
        |       fold_accents('Crème Brûlée Ø') AS decomposed_fold
        |FROM acc ORDER BY c_custkey""".stripMargin,
      """WITH acc AS (SELECT c_custkey,
        |                    lower(c_name) AS lo,
        |                    translate(lower(c_name), 'aeioucs', 'áéíóüçš') AS accented
        |             FROM customer)
        |SELECT c_custkey, accented,
        |       strip_accents(accented) AS folded,
        |       CAST(length(accented) AS BIGINT) AS n_chars,
        |       (strip_accents(accented) = lo) AS roundtrip,
        |       strip_accents('Crème Brûlée Ø') AS decomposed_fold
        |FROM acc ORDER BY c_custkey""".stripMargin),
    // Exponential smoothing (EWMA, alpha=1/2) over the daily purchase
    // series — the time-decay metric every monitoring pipeline computes.
    // The naive formulation (running product / pow in a window) is
    // float-accumulation-order dependent; this is the EXACT 8-term
    // truncated form in scaled integers: weights 128,64,…,1 are powers
    // of two, so ewma_x128 is a BIGINT both engines agree on bit-for-
    // bit. Truncation error vs the infinite EWMA is < 2^-8 of the
    // running scale — below the x128 quantum.
    q("x167_ewma",
      """WITH daily AS (
        |  SELECT CAST(floor(unix_millis(ts)/86400000.0) AS BIGINT) AS d, count(*) AS c
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT d, c,
        |  CAST(c*128
        |     + coalesce(lag(c,1) OVER w, 0)*64 + coalesce(lag(c,2) OVER w, 0)*32
        |     + coalesce(lag(c,3) OVER w, 0)*16 + coalesce(lag(c,4) OVER w, 0)*8
        |     + coalesce(lag(c,5) OVER w, 0)*4  + coalesce(lag(c,6) OVER w, 0)*2
        |     + coalesce(lag(c,7) OVER w, 0)    AS BIGINT) AS ewma_x128
        |FROM daily WINDOW w AS (ORDER BY d) ORDER BY d""".stripMargin),

    // Last-touch attribution: each purchase credits the user's most
    // recent PRIOR click — the carry-forward pattern (last_value
    // IGNORE NULLS over UNBOUNDED..1 PRECEDING, so a click never
    // attributes to itself and ties break on event_id). One window
    // pass over the user-partitioned stream — no self-join, which is
    // the scale point: the as-of-join formulation shuffles twice.
    // Dialect delta: IGNORE NULLS is postfix in Spark, inside the
    // call in DuckDB (the x146 delta).
    q("x168_attribution",
      """WITH ev AS (SELECT user_id, ts, event_type, event_id FROM events
        |            WHERE event_type IN ('click', 'purchase')),
        |m AS (SELECT user_id, ts, event_type, event_id,
        |        last_value(CASE WHEN event_type = 'click' THEN event_id END) IGNORE NULLS
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attrib
        |      FROM ev)
        |SELECT event_id, user_id, attrib, (attrib IS NOT NULL) AS attributed
        |FROM m WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
      """WITH ev AS (SELECT user_id, ts, event_type, event_id FROM events
        |            WHERE event_type IN ('click', 'purchase')),
        |m AS (SELECT user_id, ts, event_type, event_id,
        |        last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attrib
        |      FROM ev)
        |SELECT event_id, user_id, attrib, (attrib IS NOT NULL) AS attributed
        |FROM m WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),

    // CDC upsert (MERGE semantics as a full-outer coalesce): delta
    // rows override matching base rows (update), unmatched delta rows
    // append (insert), unmatched base rows persist (keep). Base/delta
    // are carved deterministically from orders so all three op classes
    // occur. The coalesce-over-full-outer shape is the engine-neutral
    // core of every MERGE INTO implementation; at scale the join
    // shuffles on the primary key both sides — exactly the bucketed
    // layout (§6) that makes nightly upserts exchange-free. Identical
    // text in both dialects.
    q("x169_upsert",
      """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |              FROM orders WHERE o_orderkey % 7 <> 0),
        |delta AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
        |                 'R' AS o_orderstatus
        |          FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT coalesce(d.o_orderkey, b.o_orderkey) AS okey,
        |       coalesce(d.o_totalprice, b.o_totalprice) AS price,
        |       coalesce(d.o_orderstatus, b.o_orderstatus) AS status,
        |       CASE WHEN d.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL THEN 'update'
        |            WHEN d.o_orderkey IS NOT NULL THEN 'insert'
        |            ELSE 'keep' END AS op
        |FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
        |ORDER BY okey""".stripMargin),

    // Nested array-of-struct analytics: lines rolled up into a typed
    // array<struct> per order, then computed over with HOF lambdas
    // (aggregate/filter + struct field access) — the shape document
    // stores with nested line items take. The struct array is sorted
    // on ALL fields (a total order on the value) since
    // (l_orderkey, l_linenumber) is NOT unique in this corpus; the
    // integer-cents fold keeps the sum order-independent anyway.
    // Output is scalars only — struct hashing stays out of the gate.
    q("x170_nested_structs",
      """WITH nested AS (
        |  SELECT l_orderkey,
        |         sort_array(collect_list(named_struct(
        |           'ln', l_linenumber, 'qty', l_quantity,
        |           'price', l_extendedprice, 'disc', l_discount))) AS lines
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |  cast(size(lines) AS BIGINT) AS n_lines,
        |  cast(aggregate(lines, 0L,
        |    (s, x) -> s + cast(floor(x.price * (1 - x.disc) * 100) AS BIGINT)) AS BIGINT) AS net_cents,
        |  cast(size(filter(lines, x -> x.qty > 30)) AS BIGINT) AS big_lines,
        |  cast(element_at(lines, 1).ln AS BIGINT) AS first_ln
        |FROM nested ORDER BY l_orderkey""".stripMargin,
      """WITH nested AS (
        |  SELECT l_orderkey,
        |         list(struct_pack(ln := l_linenumber, qty := l_quantity,
        |                          price := l_extendedprice, disc := l_discount)
        |              ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount) AS lines
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(list_sum(list_transform(lines,
        |    x -> CAST(floor(x.price * (1 - x.disc) * 100) AS BIGINT))) AS BIGINT) AS net_cents,
        |  CAST(len(list_filter(lines, x -> x.qty > 30)) AS BIGINT) AS big_lines,
        |  CAST(lines[1].ln AS BIGINT) AS first_ln
        |FROM nested ORDER BY l_orderkey""".stripMargin),

    // Timezone conversion battery: UTC event times to America/New_York
    // wall clock — the localization pass every user-facing rollup
    // needs. Spark: from_utc_timestamp; DuckDB: timezone(tz,
    // timezone('UTC', naive)) double-hop (naive → TIMESTAMPTZ → target
    // wall). The two constants pin the 2024-03-10 US spring-forward:
    // 06:59 UTC is 01:59 EST, 07:01 UTC is 03:01 EDT — the 02:xx hour
    // does not exist, which is exactly what the oracle must agree on.
    // (Both engines read the IANA tzdb; NY 2024 rules are identical.)
    q("x171_timezone",
      """SELECT event_id,
        |  date_format(from_utc_timestamp(ts, 'America/New_York'), 'yyyy-MM-dd HH:mm:ss') AS ny_str,
        |  cast(hour(from_utc_timestamp(ts, 'America/New_York')) AS BIGINT) AS ny_hour,
        |  date_format(from_utc_timestamp(TIMESTAMP'2024-03-10 06:59:00', 'America/New_York'),
        |              'yyyy-MM-dd HH:mm:ss') AS pre_dst,
        |  date_format(from_utc_timestamp(TIMESTAMP'2024-03-10 07:01:00', 'America/New_York'),
        |              'yyyy-MM-dd HH:mm:ss') AS post_dst
        |FROM events ORDER BY event_id""".stripMargin,
      """SELECT event_id,
        |  strftime(timezone('America/New_York', timezone('UTC', ts)), '%Y-%m-%d %H:%M:%S') AS ny_str,
        |  CAST(hour(timezone('America/New_York', timezone('UTC', ts))) AS BIGINT) AS ny_hour,
        |  strftime(timezone('America/New_York', timezone('UTC', TIMESTAMP '2024-03-10 06:59:00')),
        |           '%Y-%m-%d %H:%M:%S') AS pre_dst,
        |  strftime(timezone('America/New_York', timezone('UTC', TIMESTAMP '2024-03-10 07:01:00')),
        |           '%Y-%m-%d %H:%M:%S') AS post_dst
        |FROM events ORDER BY event_id""".stripMargin),

    // Data-quality audit — the expectation gate a pipeline runs before
    // promoting a corpus snapshot: null keys, domain ranges, PK
    // uniqueness, FK closure. One UNION branch per rule here (dialect
    // clarity, one scan per rule); operators.DataQuality (x173, same
    // oracle) fuses all row-local rules into ONE conditional aggregate
    // over ONE scan — the audit at 100 TB is priced by fact reads.
    // qty_in_1_45 is deliberately tight so violations are nonzero;
    // `checked` for the FK rule counts non-NULL keys (REFERENCES
    // semantics: NULL never violates FK).
    q("x172_dq_audit",
      """SELECT * FROM (
        |  SELECT 'lineitem.qty_in_1_45' AS rule,
        |         CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 45) AS BIGINT) AS violations,
        |         CAST(count(*) AS BIGINT) AS checked FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.orderkey_not_null',
        |         CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT),
        |         CAST(count(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.positive_price',
        |         CAST(count(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT),
        |         CAST(count(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'orders.pk_unique',
        |         CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
        |         CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'lineitem.fk_orders',
        |         CAST((SELECT count(*) FROM lineitem l
        |               WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |                 (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
        |         CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL) AS BIGINT)
        |) ORDER BY rule""".stripMargin),

    // Order-independent table checksum — the replica-consistency /
    // migration-audit primitive: per-group SUM of a 32-bit md5 prefix
    // over a canonical row string. Addition commutes, so the checksum
    // is layout-, partitioning-, and order-invariant — two copies of a
    // 100 TB table compare by exchanging 3 rows. Canonical string uses
    // integer-stable fields only (floor(price*100), never raw float
    // repr). Dialect delta: hex→int is conv(,16,10) in Spark, a
    // '0x'-prefixed BIGINT cast in DuckDB — same md5, same value.
    q("x174_table_checksum",
      """WITH h AS (SELECT l_returnflag AS f,
        |    cast(conv(substr(md5(concat_ws('|', l_orderkey, l_linenumber,
        |         l_returnflag, cast(floor(l_extendedprice*100) AS BIGINT))), 1, 8),
        |         16, 10) AS BIGINT) AS h32
        |  FROM lineitem)
        |SELECT f, count(*) AS n, cast(sum(h32) AS BIGINT) AS checksum
        |FROM h GROUP BY f ORDER BY f""".stripMargin,
      """WITH h AS (SELECT l_returnflag AS f,
        |    CAST(('0x' || substring(md5(concat_ws('|', l_orderkey, l_linenumber,
        |         l_returnflag, CAST(floor(l_extendedprice*100) AS BIGINT))), 1, 8))
        |         AS BIGINT) AS h32
        |  FROM lineitem)
        |SELECT f, count(*) AS n, CAST(sum(h32) AS BIGINT) AS checksum
        |FROM h GROUP BY f ORDER BY f""".stripMargin),

    // Weighted median (quantity-weighted price): smallest value whose
    // cumulative weight crosses half the group total. Integer weights
    // and cents keep it exact; ties are safe — whether ANY row of a
    // tied cents-group qualifies depends only on the group's closing
    // cumulative sum, not the arbitrary order within the tie.
    q("x175_weighted_median",
      """WITH w AS (SELECT l_returnflag AS f,
        |                  cast(floor(l_extendedprice*100) AS BIGINT) AS cents,
        |                  cast(l_quantity AS BIGINT) AS wt FROM lineitem),
        |c AS (SELECT f, cents, wt,
        |        sum(wt) OVER (PARTITION BY f ORDER BY cents
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(wt) OVER (PARTITION BY f) AS tot
        |      FROM w)
        |SELECT f, cast(min(cents) AS BIGINT) AS wmedian_cents
        |FROM c WHERE cum * 2 >= tot GROUP BY f ORDER BY f""".stripMargin),

    // Skew diagnosis report — the pre-shuffle doctor: per-key count
    // distribution of the join/agg key, heavy-hitter max, disc
    // percentiles (actual counts, not interpolated floats), and the
    // max/p50 ratio in basis points. THE number that decides whether a
    // key needs salting (x137) or AQE skew-split before a 100 TB
    // shuffle. One hash-agg + one tiny distribution agg.
    q("x176_skew_report",
      """WITH k AS (SELECT l_partkey AS key, count(*) AS c FROM lineitem GROUP BY 1)
        |SELECT cast(count(*) AS BIGINT) AS n_keys,
        |       cast(max(c) AS BIGINT) AS max_c,
        |       cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT) AS p50_c,
        |       cast(percentile_disc(0.9) WITHIN GROUP (ORDER BY c) AS BIGINT) AS p90_c,
        |       cast(percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT) AS p99_c,
        |       cast((max(c) * 10000) div cast(percentile_disc(0.5)
        |            WITHIN GROUP (ORDER BY c) AS BIGINT) AS BIGINT) AS skew_bp
        |FROM k""".stripMargin,
      """WITH k AS (SELECT l_partkey AS key, count(*) AS c FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(max(c) AS BIGINT) AS max_c,
        |       CAST(quantile_disc(c, 0.5) AS BIGINT) AS p50_c,
        |       CAST(quantile_disc(c, 0.9) AS BIGINT) AS p90_c,
        |       CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_c,
        |       CAST((max(c) * 10000) // quantile_disc(c, 0.5) AS BIGINT) AS skew_bp
        |FROM k""".stripMargin),

    // ==== Round-6 additions (x178+) ======================================

    // Snapshot diff — the dataset-versioning primitive a curation
    // pipeline audits with: two table versions (derived here from
    // orders by deterministic filters/edits: v_old drops keys ≡0 mod 7,
    // v_new drops keys ≡0 mod 11 and bumps price on keys ≡0 mod 5),
    // full-outer joined on the key and classified added / removed /
    // changed, with both price versions carried for the changed rows.
    // Integer cents (floor(price*100)) keep the comparison exact. One
    // co-partitioned full-outer join — at 100 TB this runs
    // exchange-free when both snapshots share the §6 bucketed layout
    // (the same condition LayoutSpec pins for fact-fact joins).
    q("x178_snapshot_diff",
      """WITH v_old AS (SELECT o_orderkey AS k, cast(floor(o_totalprice*100) AS BIGINT) AS pc
        |              FROM orders WHERE o_orderkey % 7 <> 0),
        |v_new AS (SELECT o_orderkey AS k,
        |                 cast(floor(o_totalprice*100) AS BIGINT)
        |                   + CASE WHEN o_orderkey % 5 = 0 THEN 500 ELSE 0 END AS pc
        |          FROM orders WHERE o_orderkey % 11 <> 0)
        |SELECT coalesce(v_old.k, v_new.k) AS k,
        |       CASE WHEN v_old.k IS NULL THEN 'added'
        |            WHEN v_new.k IS NULL THEN 'removed'
        |            ELSE 'changed' END AS change,
        |       v_old.pc AS old_pc, v_new.pc AS new_pc
        |FROM v_old FULL OUTER JOIN v_new ON v_old.k = v_new.k
        |WHERE v_old.k IS NULL OR v_new.k IS NULL OR v_old.pc <> v_new.pc
        |ORDER BY k""".stripMargin),

    // SCD2 history build — the type-2 slowly-changing-dimension table a
    // warehouse derives from a change log: one validity interval per
    // change, closed by the NEXT change's sequence number (lead), open
    // (is_current=1) for the latest. Complements x169/CdcStream (SCD1
    // latest-wins): same change log, the history-preserving shape.
    // Per-key windows partition by the key — scales horizontally, no
    // global sort.
    q("x180_scd2_history",
      """WITH ch AS (SELECT cast(o_orderkey % 1000 AS BIGINT) AS k,
        |                   cast(o_orderkey AS BIGINT) AS seq,
        |                   cast(floor(o_totalprice*100) AS BIGINT) AS pc
        |            FROM orders)
        |SELECT k, seq AS from_seq,
        |       lead(seq) OVER (PARTITION BY k ORDER BY seq) AS to_seq,
        |       CASE WHEN lead(seq) OVER (PARTITION BY k ORDER BY seq) IS NULL
        |            THEN 1 ELSE 0 END AS is_current,
        |       pc
        |FROM ch ORDER BY k, from_seq""".stripMargin),

    // ==== Round-7 additions (x181+) ======================================

    // Benford first-digit audit — the fraud/corruption forensic a data
    // platform runs over money columns: observed leading-digit
    // distribution vs Benford's log10(1+1/d) expectation, both in basis
    // points. Digit extracted via string cast (no data-dependent log —
    // log10 only touches the nine constants 1..9, where floor(10000·x)
    // sits ≥0.08 from every integer boundary, so the fixed-point value
    // is engine-stable). One scan, 9-row output.
    q("x181_benford_audit",
      """WITH d AS (SELECT cast(substr(cast(cast(floor(o_totalprice) AS BIGINT) AS STRING),1,1) AS BIGINT) AS digit
        |           FROM orders WHERE o_totalprice >= 1)
        |SELECT digit, count(*) AS n,
        |       cast(floor(count(*) * 10000.0 / sum(count(*)) OVER ()) AS BIGINT) AS obs_bp,
        |       cast(floor(10000.0 * log10(1.0 + 1.0/digit)) AS BIGINT) AS benford_bp
        |FROM d GROUP BY digit ORDER BY digit""".stripMargin),

    // Time-weighted average (TWAP) per user — each event's value holds
    // until the user's NEXT event (lead), weighted by that duration in
    // integer milliseconds × integer cents, closed with integer division:
    // exact arithmetic end-to-end where a float time-weighted mean could
    // only ulp-match. The complement of x167's EWMA (event-weighted,
    // decay) — this is the market/metering semantics (duration-weighted).
    // Per-user windows partition by user_id: scales horizontally.
    q("x182_time_weighted_avg",
      """WITH e AS (SELECT user_id, unix_millis(ts) AS tms,
        |                  cast(floor(value*100) AS BIGINT) AS vc,
        |                  lead(unix_millis(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ntms
        |           FROM events)
        |SELECT user_id,
        |       cast(sum(vc*(ntms-tms)) AS BIGINT) AS vt_num,
        |       cast(sum(ntms-tms) AS BIGINT) AS dur_ms,
        |       cast(sum(vc*(ntms-tms)) div sum(ntms-tms) AS BIGINT) AS twap_c
        |FROM e WHERE ntms IS NOT NULL GROUP BY user_id
        |HAVING sum(ntms-tms) > 0 ORDER BY user_id""".stripMargin,
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms,
        |                  cast(floor(value*100) AS BIGINT) AS vc,
        |                  lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ntms
        |           FROM events)
        |SELECT user_id,
        |       cast(sum(vc*(ntms-tms)) AS BIGINT) AS vt_num,
        |       cast(sum(ntms-tms) AS BIGINT) AS dur_ms,
        |       cast(cast(sum(vc*(ntms-tms)) AS BIGINT) // cast(sum(ntms-tms) AS BIGINT) AS BIGINT) AS twap_c
        |FROM e WHERE ntms IS NOT NULL GROUP BY user_id
        |HAVING sum(ntms-tms) > 0 ORDER BY user_id""".stripMargin),

    // Key-sequence gap detection — the completeness audit run after any
    // ingest: ranges of key values missing from an arrived partition
    // (here the F-status orders — the full o_orderkey domain is dense
    // 0..N-1 in this corpus, so the filtered subset is what a partial
    // ingest looks like), reported as (last key present, next key
    // present, missing count). Neighbor comparison needs a total order,
    // so the declared form pays the one global lead window (q29's
    // class); at 100 TB this runs through the x100 two-pass tier —
    // range-partition by key, per-partition lead, exchange only the
    // 1-row partition boundaries.
    q("x183_sequence_gaps",
      """WITH k AS (SELECT o_orderkey AS k,
        |                  lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nk
        |           FROM orders WHERE o_orderstatus = 'F')
        |SELECT k AS gap_after, nk AS next_present,
        |       cast(nk - k - 1 AS BIGINT) AS missing
        |FROM k WHERE nk - k > 1 ORDER BY gap_after""".stripMargin),

    // Largest-remainder apportionment — allocate an integer budget
    // (10000 shard slots) across nations proportional to customer count
    // such that the parts sum EXACTLY to the budget: floor quotas by
    // integer division, then +1 to the largest remainders. Float
    // proportional allocation cannot guarantee the sum; the all-integer
    // method is exact, hash-checkable, and the shape every shard/quota
    // assigner needs. Dim-sized windows only.
    q("x184_apportionment",
      """WITH c AS (SELECT n_name AS name, cast(count(*) AS BIGINT) AS cnt
        |           FROM customer JOIN nation ON c_nationkey = n_nationkey
        |           GROUP BY n_name),
        |t AS (SELECT cast(sum(cnt) AS BIGINT) AS total FROM c),
        |q AS (SELECT name, cnt,
        |             cast((cnt * 10000) div (SELECT total FROM t) AS BIGINT) AS fl,
        |             cast((cnt * 10000) % (SELECT total FROM t) AS BIGINT) AS rem
        |      FROM c),
        |s AS (SELECT cast(10000 - sum(fl) AS BIGINT) AS leftover FROM q),
        |r AS (SELECT name, cnt, fl, rem,
        |             row_number() OVER (ORDER BY rem DESC, name) AS rk FROM q)
        |SELECT name, cnt,
        |       cast(fl + CASE WHEN rk <= (SELECT leftover FROM s) THEN 1 ELSE 0 END AS BIGINT) AS slots
        |FROM r ORDER BY name""".stripMargin),

    // Point-in-time (validity-interval) join — the bitemporal complement
    // of as-of (q23/x57) and SCD2 (x180): each fact row joins the ONE
    // dimension version whose [from_seq, to_seq) interval contains the
    // fact's sequence number. Equi-join on the key carries the shuffle;
    // the interval predicate is a post-join filter — per-key intervals,
    // no global sort, scales like any keyed join. (x180 builds the same
    // intervals; here they're consumed.)
    q("x185_pit_join",
      """WITH ch AS (SELECT cast(o_orderkey % 1000 AS BIGINT) AS k,
        |                   cast(o_orderkey AS BIGINT) AS seq,
        |                   cast(floor(o_totalprice*100) AS BIGINT) AS pc
        |            FROM orders),
        |dim AS (SELECT k, seq AS from_seq,
        |               lead(seq) OVER (PARTITION BY k ORDER BY seq) AS to_seq, pc
        |        FROM ch),
        |f AS (SELECT cast(l_orderkey AS BIGINT) AS fseq,
        |             cast(l_orderkey % 1000 AS BIGINT) AS k,
        |             cast(l_linenumber AS BIGINT) AS ln
        |      FROM lineitem)
        |SELECT f.k, f.fseq, f.ln, d.from_seq, d.pc
        |FROM f JOIN dim d ON f.k = d.k AND d.from_seq <= f.fseq
        |                 AND (d.to_seq IS NULL OR f.fseq < d.to_seq)
        |ORDER BY f.k, f.fseq, f.ln, d.from_seq""".stripMargin),

    // k-anonymity audit — the privacy gate a training-data release runs:
    // group sizes over the quasi-identifier tuple, per-group suppression
    // flag (n < k), plus the dataset's k-anonymity (min group size) and
    // total rows needing suppression. Grouped output is dim-sized, so
    // the global window costs nothing; the heavy work is one hash agg.
    q("x186_k_anonymity",
      """WITH g AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |                  cast(count(*) AS BIGINT) AS n
        |           FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT nk, seg, n,
        |       CASE WHEN n < 5 THEN 1 ELSE 0 END AS suppress,
        |       cast(min(n) OVER () AS BIGINT) AS k_anonymity,
        |       cast(sum(CASE WHEN n < 5 THEN n ELSE 0 END) OVER () AS BIGINT) AS rows_at_risk
        |FROM g ORDER BY nk, seg""".stripMargin),

    // Markov transition census — the path-analysis primitive behind
    // "what do users do next": per-user event sequences (total-ordered
    // by ts, event_id) reduced to (from_type, to_type) transition counts
    // with per-origin shares in basis points. Per-user lead windows
    // partition by user_id — scales horizontally; the transition matrix
    // is |types|² = dim-sized.
    q("x187_markov_transitions",
      """WITH s AS (SELECT user_id, event_type AS ft,
        |                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS tt
        |           FROM events),
        |c AS (SELECT ft, tt, cast(count(*) AS BIGINT) AS n FROM s
        |      WHERE tt IS NOT NULL GROUP BY ft, tt)
        |SELECT ft, tt, n,
        |       cast(floor(n * 10000.0 / sum(n) OVER (PARTITION BY ft)) AS BIGINT) AS share_bp
        |FROM c ORDER BY ft, tt""".stripMargin),

    // Robust outlier detection via MAD (median absolute deviation) —
    // the scale/offset-free anomaly gate: per-group discrete median
    // (smallest value whose cumulative count crosses half — the x175
    // lower-median machinery, exact integers end-to-end), MAD as the
    // same median over |x - med|, then count points beyond 3×MAD.
    // Windows partition by group; no global sort, no floats.
    q("x188_mad_outliers",
      """WITH v AS (SELECT event_type AS g, cast(floor(value*100) AS BIGINT) AS c FROM events),
        |m1 AS (SELECT g, c, count(*) AS cnt FROM v GROUP BY g, c),
        |cu1 AS (SELECT g, c, sum(cnt) OVER (PARTITION BY g ORDER BY c) AS cum,
        |               sum(cnt) OVER (PARTITION BY g) AS tot FROM m1),
        |med AS (SELECT g, min(c) AS med_c FROM cu1 WHERE cum*2 >= tot GROUP BY g),
        |d AS (SELECT v.g, v.c, abs(v.c - med.med_c) AS ad, med.med_c
        |      FROM v JOIN med ON v.g = med.g),
        |m2 AS (SELECT g, ad, count(*) AS cnt FROM d GROUP BY g, ad),
        |cu2 AS (SELECT g, ad, sum(cnt) OVER (PARTITION BY g ORDER BY ad) AS cum,
        |               sum(cnt) OVER (PARTITION BY g) AS tot FROM m2),
        |mad AS (SELECT g, min(ad) AS mad_c FROM cu2 WHERE cum*2 >= tot GROUP BY g)
        |SELECT d.g, cast(max(d.med_c) AS BIGINT) AS med_c,
        |       cast(max(mad.mad_c) AS BIGINT) AS mad_c,
        |       cast(sum(CASE WHEN d.ad > 3*mad.mad_c THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
        |       cast(count(*) AS BIGINT) AS n
        |FROM d JOIN mad ON d.g = mad.g
        |GROUP BY d.g ORDER BY d.g""".stripMargin),

    // Concentration (inequality) report — "what share of total revenue
    // does each customer decile hold": global ntile(10) over per-customer
    // revenue (q29's global-window class — the x100 two-pass tier at
    // scale), per-decile sums, shares in basis points. All-integer cents
    // keep it exact; the top decile's share is the number a dataset
    // curator watches for token-concentration (a few docs owning the
    // corpus).
    q("x189_concentration",
      """WITH r AS (SELECT o_custkey, cast(sum(cast(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev
        |           FROM orders GROUP BY o_custkey),
        |d AS (SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS decile FROM r)
        |SELECT decile, cast(count(*) AS BIGINT) AS customers,
        |       cast(sum(rev) AS BIGINT) AS rev_c,
        |       cast(floor(sum(rev) * 10000.0 / sum(sum(rev)) OVER ()) AS BIGINT) AS share_bp
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin),

    // Distribution drift report — the between-snapshot shift audit run
    // before retraining: document length distributions of two sources
    // over fixed-width buckets, per-side shares in basis points and the
    // per-bucket delta. All counts/shares integer — no KL/PSI log terms,
    // so the report is exact and hash-checkable; the drift DECISION
    // (thresholding) consumes the same numbers either way.
    q("x190_dist_drift",
      """WITH b AS (SELECT source, cast(n_chars AS BIGINT) div 200 AS bucket FROM documents
        |           WHERE source IN ('src0','src1')),
        |c AS (SELECT bucket,
        |             cast(sum(CASE WHEN source='src0' THEN 1 ELSE 0 END) AS BIGINT) AS a_n,
        |             cast(sum(CASE WHEN source='src1' THEN 1 ELSE 0 END) AS BIGINT) AS b_n
        |      FROM b GROUP BY bucket)
        |SELECT bucket, a_n, b_n,
        |       cast(floor(a_n * 10000.0 / sum(a_n) OVER ()) AS BIGINT) AS a_bp,
        |       cast(floor(b_n * 10000.0 / sum(b_n) OVER ()) AS BIGINT) AS b_bp,
        |       cast(floor(a_n * 10000.0 / sum(a_n) OVER ()) - floor(b_n * 10000.0 / sum(b_n) OVER ()) AS BIGINT) AS delta_bp
        |FROM c ORDER BY bucket""".stripMargin),

    // Join-cardinality audit — the pre-join health check a planner (or a
    // human) wants before a 100 TB join: fan-out histogram of the
    // orders→lineitem FK (children per parent bucketed 0/1/2-3/4-7/8+)
    // plus both orphan directions. Two hash aggs and one outer join of
    // dim-sized results; complements x172 (FK closure as a gate) and
    // x176 (key skew) with the multiplicity profile.
    q("x191_join_cardinality",
      """WITH po AS (SELECT o_orderkey AS k FROM orders),
        |ch AS (SELECT l_orderkey AS k, cast(count(*) AS BIGINT) AS n FROM lineitem GROUP BY l_orderkey),
        |fan AS (SELECT coalesce(ch.n, 0) AS n FROM po LEFT JOIN ch ON po.k = ch.k),
        |b AS (SELECT CASE WHEN n = 0 THEN '0' WHEN n = 1 THEN '1'
        |                  WHEN n <= 3 THEN '2-3' WHEN n <= 7 THEN '4-7'
        |                  ELSE '8+' END AS fanout,
        |             n FROM fan)
        |SELECT fanout, cast(count(*) AS BIGINT) AS parents,
        |       cast(sum(n) AS BIGINT) AS children
        |FROM b GROUP BY fanout
        |UNION ALL
        |SELECT 'orphan_children' AS fanout,
        |       cast(count(DISTINCT l.l_orderkey) AS BIGINT) AS parents,
        |       cast(count(*) AS BIGINT) AS children
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL
        |ORDER BY fanout""".stripMargin),

    // Reciprocal-rank fusion — the hybrid-search combiner (lexical rank
    // ⊕ prior rank): rrf(d) = Σ 1/(60+rank_i(d)), here in integer
    // micro-units (floor(1e6/(60+r))) so the fused score is exact. The
    // two input rankings are a term-frequency rank ('data' occurrences
    // via length/replace — no regex) and a length-prior rank. Global
    // row_number rankings (q29's class; x100 tier at scale), dim-sized
    // fusion output.
    q("x192_rrf_fusion",
      """WITH t AS (SELECT doc_id,
        |                  cast((length(text) - length(replace(text,'data',''))) div 4 AS BIGINT) AS tf,
        |                  n_chars
        |           FROM documents),
        |r AS (SELECT doc_id, tf, n_chars,
        |             row_number() OVER (ORDER BY tf DESC, doc_id) AS r1,
        |             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r2
        |      FROM t)
        |SELECT doc_id, r1, r2,
        |       cast(floor(1000000.0/(60+r1)) + floor(1000000.0/(60+r2)) AS BIGINT) AS rrf
        |FROM r ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),

    // Per-group min-max normalization to integer permille — the feature
    // scaling primitive: (x - min) * 1000 / (max - min) by integer
    // division, degenerate (constant) groups map to 0. One grouped
    // min/max (broadcast-sized) joined back; exact integers.
    q("x193_minmax_norm",
      """WITH v AS (SELECT event_type AS g, event_id, cast(floor(value*100) AS BIGINT) AS c FROM events),
        |m AS (SELECT g, min(c) AS lo, max(c) AS hi FROM v GROUP BY g)
        |SELECT v.g, v.event_id,
        |       cast(CASE WHEN m.hi = m.lo THEN 0
        |                 ELSE ((v.c - m.lo) * 1000) div (m.hi - m.lo) END AS BIGINT) AS norm_pm
        |FROM v JOIN m ON v.g = m.g ORDER BY v.g, v.event_id""".stripMargin),

    // Funnel time-to-convert — x138/x81 count conversions; this reports
    // HOW LONG conversion takes: per converting user the first-view →
    // first-purchase latency in integer ms, rolled up to converter
    // count, discrete median (the x175/x188 cumulative-count machinery —
    // exact, no interpolation), and min/max. One grouped min per user,
    // dim-sized median pass.
    q("x194_funnel_latency",
      """WITH f AS (SELECT user_id,
        |                  min(CASE WHEN event_type='view' THEN ts END) AS v_ts,
        |                  min(CASE WHEN event_type='purchase' THEN ts END) AS p_ts
        |           FROM events GROUP BY user_id),
        |d AS (SELECT unix_millis(p_ts) - unix_millis(v_ts) AS ms FROM f
        |      WHERE v_ts IS NOT NULL AND p_ts IS NOT NULL AND p_ts >= v_ts),
        |m AS (SELECT ms, count(*) AS cnt FROM d GROUP BY ms),
        |c AS (SELECT ms, sum(cnt) OVER (ORDER BY ms) AS cum, sum(cnt) OVER () AS tot FROM m)
        |SELECT (SELECT cast(count(*) AS BIGINT) FROM d) AS converters,
        |       (SELECT cast(min(ms) AS BIGINT) FROM c WHERE cum*2 >= tot) AS median_ms,
        |       (SELECT cast(min(ms) AS BIGINT) FROM d) AS min_ms,
        |       (SELECT cast(max(ms) AS BIGINT) FROM d) AS max_ms""".stripMargin),

    // Hierarchical contribution (percent-of-parent rollup) — nation
    // share within region and region share of total, both in basis
    // points: the two-level ratio_to_report every revenue/token
    // breakdown report needs. Dim-sized windows over the grouped
    // output; the heavy work is one hash agg over the joined facts.
    q("x195_share_of_parent",
      """WITH cn AS (SELECT r_name, n_name, cast(count(*) AS BIGINT) AS n
        |            FROM customer JOIN nation ON c_nationkey = n_nationkey
        |                          JOIN region ON n_regionkey = r_regionkey
        |            GROUP BY r_name, n_name)
        |SELECT r_name, n_name, n,
        |       cast(floor(n * 10000.0 / sum(n) OVER (PARTITION BY r_name)) AS BIGINT) AS nation_in_region_bp,
        |       cast(floor(sum(n) OVER (PARTITION BY r_name) * 10000.0 / sum(n) OVER ()) AS BIGINT) AS region_of_total_bp
        |FROM cn ORDER BY r_name, n_name""".stripMargin),

    // Daily bounce rate — q31's 30-minute-gap sessionization rolled to
    // the canonical engagement metric: per day (of session start),
    // session count, single-event sessions, bounce share in bp.
    // Per-user windows scale; the daily rollup is dim-sized.
    q("x196_bounce_rate",
      """WITH g AS (SELECT user_id, ts, event_id,
        |                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                            OR unix_millis(ts) - unix_millis(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
        |                       THEN 1 ELSE 0 END AS new_s
        |           FROM events),
        |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid FROM g),
        |per AS (SELECT user_id, sid, min(cast(ts AS DATE)) AS d, count(*) AS n
        |        FROM s GROUP BY user_id, sid)
        |SELECT d, cast(count(*) AS BIGINT) AS sessions,
        |       cast(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
        |       cast(floor(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 10000.0 / count(*)) AS BIGINT) AS bounce_bp
        |FROM per GROUP BY d ORDER BY d""".stripMargin),

    // Order-line reconciliation — the ledger audit every ETL handoff
    // runs: per-order line-item cent sums vs the order header total,
    // classified exact / within-1% / mismatch, plus headers without
    // lines and lines without headers, with the absolute cent drift
    // per class. One grouped sum + one full-outer key join.
    q("x197_reconciliation",
      """WITH l AS (SELECT l_orderkey AS k,
        |                  cast(sum(cast(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS line_c
        |           FROM lineitem GROUP BY l_orderkey),
        |o AS (SELECT o_orderkey AS k, cast(floor(o_totalprice*100) AS BIGINT) AS ord_c FROM orders)
        |SELECT CASE WHEN l.k IS NULL THEN 'no_lines'
        |            WHEN o.k IS NULL THEN 'no_order'
        |            WHEN l.line_c = o.ord_c THEN 'exact'
        |            WHEN abs(l.line_c - o.ord_c) * 100 <= o.ord_c THEN 'within_1pct'
        |            ELSE 'mismatch' END AS status,
        |       cast(count(*) AS BIGINT) AS n,
        |       cast(sum(abs(coalesce(l.line_c,0) - coalesce(o.ord_c,0))) AS BIGINT) AS abs_drift_c
        |FROM l FULL OUTER JOIN o ON l.k = o.k
        |GROUP BY CASE WHEN l.k IS NULL THEN 'no_lines'
        |              WHEN o.k IS NULL THEN 'no_order'
        |              WHEN l.line_c = o.ord_c THEN 'exact'
        |              WHEN abs(l.line_c - o.ord_c) * 100 <= o.ord_c THEN 'within_1pct'
        |              ELSE 'mismatch' END
        |ORDER BY status""".stripMargin),

    // Peak concurrency (sweep line) — how many user sessions are open
    // at once: q31's session intervals become (+1 at start, −1 at end)
    // points; the RANGE-framed cumulative sum (both engines' default for
    // ORDER BY windows) evaluates all ties at a timestamp together, so
    // endpoint ties are deterministic. Output: peak concurrent sessions
    // + totals. The one global sweep window is q29's class; at scale,
    // sweep per day/shard and merge boundaries (x100 pattern).
    q("x198_peak_concurrency",
      """WITH g AS (SELECT user_id, ts, event_id,
        |                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                            OR unix_millis(ts) - unix_millis(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
        |                       THEN 1 ELSE 0 END AS new_s
        |           FROM events),
        |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid FROM g),
        |iv AS (SELECT user_id, sid, min(unix_millis(ts)) AS st, max(unix_millis(ts)) AS en
        |       FROM s GROUP BY user_id, sid),
        |pts AS (SELECT st AS t, 1 AS delta FROM iv
        |        UNION ALL SELECT en AS t, -1 AS delta FROM iv),
        |c AS (SELECT t, sum(delta) OVER (ORDER BY t) AS conc FROM pts)
        |SELECT cast(max(conc) AS BIGINT) AS peak_sessions,
        |       (SELECT cast(count(*) AS BIGINT) FROM iv) AS total_sessions
        |FROM c""".stripMargin),

    // Rapid repeat-order pairs — the same-actor velocity check a fraud
    // screen runs: pairs of orders by the same customer within 3 days,
    // with the day gap and cent price delta. Equi-join blocked on the
    // customer key (the shuffle key); the time band is a post-join
    // filter — per-key pair cost bounded by per-customer order counts
    // (x176's skew report is the guard rail).
    q("x199_rapid_repeat",
      """SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key,
        |       a.o_custkey AS cust,
        |       cast(abs(datediff(b.o_orderdate, a.o_orderdate)) AS BIGINT) AS gap_days,
        |       cast(abs(cast(floor(a.o_totalprice*100) AS BIGINT)
        |                - cast(floor(b.o_totalprice*100) AS BIGINT)) AS BIGINT) AS price_delta_c
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |WHERE abs(datediff(b.o_orderdate, a.o_orderdate)) <= 3
        |ORDER BY a_key, b_key""".stripMargin,
      """SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key,
        |       a.o_custkey AS cust,
        |       cast(abs(datediff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT) AS gap_days,
        |       cast(abs(cast(floor(a.o_totalprice*100) AS BIGINT)
        |                - cast(floor(b.o_totalprice*100) AS BIGINT)) AS BIGINT) AS price_delta_c
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |WHERE abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 3
        |ORDER BY a_key, b_key""".stripMargin),

    // Transposition-aware fuzzy matching — x126's banded candidate join
    // under unrestricted Damerau-Levenshtein (swapped adjacent letters,
    // the most common human typo, cost 1 instead of 2). The Spark side
    // runs graft's native codegen'd expression (functions/
    // DamerauLevenshtein.scala — Lowrance-Wagner DP); DuckDB computes
    // the same unrestricted variant built in (probed: CA→ABC = 2), so
    // the hash gate checks the custom expression's every output value.
    // Includes the discriminating rows: pairs where dl < levenshtein.
    //
    // The two dialects differ STRUCTURALLY (SCALE.md §19): a bare
    // "b.p_partkey - a.p_partkey <= 40" band is a post-join filter, so
    // the executed equi-join is on p_brand alone and the candidate set
    // is O(n²/brands) — the r8 10× soak measured it at 3992× wall
    // (85 ms → 339 s). The Spark dialect therefore BLOCK-BUCKETS the
    // key space at the band width (blk = key div 41; a pair within
    // distance 40 lands in the same or adjacent block, each pair
    // matching exactly ONE of the probe side's two keys), making
    // candidates O(n · band) — the same banding the MinHash/interval
    // tiers use. DuckDB keeps the plain form: oracle-scale corpora are
    // small, and the hash gate proves the two shapes equal.
    q("x200_fuzzy_join_dl",
      """WITH blk AS (SELECT p_partkey, p_brand, p_name, p_partkey div 41 AS bk FROM part),
        |probe AS (SELECT p_partkey, p_brand, p_name, explode(array(bk, bk - 1)) AS jk FROM blk)
        |SELECT a.p_partkey AS pa, b.p_partkey AS pb,
        |       cast(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dl,
        |       cast(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        |FROM blk a JOIN probe b
        |  ON a.p_brand = b.p_brand AND a.bk = b.jk
        | AND a.p_partkey < b.p_partkey
        | AND b.p_partkey - a.p_partkey <= 40
        |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 12
        |ORDER BY dl, pa, pb""".stripMargin,
      """SELECT a.p_partkey AS pa, b.p_partkey AS pb,
        |       cast(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dl,
        |       cast(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        | AND b.p_partkey - a.p_partkey <= 40
        |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 12
        |ORDER BY dl, pa, pb""".stripMargin),

    // Linear interpolation over series gaps — x69 fills missing hours
    // with 0; this reconstructs them from the neighbors: spine join,
    // previous/next present points via IGNORE-NULLS framed windows (the
    // x146 machinery), then v0 + (v1-v0)·(t-t0)/(t1-t0) in integer
    // cents (both engines' integer division truncates toward zero —
    // probed, including negatives). Edge gaps extend the nearest value.
    // Spine is dim-sized; the windows are over the spine, not events.
    q("x201_linear_interp",
      """WITH h AS (SELECT cast(floor(unix_millis(ts)/3600000.0) AS BIGINT) AS hn,
        |                  cast(sum(cast(floor(value*100) AS BIGINT)) div count(*) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sp AS (SELECT b.hn, h.vc
        |       FROM (SELECT explode(sequence((SELECT min(hn) FROM h),(SELECT max(hn) FROM h))) AS hn) b
        |       LEFT JOIN h ON b.hn = h.hn),
        |f AS (SELECT hn, vc,
        |             last_value(CASE WHEN vc IS NOT NULL THEN hn END) IGNORE NULLS OVER w1 AS h0,
        |             last_value(vc) IGNORE NULLS OVER w1 AS v0,
        |             first_value(CASE WHEN vc IS NOT NULL THEN hn END) IGNORE NULLS OVER w2 AS h1,
        |             first_value(vc) IGNORE NULLS OVER w2 AS v1
        |      FROM sp
        |      WINDOW w1 AS (ORDER BY hn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             w2 AS (ORDER BY hn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT hn,
        |       cast(CASE WHEN vc IS NOT NULL THEN vc
        |                 WHEN h0 IS NULL THEN v1
        |                 WHEN h1 IS NULL THEN v0
        |                 ELSE v0 + ((v1 - v0) * (hn - h0)) div (h1 - h0) END AS BIGINT) AS vc_interp,
        |       CASE WHEN vc IS NULL THEN 1 ELSE 0 END AS interpolated
        |FROM f ORDER BY hn""".stripMargin,
      """WITH h AS (SELECT cast(floor(epoch_ms(ts)/3600000.0) AS BIGINT) AS hn,
        |                  cast(sum(cast(floor(value*100) AS BIGINT)) // count(*) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sp AS (SELECT b.hn, h.vc
        |       FROM (SELECT unnest(generate_series((SELECT min(hn) FROM h),(SELECT max(hn) FROM h))) AS hn) b
        |       LEFT JOIN h ON b.hn = h.hn),
        |f AS (SELECT hn, vc,
        |             last_value(CASE WHEN vc IS NOT NULL THEN hn END IGNORE NULLS) OVER w1 AS h0,
        |             last_value(vc IGNORE NULLS) OVER w1 AS v0,
        |             first_value(CASE WHEN vc IS NOT NULL THEN hn END IGNORE NULLS) OVER w2 AS h1,
        |             first_value(vc IGNORE NULLS) OVER w2 AS v1
        |      FROM sp
        |      WINDOW w1 AS (ORDER BY hn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             w2 AS (ORDER BY hn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT hn,
        |       cast(CASE WHEN vc IS NOT NULL THEN vc
        |                 WHEN h0 IS NULL THEN v1
        |                 WHEN h1 IS NULL THEN v0
        |                 ELSE v0 + ((v1 - v0) * (hn - h0)) // (h1 - h0) END AS BIGINT) AS vc_interp,
        |       CASE WHEN vc IS NULL THEN 1 ELSE 0 END AS interpolated
        |FROM f ORDER BY hn""".stripMargin),

    // AUC (Mann-Whitney rank form) — the model-eval primitive a
    // training-data engine grades classifiers/filters with. Binary task
    // derived from the embeddings table (positive = label < 5, score =
    // first embedding component); midranks handle score ties exactly
    // via DOUBLED ranks (mr2 = 2·rank + ties − 1), so AUC =
    // (Σmr2⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is all-integer until one final
    // integer division to basis points. One global rank window
    // (corpus-sized = dim-sized here; x100 tier at scale).
    q("x202_auc",
      """WITH s AS (SELECT vec_id, cast(element_at(embedding,1) AS DOUBLE) AS score,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |r AS (SELECT y, 2*rank() OVER (ORDER BY score) + count(*) OVER (PARTITION BY score) - 1 AS mr2 FROM s),
        |a AS (SELECT cast(sum(CASE WHEN y = 1 THEN mr2 ELSE 0 END) AS BIGINT) AS s2,
        |             cast(sum(y) AS BIGINT) AS np, cast(sum(1 - y) AS BIGINT) AS nn FROM r)
        |SELECT np AS positives, nn AS negatives,
        |       cast((10000 * (s2 - np * (np + 1))) div (2 * np * nn) AS BIGINT) AS auc_bp
        |FROM a""".stripMargin),

    // Calibration table — AUC's companion: score deciles vs actual
    // positive rate (reliability diagram data). Integer counts and
    // rates; ntile tie-broken by the unique vec_id.
    q("x203_calibration",
      """WITH s AS (SELECT vec_id, cast(element_at(embedding,1) AS DOUBLE) AS score,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |d AS (SELECT y, ntile(10) OVER (ORDER BY score, vec_id) AS bin FROM s)
        |SELECT bin, cast(count(*) AS BIGINT) AS n, cast(sum(y) AS BIGINT) AS positives,
        |       cast(floor(sum(y) * 10000.0 / count(*)) AS BIGINT) AS pos_rate_bp
        |FROM d GROUP BY bin ORDER BY bin""".stripMargin),

    // Confusion matrix + P/R/F1 at a fixed threshold (score ≥ 0) — the
    // third ML-eval primitive. F1 = 2TP/(2TP+FP+FN) stays in integers
    // to the final bp division. One conditional aggregate, one row.
    q("x204_confusion",
      """WITH s AS (SELECT CASE WHEN cast(element_at(embedding,1) AS DOUBLE) >= 0 THEN 1 ELSE 0 END AS pred,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |c AS (SELECT cast(sum(CASE WHEN pred=1 AND y=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |             cast(sum(CASE WHEN pred=1 AND y=0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |             cast(sum(CASE WHEN pred=0 AND y=1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |             cast(sum(CASE WHEN pred=0 AND y=0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |      FROM s)
        |SELECT tp, fp, fn, tn,
        |       cast((10000*tp) div (tp+fp) AS BIGINT) AS precision_bp,
        |       cast((10000*tp) div (tp+fn) AS BIGINT) AS recall_bp,
        |       cast((20000*tp) div (2*tp+fp+fn) AS BIGINT) AS f1_bp
        |FROM c""".stripMargin),

    // ==== round-8 tier: statistical tests / time series / business ========
    // ==== analytics / ML-eval extension / corpus laws (x205-x229) =========

    // Spearman rank correlation per group: rank both measures inside the
    // window partition (min-rank on ties — deterministic in both engines),
    // then Pearson corr of the integer ranks. One shuffle for the two
    // same-partition windows, one for the agg.
    q("x205_spearman",
      """WITH r AS (SELECT l_returnflag,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rq,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rp
        |  FROM lineitem)
        |SELECT l_returnflag, round(corr(rq, rp), 4) AS spearman_rho,
        |       cast(count(*) AS BIGINT) AS n
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Chi-square test of independence (event_type x day-of-week).
    // Engines label weekdays differently (Spark 1..7, DuckDB 0..6) but the
    // statistic is invariant to the cell labels, so each side uses its
    // native dayofweek; only the scalar chi2 and the cell count are output.
    // Contingency cells are a tiny grouped frame — everything after the
    // first agg is broadcast-sized.
    q("x206_chi_square",
      """WITH c AS (SELECT event_type AS et, dayofweek(ts) AS d, count(*) AS o
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT sum(o) AS n FROM c),
        |r AS (SELECT et, sum(o) AS rt FROM c GROUP BY 1),
        |k AS (SELECT d, sum(o) AS ct FROM c GROUP BY 1)
        |SELECT round(sum(pow(c.o - r.rt*k.ct*1.0/t.n, 2) / (r.rt*k.ct*1.0/t.n)), 4) AS chi2,
        |       cast(count(*) AS BIGINT) AS cells
        |FROM c, t, r, k WHERE c.et = r.et AND c.d = k.d""".stripMargin),

    // Two-sample Kolmogorov-Smirnov statistic via windowed ECDFs: one
    // global sort of the pooled sample, cumulative group counts, max gap.
    // Default RANGE frame includes value-ties identically in both engines.
    q("x207_ks_test",
      """WITH a AS (SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ga,
        |                  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS gb
        |           FROM events WHERE event_type IN ('click','error')),
        |n AS (SELECT sum(ga) AS na, sum(gb) AS nb FROM a),
        |c AS (SELECT sum(ga) OVER (ORDER BY value) AS ca,
        |             sum(gb) OVER (ORDER BY value) AS cb FROM a)
        |SELECT round(max(abs(cast(ca AS DOUBLE)/na - cast(cb AS DOUBLE)/nb)), 4) AS ks_stat,
        |       cast(min(na) AS BIGINT) AS n_click, cast(min(nb) AS BIGINT) AS n_error
        |FROM c, n""".stripMargin),

    // Mann-Whitney U (rank-sum) — exact integer statistic, no float
    // hazard: rank the pooled sample, sum ranks of one group.
    q("x208_mann_whitney",
      """WITH a AS (SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ga
        |           FROM events WHERE event_type IN ('click','error')),
        |r AS (SELECT ga, rank() OVER (ORDER BY value) AS rk FROM a)
        |SELECT cast(sum(CASE WHEN ga = 1 THEN rk ELSE 0 END) AS BIGINT) AS rank_sum_click,
        |       cast(sum(CASE WHEN ga = 1 THEN rk ELSE 0 END)
        |            - (sum(ga) * (sum(ga) + 1)) div 2 AS BIGINT) AS u_stat,
        |       cast(sum(ga) AS BIGINT) AS n_click,
        |       cast(sum(1 - ga) AS BIGINT) AS n_error
        |FROM r""".stripMargin),

    // Gini coefficient from the sorted-rank identity
    // G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n — one global sort (unique
    // o_orderkey tie-break), one agg.
    q("x209_gini",
      """WITH r AS (SELECT o_totalprice AS x,
        |                  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS i
        |           FROM orders),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM r)
        |SELECT round(2.0 * six / (n * sx) - (n + 1.0) / n, 4) AS gini,
        |       cast(n AS BIGINT) AS n FROM s""".stripMargin),

    // Welch's unequal-variance t statistic between two customer segments —
    // partial-aggregable moments only (avg/var/count), map-side combine.
    q("x210_welch_t",
      """WITH g AS (SELECT c_mktsegment AS s, avg(c_acctbal) AS m,
        |                  var_samp(c_acctbal) AS v, count(*) AS n
        |           FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')
        |           GROUP BY 1)
        |SELECT round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat,
        |       cast(a.n AS BIGINT) AS n_building, cast(b.n AS BIGINT) AS n_machinery
        |FROM g a, g b WHERE a.s = 'BUILDING' AND b.s = 'MACHINERY'""".stripMargin),

    // Cramer's V effect size (mktsegment x nationkey): chi-square over the
    // contingency cells normalized by n*min(r-1, c-1).
    q("x211_cramers_v",
      """WITH c AS (SELECT c_mktsegment AS seg, c_nationkey AS nk, count(*) AS o
        |           FROM customer GROUP BY 1, 2),
        |t AS (SELECT sum(o) AS n, count(DISTINCT seg) AS nr, count(DISTINCT nk) AS nc FROM c),
        |r AS (SELECT seg, sum(o) AS rt FROM c GROUP BY 1),
        |k AS (SELECT nk, sum(o) AS ct FROM c GROUP BY 1),
        |x AS (SELECT sum(pow(c.o - r.rt*k.ct*1.0/t.n, 2) / (r.rt*k.ct*1.0/t.n)) AS chi2,
        |             min(t.n) AS n, min(t.nr) AS nr, min(t.nc) AS nc
        |      FROM c, t, r, k WHERE c.seg = r.seg AND c.nk = k.nk)
        |SELECT round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 4) AS cramers_v,
        |       cast(n AS BIGINT) AS n FROM x""".stripMargin),

    // Jensen-Shannon divergence between two sources' token distributions
    // (drift metric bounded in [0, ln 2] — x190's unbounded-KL sibling).
    q("x212_js_divergence",
      """WITH tok AS (SELECT source, explode(split(text, ' ')) AS w
        |             FROM documents WHERE source IN ('src0','src1')),
        |c AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |tot AS (SELECT source, sum(c) AS t FROM c GROUP BY 1),
        |d AS (SELECT c.w,
        |        sum(CASE WHEN c.source='src0' THEN c.c*1.0/tot.t ELSE 0 END) AS p,
        |        sum(CASE WHEN c.source='src1' THEN c.c*1.0/tot.t ELSE 0 END) AS q
        |      FROM c JOIN tot ON c.source = tot.source GROUP BY 1)
        |SELECT round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(2.0*p/(p+q)) ELSE 0 END)
        |           + sum(CASE WHEN q > 0 THEN 0.5 * q * ln(2.0*q/(p+q)) ELSE 0 END), 4) AS js_div,
        |       cast(count(*) AS BIGINT) AS vocab
        |FROM d""".stripMargin),

    // Autocorrelation of the daily event-count series at lags 1-3 —
    // corr skips NULL lag pairs identically in both engines.
    q("x213_autocorr",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1),
        |l AS (SELECT c, lag(c, 1) OVER (ORDER BY day) AS c1,
        |             lag(c, 2) OVER (ORDER BY day) AS c2,
        |             lag(c, 3) OVER (ORDER BY day) AS c3 FROM d)
        |SELECT round(corr(c, c1), 4) AS acf1, round(corr(c, c2), 4) AS acf2,
        |       round(corr(c, c3), 4) AS acf3, cast(count(*) AS BIGINT) AS days
        |FROM l""".stripMargin),

    // CUSUM drift series: running sum of (daily mean - grand mean of the
    // daily means). The day frame is tiny after the first agg; the running
    // sum is a single-partition window over 30 rows.
    //
    // Integer-micro-unit discipline (r8 postmortem, the x265/x73 class):
    // the final cusum row is mathematically zero — Σ(m−gm) over all days —
    // and a float formulation leaves a ±1e-13 accumulation residue whose
    // SIGN depends on partial-agg order, rounding to -0.0000 vs 0.0000
    // between engines. So: quantize each day mean to an exact integer in
    // micro-units (deterministic: one round of one division of exact
    // integer sums), then n·cusum_k = n·Σ_{i≤k}mu_i − k·Σmu is EXACT
    // integer arithmetic — the last row is the integer 0, identically, in
    // both engines. The trailing `+ 0e0` normalizes any IEEE -0.0 from
    // rounding a tiny negative (−0.0 + 0.0 = +0.0). Overflow headroom:
    // per-day micro-sums stay < 2^63 below ~9e9 rows/day at value≈1e3.
    q("x214_cusum",
      """WITH d AS (SELECT cast(ts AS DATE) AS day,
        |                  sum(cast(round(value * 1000000) AS BIGINT)) AS su,
        |                  cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |m AS (SELECT day, cast(round(su * 1e0 / c) AS BIGINT) AS mu FROM d),
        |w AS (SELECT day, mu,
        |        cast(sum(mu) OVER (ORDER BY day) AS BIGINT) AS cum,
        |        cast(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
        |        cast(sum(mu) OVER () AS BIGINT) AS tot,
        |        cast(count(*) OVER () AS BIGINT) AS n
        |      FROM m)
        |SELECT day, round(mu / 1e6, 4) AS day_mean,
        |       round((n * cum - k * tot) * 1e0 / (n * 1000000), 4) + 0e0 AS cusum
        |FROM w ORDER BY day""".stripMargin),

    // Bollinger bands: 7-day trailing mean +/- 2 sigma over daily totals,
    // with a breakout flag. Band comparisons happen on raw doubles — both
    // engines see ~1e5-magnitude gaps, far from any rounding boundary.
    q("x215_bollinger",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, sum(value) AS v FROM events GROUP BY 1),
        |b AS (SELECT day, v,
        |        avg(v) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma,
        |        stddev_samp(v) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS sd,
        |        row_number() OVER (ORDER BY day) AS rn
        |      FROM d)
        |SELECT day, round(v, 4) AS v, round(ma, 4) AS ma,
        |       round(ma + 2*sd, 4) AS upper_band, round(ma - 2*sd, 4) AS lower_band,
        |       CASE WHEN v > ma + 2*sd THEN 1 WHEN v < ma - 2*sd THEN -1 ELSE 0 END AS breakout
        |FROM b WHERE rn >= 7 ORDER BY day""".stripMargin),

    // Per-type z-score anomaly top-20: broadcast the 5-row moment frame,
    // round |z| BEFORE ordering so the k-th boundary resolves identically
    // (the q43/topKRounded discipline).
    q("x216_zscore_anomaly",
      """WITH s AS (SELECT event_type AS et, avg(value) AS m, stddev_samp(value) AS sd
        |           FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, round((e.value - s.m) / s.sd, 4) AS z
        |FROM events e JOIN s ON e.event_type = s.et
        |ORDER BY round(abs((e.value - s.m) / s.sd), 4) DESC, e.event_id LIMIT 20""".stripMargin),

    // Day-of-week seasonal index (avg daily count per weekday / grand avg).
    // Weekday labels aligned to ISO-adjacent 1=Sunday..7: Spark dayofweek
    // is already 1-based, DuckDB's 0-based dayofweek gets +1.
    q("x217_seasonal_index",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c, dayofweek(day) AS dw FROM d)
        |SELECT dw AS day_of_week, round(avg(c) / (SELECT avg(c) FROM d), 4) AS seasonal_index,
        |       cast(count(*) AS BIGINT) AS n_days
        |FROM w GROUP BY dw ORDER BY dw""".stripMargin,
      """WITH d AS (SELECT cast(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c, dayofweek(day) + 1 AS dw FROM d)
        |SELECT dw AS day_of_week, round(avg(c) / (SELECT avg(c) FROM d), 4) AS seasonal_index,
        |       cast(count(*) AS BIGINT) AS n_days
        |FROM w GROUP BY dw ORDER BY dw""".stripMargin),

    // RFM segmentation: per-customer recency/frequency/monetary, quintiled
    // by three global ntiles (unique custkey tie-break), segment counts out.
    // The ntile input is one row per customer — the single-partition window
    // is over the aggregated frame, not the raw orders.
    q("x218_rfm",
      """WITH m AS (SELECT o_custkey AS c,
        |             datediff(DATE '2001-08-01', cast(max(o_orderdate) AS DATE)) AS rec,
        |             count(*) AS freq, sum(o_totalprice) AS mon
        |           FROM orders GROUP BY 1),
        |q AS (SELECT c, ntile(5) OVER (ORDER BY rec, c) AS r_q,
        |             ntile(5) OVER (ORDER BY freq DESC, c) AS f_q,
        |             ntile(5) OVER (ORDER BY mon DESC, c) AS m_q FROM m)
        |SELECT r_q, f_q, m_q, cast(count(*) AS BIGINT) AS customers
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      """WITH m AS (SELECT o_custkey AS c,
        |             date_diff('day', cast(max(o_orderdate) AS DATE), DATE '2001-08-01') AS rec,
        |             count(*) AS freq, sum(o_totalprice) AS mon
        |           FROM orders GROUP BY 1),
        |q AS (SELECT c, ntile(5) OVER (ORDER BY rec, c) AS r_q,
        |             ntile(5) OVER (ORDER BY freq DESC, c) AS f_q,
        |             ntile(5) OVER (ORDER BY mon DESC, c) AS m_q FROM m)
        |SELECT r_q, f_q, m_q, cast(count(*) AS BIGINT) AS customers
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // 7-day rolling MEDIAN via a bounded date-range self-join (exact 7x
    // expansion of a 30-row frame; median-as-window is not portable across
    // the two dialects, the range join is).
    q("x219_rolling_median",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, sum(value) AS v FROM events GROUP BY 1)
        |SELECT a.day, round(median(b.v), 4) AS med7, cast(count(*) AS BIGINT) AS win_days
        |FROM d a JOIN d b ON b.day BETWEEN a.day - 6 AND a.day
        |GROUP BY a.day HAVING count(*) = 7 ORDER BY a.day""".stripMargin),

    // 5% trimmed and winsorized means per order status: percent_rank is an
    // exact rational of integer ranks, so the trim boundaries are
    // engine-stable; winsorizing clamps to the observed p05/p95 values.
    q("x220_trimmed_mean",
      """WITH b AS (SELECT o_orderstatus AS st, o_totalprice AS x,
        |             percent_rank() OVER (PARTITION BY o_orderstatus
        |                                  ORDER BY o_totalprice, o_orderkey) AS pr
        |           FROM orders),
        |lim AS (SELECT st, max(CASE WHEN pr <= 0.05 THEN x END) AS lo,
        |               min(CASE WHEN pr >= 0.95 THEN x END) AS hi
        |        FROM b GROUP BY 1)
        |SELECT b.st AS status, round(avg(x), 4) AS mean,
        |       round(avg(CASE WHEN pr >= 0.05 AND pr <= 0.95 THEN x END), 4) AS trimmed_mean,
        |       round(avg(least(greatest(x, lim.lo), lim.hi)), 4) AS winsorized_mean,
        |       cast(count(*) AS BIGINT) AS n
        |FROM b JOIN lim ON b.st = lim.st GROUP BY 1 ORDER BY 1""".stripMargin),

    // Haversine path length per user over synthetic exact-rational
    // coordinates derived from the integer event_id (identical doubles in
    // both engines); great-circle legs between consecutive events, top-20
    // total paths. Trig ulp drift is absorbed by the 2dp rounding of a km
    // sum ~5e4.
    q("x221_haversine",
      """WITH p AS (SELECT user_id, ts, event_id,
        |             (event_id % 18000) / 100.0 - 90.0 AS lat,
        |             ((event_id * 7) % 36000) / 100.0 - 180.0 AS lon
        |           FROM events),
        |s AS (SELECT user_id, lat, lon,
        |        lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
        |        lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon
        |      FROM p),
        |d AS (SELECT user_id,
        |        12742.0 * asin(sqrt(
        |          pow(sin(radians(lat - plat) / 2), 2) +
        |          cos(radians(plat)) * cos(radians(lat)) *
        |          pow(sin(radians(lon - plon) / 2), 2))) AS km
        |      FROM s WHERE plat IS NOT NULL)
        |SELECT user_id, round(sum(km), 2) AS path_km, cast(count(*) AS BIGINT) AS legs
        |FROM d GROUP BY 1 ORDER BY path_km DESC, user_id LIMIT 20""".stripMargin),

    // Kaplan-Meier survival of time-to-first-error per user (censored at
    // the last observed event). The product-limit estimator runs as
    // exp(cumsum(ln ...)) over the per-duration death table; the
    // deaths==at_risk tail (ln 0) is handled by an explicit zero flag
    // because Spark's ln(0) is NULL while DuckDB's is -inf.
    q("x222_survival_km",
      """WITH u AS (SELECT user_id, cast(min(ts) AS DATE) AS fd, cast(max(ts) AS DATE) AS ld,
        |             cast(min(CASE WHEN event_type = 'error' THEN ts END) AS DATE) AS ed
        |           FROM events GROUP BY 1),
        |l AS (SELECT CASE WHEN ed IS NOT NULL THEN datediff(ed, fd)
        |                  ELSE datediff(ld, fd) END AS dur,
        |             CASE WHEN ed IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u),
        |d AS (SELECT dur, sum(ev) AS deaths, count(*) AS obs FROM l GROUP BY 1),
        |a AS (SELECT dur, deaths,
        |             sum(obs) OVER (ORDER BY dur DESC) AS at_risk FROM d),
        |s AS (SELECT dur, deaths, at_risk,
        |        min(CASE WHEN deaths >= at_risk THEN 0 ELSE 1 END) OVER (ORDER BY dur) AS alive,
        |        exp(sum(ln(CASE WHEN deaths >= at_risk THEN 1.0
        |                        ELSE (at_risk - deaths) * 1.0 / at_risk END))
        |            OVER (ORDER BY dur)) AS s0
        |      FROM a WHERE deaths > 0)
        |SELECT dur AS duration_days, cast(deaths AS BIGINT) AS deaths,
        |       cast(at_risk AS BIGINT) AS at_risk, round(s0 * alive, 4) AS survival
        |FROM s ORDER BY duration_days""".stripMargin,
      """WITH u AS (SELECT user_id, cast(min(ts) AS DATE) AS fd, cast(max(ts) AS DATE) AS ld,
        |             cast(min(CASE WHEN event_type = 'error' THEN ts END) AS DATE) AS ed
        |           FROM events GROUP BY 1),
        |l AS (SELECT CASE WHEN ed IS NOT NULL THEN date_diff('day', fd, ed)
        |                  ELSE date_diff('day', fd, ld) END AS dur,
        |             CASE WHEN ed IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u),
        |d AS (SELECT dur, sum(ev) AS deaths, count(*) AS obs FROM l GROUP BY 1),
        |a AS (SELECT dur, deaths,
        |             sum(obs) OVER (ORDER BY dur DESC) AS at_risk FROM d),
        |s AS (SELECT dur, deaths, at_risk,
        |        min(CASE WHEN deaths >= at_risk THEN 0 ELSE 1 END) OVER (ORDER BY dur) AS alive,
        |        exp(sum(ln(CASE WHEN deaths >= at_risk THEN 1.0
        |                        ELSE (at_risk - deaths) * 1.0 / at_risk END))
        |            OVER (ORDER BY dur)) AS s0
        |      FROM a WHERE deaths > 0)
        |SELECT dur AS duration_days, cast(deaths AS BIGINT) AS deaths,
        |       cast(at_risk AS BIGINT) AS at_risk, round(s0 * alive, 4) AS survival
        |FROM s ORDER BY duration_days""".stripMargin),

    // Logistic log-loss of the embedding[0]-as-score classifier — sigmoid
    // stays strictly inside (0,1) for finite scores, so ln never sees 0.
    q("x223_log_loss",
      """WITH s AS (SELECT 1.0 / (1.0 + exp(-cast(element_at(embedding, 1) AS DOUBLE))) AS p,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings)
        |SELECT round(-avg(y * ln(p) + (1 - y) * ln(1.0 - p)), 4) AS log_loss,
        |       cast(count(*) AS BIGINT) AS n FROM s""".stripMargin),

    // Cumulative gains / lift table by score decile — all-integer outputs
    // (basis points via integer division), ntile tie-broken by vec_id.
    q("x224_gains_table",
      """WITH s AS (SELECT vec_id, cast(element_at(embedding, 1) AS DOUBLE) AS score,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |d AS (SELECT y, ntile(10) OVER (ORDER BY score DESC, vec_id) AS decile FROM s),
        |g AS (SELECT decile, count(*) AS n, sum(y) AS pos FROM d GROUP BY 1),
        |c AS (SELECT decile, n, pos,
        |        sum(pos) OVER (ORDER BY decile) AS cum_pos,
        |        sum(n) OVER (ORDER BY decile) AS cum_n FROM g),
        |t AS (SELECT sum(y) AS tot_pos, count(*) AS tot_n FROM s)
        |SELECT decile, cast(n AS BIGINT) AS n, cast(pos AS BIGINT) AS positives,
        |       cast((10000 * cum_pos) div tot_pos AS BIGINT) AS cum_capture_bp,
        |       cast((10000 * cum_pos * tot_n) div (cum_n * tot_pos) AS BIGINT) AS lift_bp
        |FROM c, t ORDER BY decile""".stripMargin),

    // Cohen's kappa + Matthews correlation from the x204-twin confusion
    // counts — exact integer numerators, one 4dp-rounded division each.
    q("x225_kappa_mcc",
      """WITH s AS (SELECT CASE WHEN cast(element_at(embedding, 1) AS DOUBLE) >= 0 THEN 1 ELSE 0 END AS pred,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |c AS (SELECT cast(sum(CASE WHEN pred=1 AND y=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |             cast(sum(CASE WHEN pred=1 AND y=0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |             cast(sum(CASE WHEN pred=0 AND y=1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |             cast(sum(CASE WHEN pred=0 AND y=0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |      FROM s),
        |k AS (SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n,
        |             (tp + tn) * 1.0 / (tp + fp + fn + tn) AS po,
        |             ((tp + fp) * 1.0 * (tp + fn) + (fn + tn) * 1.0 * (fp + tn))
        |               / pow(tp + fp + fn + tn, 2) AS pe
        |      FROM c)
        |SELECT round((po - pe) / (1.0 - pe), 4) AS cohens_kappa,
        |       round((tp * tn - fp * fn) /
        |             sqrt((tp + fp) * 1.0 * (tp + fn) * (tn + fp) * (tn + fn)), 4) AS mcc,
        |       cast(n AS BIGINT) AS n
        |FROM k""".stripMargin),

    // NDCG@10 per label group: relevance from the deterministic vec_id
    // residue, ranked by score with a unique tie-break; the ideal ordering
    // ranks relevant items first by the same tie-break.
    q("x226_ndcg",
      """WITH s AS (SELECT label, vec_id, cast(element_at(embedding, 1) AS DOUBLE) AS score,
        |                  CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END AS rel FROM embeddings),
        |r AS (SELECT label, rel,
        |        row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS pos FROM s),
        |i AS (SELECT label, rel,
        |        row_number() OVER (PARTITION BY label ORDER BY rel DESC, vec_id) AS ipos FROM s),
        |d AS (SELECT label, sum(CASE WHEN pos <= 10 THEN rel / log2(pos + 1.0) ELSE 0 END) AS dcg
        |      FROM r GROUP BY 1),
        |j AS (SELECT label, sum(CASE WHEN ipos <= 10 THEN rel / log2(ipos + 1.0) ELSE 0 END) AS idcg
        |      FROM i GROUP BY 1)
        |SELECT d.label, round(d.dcg, 4) AS dcg10,
        |       round(d.dcg / nullif(j.idcg, 0), 4) AS ndcg10
        |FROM d JOIN j ON d.label = j.label ORDER BY d.label""".stripMargin),

    // Zipf rank-frequency slope: OLS in log-log space via regr_slope over
    // the word-frequency table (wordcount -> rank -> regression).
    q("x227_zipf_slope",
      """WITH f AS (SELECT w, count(*) AS cnt
        |           FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
        |           GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM f)
        |SELECT round(regr_slope(ln(cnt * 1.0), ln(rk * 1.0)), 4) AS zipf_slope,
        |       round(regr_r2(ln(cnt * 1.0), ln(rk * 1.0)), 4) AS r2,
        |       cast(count(*) AS BIGINT) AS vocab
        |FROM r""".stripMargin),

    // Customer-acquisition growth curve: first-order month per customer,
    // monthly new + cumulative counts (51 months of TPC-H order dates).
    q("x228_growth_curve",
      """WITH f AS (SELECT o_custkey, min(cast(o_orderdate AS DATE)) AS fd FROM orders GROUP BY 1),
        |m AS (SELECT cast(date_trunc('month', fd) AS DATE) AS month, count(*) AS new_customers FROM f GROUP BY 1)
        |SELECT month, cast(new_customers AS BIGINT) AS new_customers,
        |       cast(sum(new_customers) OVER (ORDER BY month) AS BIGINT) AS cum_customers
        |FROM m ORDER BY month""".stripMargin),

    // BFS shortest hops over the x136 nation-trade graph, sparsified to
    // edges with >= 120 order-lines so the frontier has real depth at the
    // contract SF. Both engines run the same WITH RECURSIVE frontier
    // expansion, depth-bounded, then min(level) per node. The recursive
    // member is DISTINCT — without it each level multiplies by the mean
    // out-degree (exponential rows; Spark's recursion row limit trips on
    // the dense sf0.1 graph); with it every level is bounded by |V|, the
    // same per-iteration shuffle-dedup a distributed BFS runs at scale.
    q("x229_bfs_hops",
      """WITH RECURSIVE e AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |       JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 120),
        |t(node, lvl) AS (
        |  SELECT cast(0 AS INT) AS node, 0 AS lvl
        |  UNION ALL
        |  SELECT DISTINCT e.dst AS node, t.lvl + 1 AS lvl
        |  FROM t JOIN e ON e.src = t.node WHERE t.lvl < 5)
        |SELECT node, cast(min(lvl) AS BIGINT) AS hops FROM t GROUP BY node ORDER BY node""".stripMargin),

    // ==== spatial / text-index / governance tier (x230-x240) ===============

    // DBSCAN-style density classification via a GRID-BUCKETED radius
    // self-join — the executable form of the x200 rule ("a range band in
    // a join predicate is not a join key — bucket the band explicitly")
    // in two dimensions. Points live on an integer plane (coords derived
    // from event_id, so both engines see identical geometry, no float
    // distance); a point is `core` when >= 3 neighbors sit within
    // distance 25. Spark dialect: cell = coord div 25, probe side
    // replicated to its 3x3 cell neighborhood, equi-join on (cx, cy) —
    // a qualifying pair differs by <= 25 per axis, hence <= 1 cell, so
    // every pair lands in exactly one (probe-cell = build-cell) match.
    // Candidates are O(n · density), never O(n²). The DuckDB oracle runs
    // the plain quadratic join — same rows, different shape, the
    // declarative-for-the-oracle / bucketed-for-execution split of x200.
    q("x230_grid_radius_join",
      """WITH p AS (SELECT event_id AS id, event_id % 1000 AS x, (event_id*7) % 1000 AS y
        |           FROM events WHERE event_id % 5 = 0),
        |b AS (SELECT id, x, y, x div 25 AS cx, y div 25 AS cy FROM p),
        |pr AS (SELECT b.id, b.x, b.y, b.cx + d1.dx AS cx, b.cy + d2.dy AS cy
        |       FROM b
        |       CROSS JOIN (SELECT explode(array(-1,0,1)) AS dx) d1
        |       CROSS JOIN (SELECT explode(array(-1,0,1)) AS dy) d2),
        |n AS (SELECT a.id, count(*) AS nbrs
        |      FROM pr a JOIN b c ON a.cx = c.cx AND a.cy = c.cy AND a.id <> c.id
        |      WHERE (a.x-c.x)*(a.x-c.x) + (a.y-c.y)*(a.y-c.y) <= 625
        |      GROUP BY a.id)
        |SELECT b.id AS event_id, cast(coalesce(n.nbrs, 0) AS BIGINT) AS nbrs,
        |       CASE WHEN coalesce(n.nbrs, 0) >= 3 THEN 1 ELSE 0 END AS core
        |FROM b LEFT JOIN n ON b.id = n.id
        |ORDER BY nbrs DESC, event_id LIMIT 100""".stripMargin,
      """WITH p AS (SELECT event_id AS id, event_id % 1000 AS x, (event_id*7) % 1000 AS y
        |           FROM events WHERE event_id % 5 = 0)
        |SELECT a.id AS event_id, cast(count(b.id) AS BIGINT) AS nbrs,
        |       CASE WHEN count(b.id) >= 3 THEN 1 ELSE 0 END AS core
        |FROM p a LEFT JOIN p b ON a.id <> b.id
        |  AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 625
        |GROUP BY a.id ORDER BY nbrs DESC, event_id LIMIT 100""".stripMargin),

    // Inverted-index construction — term -> (df, first-10 posting list).
    // The retrieval-side primitive behind x113/x114 (TF-IDF / BM25): the
    // posting lists here are the actual index a search engine would
    // serve. Postings shuffle as (term, doc_id) pairs — text never
    // shuffles — and the per-term list is truncated to 10 entries in the
    // agg, so no driver-side or unbounded state. array_sort(collect_list)
    // (vs DuckDB's ordered list()) keeps the list deterministic.
    q("x231_inverted_index",
      """WITH w AS (SELECT doc_id, explode(split(lower(text), '[^a-z]+')) AS term FROM documents),
        |t AS (SELECT term, doc_id FROM w WHERE term <> '' AND length(term) >= 3 GROUP BY term, doc_id),
        |p AS (SELECT term, cast(count(*) AS BIGINT) AS df,
        |             array_join(slice(array_sort(collect_list(doc_id)), 1, 10), ',') AS postings
        |      FROM t GROUP BY term)
        |SELECT term, df, postings FROM p ORDER BY df DESC, term LIMIT 100""".stripMargin,
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term FROM documents),
        |t AS (SELECT term, doc_id FROM w WHERE term <> '' AND length(term) >= 3 GROUP BY term, doc_id),
        |p AS (SELECT term, cast(count(*) AS BIGINT) AS df,
        |             array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 10), ',') AS postings
        |      FROM t GROUP BY term)
        |SELECT term, df, postings FROM p ORDER BY df DESC, term LIMIT 100""".stripMargin),

    // Bigram language-model surprise scoring — train P(w2|w1) on the
    // corpus itself, then rank docs by mean transition probability (ppm,
    // integer fixed point so no log/float ulp): the lowest-scoring docs
    // are the statistically unusual ones, the corpus-level complement of
    // x135's per-doc perplexity proxy. Model table cb/cu is vocab²-sized
    // (broadcastable); the per-doc score is two hash joins on word keys
    // plus one agg — linear in corpus tokens.
    q("x232_bigram_lm",
      """WITH t AS (SELECT doc_id, split(lower(text),' ') AS a FROM documents),
        |bg AS (SELECT doc_id, element_at(a,i) AS w1, element_at(a,i+1) AS w2
        |       FROM (SELECT doc_id, a, explode(sequence(1, size(a)-1)) AS i FROM t WHERE size(a) >= 2)
        |       WHERE element_at(a,i) <> '' AND element_at(a,i+1) <> ''),
        |cb AS (SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY 1,2),
        |cu AS (SELECT w1, sum(cxy) AS cx FROM cb GROUP BY 1),
        |sc AS (SELECT bg.doc_id,
        |              cast(sum((cb.cxy * 1000000) div cu.cx) div count(*) AS BIGINT) AS avg_ppm,
        |              cast(count(*) AS BIGINT) AS n_bigrams
        |       FROM bg JOIN cb ON bg.w1=cb.w1 AND bg.w2=cb.w2 JOIN cu ON bg.w1=cu.w1
        |       GROUP BY bg.doc_id)
        |SELECT doc_id, avg_ppm, n_bigrams FROM sc ORDER BY avg_ppm ASC, doc_id LIMIT 20""".stripMargin),

    // Flesch-style readability in integer milli-points: 206.835 −
    // 1.015·(words/sentences) − 84.6·(syllables/words), all three counts
    // from regexes (syllable ~ vowel-cluster heuristic), fixed-point so
    // both engines rank identically. Per-row expression work only — no
    // shuffle beyond the final top-k. Dialect delta: Spark regexp_count
    // vs DuckDB len(regexp_extract_all).
    q("x233_readability",
      """WITH m AS (SELECT doc_id,
        |             greatest(1, regexp_count(lower(text), '[a-z]+')) AS words,
        |             greatest(1, regexp_count(text, '[.!?]+')) AS sentences,
        |             regexp_count(lower(text), '[aeiouy]+') AS syllables
        |           FROM documents)
        |SELECT doc_id, cast(words AS BIGINT) AS words, cast(sentences AS BIGINT) AS sentences,
        |       cast(syllables AS BIGINT) AS syllables,
        |       cast(206835 - (1015 * words) div sentences - (84600 * syllables) div words AS BIGINT) AS flesch_milli
        |FROM m ORDER BY flesch_milli ASC, doc_id LIMIT 25""".stripMargin,
      """WITH m AS (SELECT doc_id,
        |             greatest(1, len(regexp_extract_all(lower(text), '[a-z]+'))) AS words,
        |             greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS sentences,
        |             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
        |           FROM documents)
        |SELECT doc_id, cast(words AS BIGINT) AS words, cast(sentences AS BIGINT) AS sentences,
        |       cast(syllables AS BIGINT) AS syllables,
        |       cast(206835 - (1015 * words) // sentences - (84600 * syllables) // words AS BIGINT) AS flesch_milli
        |FROM m ORDER BY flesch_milli ASC, doc_id LIMIT 25""".stripMargin),

    // l-diversity audit — the companion to x186's k-anonymity: within
    // each quasi-identifier group (nation × coarse balance band) count
    // DISTINCT sensitive values (mktsegment); a group with l < 3 is
    // attribute-disclosure-risky even when k is large. floor() before
    // the BIGINT cast because DuckDB's double->int cast rounds while
    // Spark's truncates; +1000 keeps the band index nonnegative so
    // div/// agree (both floor only on nonnegative operands).
    q("x234_l_diversity",
      """WITH q AS (SELECT c_nationkey AS nk,
        |             (cast(floor(c_acctbal) AS BIGINT) + 1000) div 2000 AS band,
        |             c_mktsegment AS seg FROM customer),
        |g AS (SELECT nk, band, cast(count(*) AS BIGINT) AS n,
        |             cast(count(DISTINCT seg) AS BIGINT) AS l FROM q GROUP BY nk, band)
        |SELECT nk, cast(band AS BIGINT) AS band, n, l,
        |       CASE WHEN l < 3 THEN 1 ELSE 0 END AS risky,
        |       cast(min(l) OVER () AS BIGINT) AS l_diversity
        |FROM g ORDER BY nk, band""".stripMargin),

    // Sequence mining: most frequent event-type TRIGRAMS per user
    // timeline (x187's Markov transitions extended one step). Two lead()
    // windows per user partition — scales horizontally; the trigram
    // census is |types|³-bounded.
    q("x235_event_trigrams",
      """WITH s AS (SELECT user_id, event_type AS e1,
        |              lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |              lead(event_type,2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |           FROM events)
        |SELECT concat(e1,'>',e2,'>',e3) AS trigram, cast(count(*) AS BIGINT) AS n
        |FROM s WHERE e3 IS NOT NULL GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20""".stripMargin),

    // SAX-style symbolic discretization: each user's values quantized to
    // per-user quartile symbols (ntile(4) with a unique tie-break — both
    // engines assign identically), then 3-symbol motifs counted over the
    // TIME-ordered sequence. The time-series motif-mining primitive
    // (Lin et al. SAX) with the alphabet via rank, not float breakpoints.
    q("x236_sax_motifs",
      """WITH r AS (SELECT user_id, event_id, ts,
        |              ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS qb
        |           FROM events WHERE value IS NOT NULL),
        |s AS (SELECT user_id, qb AS q1,
        |             lead(qb) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS q2,
        |             lead(qb,2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS q3
        |      FROM r)
        |SELECT concat(cast(q1 AS STRING), cast(q2 AS STRING), cast(q3 AS STRING)) AS motif,
        |       cast(count(*) AS BIGINT) AS n
        |FROM s WHERE q3 IS NOT NULL GROUP BY 1 ORDER BY n DESC, motif LIMIT 16""".stripMargin),

    // Diversity indices per nation over the mktsegment mix: Shannon
    // entropy (nats) + Simpson index. Single-value ln() per cell —
    // no accumulation before the round(4), same hazard class as the
    // passing x222 exp/ln survival curve. Counts shuffle; text doesn't.
    q("x237_entropy_diversity",
      """WITH c AS (SELECT c_nationkey AS nk, c_mktsegment AS seg, count(*) AS n FROM customer GROUP BY 1,2),
        |t AS (SELECT nk, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.nk, round(-sum((n*1e0/tot) * ln(n*1e0/tot)), 4) AS shannon,
        |       round(1e0 - sum(n*n)*1e0/(tot*tot), 4) AS simpson,
        |       cast(count(*) AS BIGINT) AS n_segments
        |FROM c JOIN t ON c.nk = t.nk GROUP BY c.nk, t.tot ORDER BY c.nk""".stripMargin),

    // Lorenz curve by balance decile (the curve under x209's Gini;
    // distinct from x189's per-decile revenue shares and x153's
    // per-customer Pareto bands — this is the CUMULATIVE curve over the
    // balance measure): global ntile(10) with unique tie-break,
    // cumulative share of total. Contract-scale single-partition
    // window; the at-scale form is the x100 two-pass global-window
    // tier.
    q("x238_lorenz",
      """WITH d AS (SELECT ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile, c_acctbal FROM customer),
        |g AS (SELECT decile, sum(c_acctbal) AS bal, count(*) AS n FROM d GROUP BY 1)
        |SELECT decile, cast(n AS BIGINT) AS n, round(bal, 2) AS decile_bal,
        |       round(sum(bal) OVER (ORDER BY decile) / sum(bal) OVER () * 100, 2) AS cum_share_pct
        |FROM g ORDER BY decile""".stripMargin),

    // Survivorship (golden-record) merge — the MDM rule set applied per
    // duplicate group (nation × segment as the match block): survivor =
    // highest balance (earliest key breaks ties), plus merged-attribute
    // outputs (earliest key, mean balance, group size). One window + one
    // agg, both keyed on the block — no pair join.
    q("x239_survivorship",
      """WITH r AS (SELECT c_custkey, c_nationkey AS nk, c_mktsegment AS seg, c_acctbal,
        |              row_number() OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk
        |           FROM customer)
        |SELECT nk, seg, cast(max(CASE WHEN rk=1 THEN c_custkey END) AS BIGINT) AS survivor_key,
        |       round(max(CASE WHEN rk=1 THEN c_acctbal END), 2) AS survivor_bal,
        |       cast(count(*) AS BIGINT) AS merged,
        |       cast(min(c_custkey) AS BIGINT) AS earliest_key,
        |       round(avg(c_acctbal), 4) AS avg_bal
        |FROM r GROUP BY nk, seg ORDER BY nk, seg""".stripMargin),

    // Label propagation communities over the nation trade graph, 3
    // synchronous rounds unrolled (x136-PageRank discipline): each node
    // adopts the most frequent neighbor label, smallest label breaking
    // ties — communities, which ConnectedComponents (x111's pure
    // connectivity) cannot see on a connected graph. The edge filter is
    // RELATIVE (weight >= 1.25x the mean pair weight), so the graph
    // sparsifies identically at every SF; at sf0.01 it yields 2
    // communities over 25 nations. Per round: one label-keyed join +
    // count + per-node argmax — each iteration is |E| shuffled rows,
    // the distributed-LPA shape.
    q("x240_label_prop3",
      """WITH p AS (
        |  SELECT c.c_nationkey AS a, s.s_nationkey AS b, count(*) AS w
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |       JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |t AS (SELECT avg(w) AS aw FROM p),
        |e0 AS (SELECT a, b FROM p CROSS JOIN t WHERE w >= 1.25 * aw),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |n AS (SELECT DISTINCT a AS node FROM e),
        |l0 AS (SELECT node, node AS lbl FROM n),
        |s1 AS (SELECT e.a AS node, l0.lbl, count(*) AS cnt FROM e JOIN l0 ON l0.node = e.b GROUP BY 1, 2),
        |l1 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rk FROM s1) q WHERE rk = 1),
        |s2 AS (SELECT e.a AS node, l1.lbl, count(*) AS cnt FROM e JOIN l1 ON l1.node = e.b GROUP BY 1, 2),
        |l2 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rk FROM s2) q WHERE rk = 1),
        |s3 AS (SELECT e.a AS node, l2.lbl, count(*) AS cnt FROM e JOIN l2 ON l2.node = e.b GROUP BY 1, 2),
        |l3 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rk FROM s3) q WHERE rk = 1)
        |SELECT cast(node AS BIGINT) AS node, cast(lbl AS BIGINT) AS community FROM l3 ORDER BY node""".stripMargin),

    // Jaro-Winkler fuzzy ranking vs an anchor — the record-linkage score
    // (Winkler 1990) as a native codegen'd Expression
    // (functions/JaroWinkler.scala; Spark has no jaro family built in),
    // scored in basis points so the cross-engine gate is integer. Both
    // engines run the same algorithm (match window, 0.7 boost threshold,
    // 4-char prefix cap, weight 0.1 — the DuckDB/RapidFuzz variant).
    // Linear scan + TakeOrderedAndProject; the banded-join form for
    // pairwise fuzzy matching is x200's block-bucket pattern.
    q("x241_jaro_winkler",
      """SELECT p_partkey,
        |       cast(round(jaro_winkler(p_name, 'goldenrod lavender spring chiffon') * 10000) AS BIGINT) AS jw_bp
        |FROM part ORDER BY jw_bp DESC, p_partkey LIMIT 25""".stripMargin,
      """SELECT p_partkey,
        |       cast(round(jaro_winkler_similarity(p_name, 'goldenrod lavender spring chiffon') * 10000) AS BIGINT) AS jw_bp
        |FROM part ORDER BY jw_bp DESC, p_partkey LIMIT 25""".stripMargin),

    // Greedy maximum-coverage corpus selection, 3 picks unrolled (the
    // x148-BPE discipline: the iterative operator x244 shares this
    // oracle verbatim). Universe = distinct word bigrams per doc (916
    // elements at sf0.01 — rich enough that no single doc covers it);
    // each pick maximizes NEW-bigram count, ties to the smaller doc_id.
    // This is the data-curation primitive behind "select the k docs
    // that teach the model the most new constructions". Per-round cost:
    // one anti-join (term-keyed) + one agg + a 1-row argmax.
    q("x243_setcover3",
      """WITH t AS (SELECT doc_id, split(lower(text),' ') AS a FROM documents),
        |w AS (SELECT DISTINCT doc_id, term FROM (
        |        SELECT doc_id, concat(element_at(a,i), ' ', element_at(a,i+1)) AS term
        |        FROM (SELECT doc_id, a, explode(sequence(1, size(a)-1)) AS i FROM t WHERE size(a) >= 2)
        |        WHERE element_at(a,i) <> '' AND element_at(a,i+1) <> '')),
        |n1 AS (SELECT doc_id, count(*) AS c FROM w GROUP BY 1),
        |p1 AS (SELECT doc_id, c FROM n1 ORDER BY c DESC, doc_id LIMIT 1),
        |c1 AS (SELECT DISTINCT w.term FROM w JOIN p1 ON w.doc_id = p1.doc_id),
        |n2 AS (SELECT w.doc_id, count(*) AS c FROM w
        |       WHERE NOT EXISTS (SELECT 1 FROM c1 WHERE c1.term = w.term)
        |         AND w.doc_id NOT IN (SELECT doc_id FROM p1)
        |       GROUP BY w.doc_id),
        |p2 AS (SELECT doc_id, c FROM n2 ORDER BY c DESC, doc_id LIMIT 1),
        |c2 AS (SELECT term FROM c1 UNION SELECT w.term FROM w JOIN p2 ON w.doc_id = p2.doc_id),
        |n3 AS (SELECT w.doc_id, count(*) AS c FROM w
        |       WHERE NOT EXISTS (SELECT 1 FROM c2 WHERE c2.term = w.term)
        |         AND w.doc_id NOT IN (SELECT doc_id FROM p1 UNION ALL SELECT doc_id FROM p2)
        |       GROUP BY w.doc_id),
        |p3 AS (SELECT doc_id, c FROM n3 ORDER BY c DESC, doc_id LIMIT 1)
        |SELECT * FROM (
        |  SELECT cast(1 AS BIGINT) AS pick, doc_id, cast(c AS BIGINT) AS new_terms FROM p1
        |  UNION ALL SELECT cast(2 AS BIGINT), doc_id, cast(c AS BIGINT) FROM p2
        |  UNION ALL SELECT cast(3 AS BIGINT), doc_id, cast(c AS BIGINT) FROM p3)
        |ORDER BY pick""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS a FROM documents),
        |w AS (SELECT DISTINCT doc_id, term FROM (
        |        SELECT doc_id, a[i] || ' ' || a[i+1] AS term
        |        FROM (SELECT doc_id, a, unnest(generate_series(1, len(a)-1)) AS i FROM t WHERE len(a) >= 2)
        |        WHERE a[i] <> '' AND a[i+1] <> '')),
        |n1 AS (SELECT doc_id, count(*) AS c FROM w GROUP BY 1),
        |p1 AS (SELECT doc_id, c FROM n1 ORDER BY c DESC, doc_id LIMIT 1),
        |c1 AS (SELECT DISTINCT w.term FROM w JOIN p1 ON w.doc_id = p1.doc_id),
        |n2 AS (SELECT w.doc_id, count(*) AS c FROM w
        |       WHERE NOT EXISTS (SELECT 1 FROM c1 WHERE c1.term = w.term)
        |         AND w.doc_id NOT IN (SELECT doc_id FROM p1)
        |       GROUP BY w.doc_id),
        |p2 AS (SELECT doc_id, c FROM n2 ORDER BY c DESC, doc_id LIMIT 1),
        |c2 AS (SELECT term FROM c1 UNION SELECT w.term FROM w JOIN p2 ON w.doc_id = p2.doc_id),
        |n3 AS (SELECT w.doc_id, count(*) AS c FROM w
        |       WHERE NOT EXISTS (SELECT 1 FROM c2 WHERE c2.term = w.term)
        |         AND w.doc_id NOT IN (SELECT doc_id FROM p1 UNION ALL SELECT doc_id FROM p2)
        |       GROUP BY w.doc_id),
        |p3 AS (SELECT doc_id, c FROM n3 ORDER BY c DESC, doc_id LIMIT 1)
        |SELECT * FROM (
        |  SELECT cast(1 AS BIGINT) AS pick, doc_id, cast(c AS BIGINT) AS new_terms FROM p1
        |  UNION ALL SELECT cast(2 AS BIGINT), doc_id, cast(c AS BIGINT) FROM p2
        |  UNION ALL SELECT cast(3 AS BIGINT), doc_id, cast(c AS BIGINT) FROM p3)
        |ORDER BY pick""".stripMargin),

    // Theil T inequality index of customer revenue, DECOMPOSED within/
    // between nations — the property x209's Gini and x238's Lorenz curve
    // lack: Theil splits additively into a within-group and a
    // between-group component (income-share-weighted), answering "is
    // revenue inequality driven by spread inside nations or gaps across
    // them". Positive integer-cent revenues keep ln() in domain; the
    // ln-sum rounds at 4dp (x237's passing hazard class). Float outputs
    // use DOUBLE literals throughout (`1e0`, not `1.0` — Spark types
    // BIGINT*1.0 as DECIMAL(28,6) while DuckDB yields DOUBLE; the r8
    // hash-red class), and each signed output gets `+ 0e0` so a tiny
    // negative rounding to -0.0000 normalizes to +0.0 in both engines.
    q("x246_theil_decomp",
      """WITH r AS (SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
        |              sum(cast(round(o_totalprice*100) AS BIGINT)) AS cents
        |           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1, 2),
        |m AS (SELECT nk, avg(cents*1e0) AS mug, count(*) AS ng FROM r GROUP BY 1),
        |o AS (SELECT avg(cents*1e0) AS mu, count(*) AS n FROM r),
        |tg AS (SELECT r.nk, avg((r.cents/m.mug) * ln(r.cents/m.mug)) AS theil_g
        |       FROM r JOIN m ON r.nk = m.nk GROUP BY r.nk)
        |SELECT m.nk, cast(m.ng AS BIGINT) AS n_cust,
        |       round(m.mug / o.mu, 4) AS mean_ratio,
        |       round(tg.theil_g, 4) + 0e0 AS theil_within,
        |       round((m.ng * m.mug) / (o.n * o.mu) * tg.theil_g, 4) + 0e0 AS within_contrib,
        |       round((m.ng * m.mug) / (o.n * o.mu) * ln(m.mug / o.mu), 4) + 0e0 AS between_contrib
        |FROM m JOIN tg ON m.nk = tg.nk CROSS JOIN o ORDER BY m.nk""".stripMargin),

    // Single change-point detection on the daily event-count series:
    // the split maximizing the between-segment variance term
    // S1²/n1 + S2²/n2 (total sum of squares is constant, so this IS
    // the 1-split binary-segmentation objective), with a 5-day minimum
    // segment guard against degenerate edge splits. Inputs are exact
    // integer day counts; both engines evaluate the identical double
    // expression, tie-broken by day. One pass of cumulative windows
    // over a |days|-sized series — dimension-sized work after the
    // per-day count shuffle.
    q("x247_changepoint",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c,
        |        sum(c) OVER (ORDER BY day) AS s1,
        |        count(*) OVER (ORDER BY day) AS n1,
        |        sum(c) OVER () AS st, count(*) OVER () AS nt
        |      FROM d),
        |sc AS (SELECT day, n1, s1, st - s1 AS s2, nt - n1 AS n2,
        |         (s1*1e0*s1)/n1 + ((st-s1)*1e0*(st-s1))/(nt-n1) AS score
        |       FROM w WHERE n1 >= 5 AND nt - n1 >= 5)
        |SELECT day AS split_after, cast(n1 AS BIGINT) AS n_left, cast(n2 AS BIGINT) AS n_right,
        |       cast(s1 AS BIGINT) AS sum_left, cast(s2 AS BIGINT) AS sum_right,
        |       round(score, 4) AS score
        |FROM sc ORDER BY score DESC, split_after LIMIT 1""".stripMargin),

    // Hapax-legomena lexical richness per source — the vocabulary-
    // freshness signal (complement of x227's Zipf slope): share of a
    // source's vocabulary occurring exactly once, in basis points.
    q("x248_hapax_richness",
      """WITH w AS (SELECT source, t AS term FROM (
        |        SELECT source, explode(split(lower(text), ' ')) AS t FROM documents)
        |      WHERE t <> ''),
        |tc AS (SELECT source, term, count(*) AS c FROM w GROUP BY 1, 2)
        |SELECT source, cast(count(*) AS BIGINT) AS vocab,
        |       cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |       cast((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000) div count(*) AS BIGINT) AS hapax_bp
        |FROM tc GROUP BY source ORDER BY source""".stripMargin),

    // Monthly revenue growth decomposed into volume and price effects
    // (Laspeyres-style): Δrev = Δqty·unit_prev + residual, with the
    // unit price in integer MICRO-cents so the only division happens on
    // a positive operand (Spark div truncates toward zero while DuckDB
    // // floors — negative deltas stay in pure multiplication, which is
    // sign-safe) and the two effects sum to Δrev·1e6 exactly.
    q("x249_price_volume_decomp",
      """WITH m AS (SELECT cast(date_trunc('month', o_orderdate) AS DATE) AS month,
        |                  sum(cast(round(l_extendedprice*100) AS BIGINT)) AS rev,
        |                  sum(cast(round(l_quantity) AS BIGINT)) AS qty
        |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY 1),
        |w AS (SELECT month, rev, qty,
        |             lag(rev) OVER (ORDER BY month) AS prev, lag(qty) OVER (ORDER BY month) AS pqty
        |      FROM m)
        |SELECT month, cast(rev AS BIGINT) AS rev, cast(qty AS BIGINT) AS qty,
        |       cast((qty - pqty) * ((prev * 1000000) div pqty) AS BIGINT) AS volume_eff_ucents,
        |       cast((rev - prev) * 1000000 - (qty - pqty) * ((prev * 1000000) div pqty) AS BIGINT) AS price_eff_ucents
        |FROM w WHERE prev IS NOT NULL ORDER BY month""".stripMargin),

    // Character-level Shannon entropy per doc — the gibberish/encoding-
    // noise screen of the quality tier (x50/x135's family at the char
    // level; x73 computes the WORD-unigram entropy, a vocabulary
    // signal — char entropy catches what word entropy can't: repeated-
    // char junk and random-byte noise inside plausible "words").
    // Per-doc char censuses are exact; the ln-sum rounds at 4dp (x237's
    // passing hazard class).
    q("x250_char_entropy",
      """WITH ch AS (SELECT doc_id, explode(split(lower(text), '')) AS c FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n) AS t FROM cc GROUP BY 1),
        |e AS (SELECT cc.doc_id, round(-sum((n*1.0/t) * ln(n*1.0/t)), 4) AS ent,
        |             cast(count(*) AS BIGINT) AS alphabet
        |      FROM cc JOIN tot ON cc.doc_id = tot.doc_id GROUP BY cc.doc_id)
        |SELECT doc_id, ent, alphabet FROM e ORDER BY ent ASC, doc_id LIMIT 25""".stripMargin,
      """WITH ch AS (SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS c FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n) AS t FROM cc GROUP BY 1),
        |e AS (SELECT cc.doc_id, round(-sum((n*1.0/t) * ln(n*1.0/t)), 4) AS ent,
        |             cast(count(*) AS BIGINT) AS alphabet
        |      FROM cc JOIN tot ON cc.doc_id = tot.doc_id GROUP BY cc.doc_id)
        |SELECT doc_id, ent, alphabet FROM e ORDER BY ent ASC, doc_id LIMIT 25""".stripMargin),

    // Naive-forecast WAPE per event type (forecast-eval complement of
    // x213's autocorrelation): the lag-1 persistence forecast scored by
    // weighted absolute percentage error — all in integer cents, so the
    // cross-engine gate is exact (WAPE ~100% on white-noise values,
    // which is the correct verdict on this corpus).
    q("x251_naive_forecast_wape",
      """WITH s AS (SELECT event_type, cast(round(value*100) AS BIGINT) AS cents,
        |              lag(cast(round(value*100) AS BIGINT)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
        |           FROM events),
        |e AS (SELECT event_type, abs(cents - prev) AS ae, cents FROM s WHERE prev IS NOT NULL)
        |SELECT event_type,
        |       cast((sum(ae) * 10000) div sum(cents) AS BIGINT) AS wape_bp,
        |       cast(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // Rank (quantile) normalization of event values per type — the
    // robust feature transform next to x193's min-max form: each value
    // maps to its percent-rank in basis points, exact integers
    // ((rank-1)*10000 div (n-1)), immune to outliers by construction.
    // Spot-checked rows keep the gate small; the transform itself is a
    // per-type window — scales across types/partitions.
    q("x252_rank_normalize",
      """WITH r AS (SELECT event_id, event_type, value,
        |             rank() OVER (PARTITION BY event_type ORDER BY value) AS rk,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events)
        |SELECT event_id, event_type,
        |       cast(((rk - 1) * 10000) div (n - 1) AS BIGINT) AS pct_rank_bp
        |FROM r WHERE event_id % 211 = 0 ORDER BY event_id""".stripMargin),

    // FIFO lot allocation via cumulative-interval overlap — the classic
    // "match demand to supply in arrival order" query (inventory lots,
    // order-book fills, cost-basis accounting) that needs no recursion:
    // per part, receipt lots (l_linenumber = 1) and consumption lines
    // (l_linenumber > 1) each get a cumulative-quantity interval
    // [cum-qty, cum), and FIFO matching is exactly interval overlap of
    // the two cumulative axes. All-integer quantities; the join is
    // part-keyed (the range predicate is a within-part post-filter), so
    // the shuffle carries l_partkey — per-part pair count is O(lots +
    // demands) in the matched band; a mega-part would band the
    // cumulative axis itself (same (key, bucket) trick as x230).
    q("x254_fifo_allocation",
      """WITH sup AS (SELECT l_partkey AS pk, cast(l_shipdate AS DATE) AS d,
        |                    sum(cast(round(l_quantity) AS BIGINT)) AS qty
        |             FROM lineitem WHERE l_linenumber = 1 AND l_partkey % 7 = 0
        |             GROUP BY 1, 2),
        |dem AS (SELECT l_partkey AS pk, cast(l_shipdate AS DATE) AS d,
        |               sum(cast(round(l_quantity) AS BIGINT)) AS qty
        |        FROM lineitem WHERE l_linenumber > 1 AND l_partkey % 7 = 0
        |        GROUP BY 1, 2),
        |s AS (SELECT pk, d, qty, sum(qty) OVER (PARTITION BY pk ORDER BY d) AS hi FROM sup),
        |m AS (SELECT pk, d, qty, sum(qty) OVER (PARTITION BY pk ORDER BY d) AS hi FROM dem)
        |SELECT s.pk, s.d AS supply_date, m.d AS demand_date,
        |       cast(least(s.hi, m.hi) - greatest(s.hi - s.qty, m.hi - m.qty) AS BIGINT) AS matched_qty
        |FROM s JOIN m ON s.pk = m.pk
        |  AND s.hi - s.qty < m.hi AND m.hi - m.qty < s.hi
        |ORDER BY s.pk, supply_date, demand_date""".stripMargin),

    // Business-day arithmetic without a calendar table: g(d) = business
    // days in [anchor Monday 1970-01-05, d) from pure weekday math
    // (weeks*5 + min(remainder, 5)), so bizdays(a, b) = g(b) - g(a) is
    // an exact integer for any span — the SLA/lead-time measure next to
    // x88's calendar parts and x164's interval math. Expression-level
    // per row: embarrassingly parallel at any scale. Dialect note:
    // Spark weekday() is 0=Mon; DuckDB isodow() is 1=Mon — both sides
    // reduce to days-since-a-known-Monday so neither function is needed.
    q("x255_business_days",
      """WITH j AS (SELECT o_orderkey AS okey, cast(o_orderdate AS DATE) AS od,
        |                  cast(l_shipdate AS DATE) AS sd
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |           WHERE o_orderkey % 97 = 0),
        |n AS (SELECT okey, od, sd,
        |             datediff(od, DATE '1970-01-05') AS no,
        |             datediff(sd, DATE '1970-01-05') AS ns
        |      FROM j)
        |SELECT okey, od, sd,
        |       cast(((ns div 7)*5 + least(ns % 7, 5))
        |          - ((no div 7)*5 + least(no % 7, 5)) AS BIGINT) AS bizdays
        |FROM n ORDER BY okey, od, sd, bizdays""".stripMargin,
      """WITH j AS (SELECT o_orderkey AS okey, cast(o_orderdate AS DATE) AS od,
        |                  cast(l_shipdate AS DATE) AS sd
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |           WHERE o_orderkey % 97 = 0),
        |n AS (SELECT okey, od, sd,
        |             datediff('day', DATE '1970-01-05', od) AS no,
        |             datediff('day', DATE '1970-01-05', sd) AS ns
        |      FROM j)
        |SELECT okey, od, sd,
        |       cast(((ns // 7)*5 + least(ns % 7, 5))
        |          - ((no // 7)*5 + least(no % 7, 5)) AS BIGINT) AS bizdays
        |FROM n ORDER BY okey, od, sd, bizdays""".stripMargin),

    // CUPED variance reduction (the A/B-test estimator): per-user pre-
    // period covariate (event cents before the corpus midpoint) adjusts
    // the post-period metric by theta = cov(post, pre)/var(pre), pooled
    // across arms (arm = user_id parity — a deterministic stand-in for
    // assignment). Two hash aggregations + a broadcast 1-row theta;
    // per-user state only — scales as a pair of shuffles on user_id.
    // Means round at 4dp (the x210 float-summation hazard class).
    q("x256_cuped",
      """WITH u AS (SELECT user_id,
        |             sum(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00'
        |                      THEN cast(round(value*100) AS BIGINT) ELSE 0 END) AS pre,
        |             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |                      THEN cast(round(value*100) AS BIGINT) ELSE 0 END) AS post
        |           FROM events GROUP BY 1),
        |t AS (SELECT covar_pop(post, pre) / var_pop(pre) AS theta, avg(pre) AS pre_mean FROM u)
        |SELECT user_id % 2 AS arm, cast(count(*) AS BIGINT) AS n,
        |       round(avg(post), 4) AS post_mean_cents,
        |       round(avg(post - t.theta * (pre - t.pre_mean)), 4) AS cuped_mean_cents
        |FROM u CROSS JOIN t GROUP BY user_id % 2 ORDER BY arm""".stripMargin),

    // 2-d skyline (Pareto frontier): the parts no other part beats on
    // BOTH (cheaper-or-equal price, larger-or-equal size, strict on at
    // least one) — the multi-objective shortlist query. The declared
    // form is the textbook NOT EXISTS dominance test (dim-sized here);
    // x258 is the same answer from the bucket-pruned two-pass native
    // plan that survives fact-sized inputs.
    q("x257_skyline",
      """WITH p AS (SELECT p_partkey, cast(round(p_retailprice*100) AS BIGINT) AS price_c,
        |                  cast(p_size AS BIGINT) AS size FROM part)
        |SELECT p_partkey, price_c, size FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_c <= a.price_c AND b.size >= a.size
        |    AND (b.price_c < a.price_c OR b.size > a.size))
        |ORDER BY price_c, p_partkey""".stripMargin),

    // Centroid silhouette — cluster-quality score over the embedding
    // corpus using the labeled clusters: a = distance to own centroid,
    // b = nearest other centroid, sil = (b-a)/max(a,b). The linear
    // (centroid-based) form of the quadratic silhouette: distances go
    // point→centroid only, so the whole thing is two hash aggregations
    // and a 640-row broadcast join (10 centroids × 64 dims) — no pair
    // join at any scale. Euclidean over float-widened doubles; sqrt
    // outputs round at 4dp.
    q("x259_centroid_silhouette",
      """WITH e AS (SELECT vec_id, label, posexplode(embedding) AS (pos, v) FROM embeddings),
        |e2 AS (SELECT vec_id, label, pos, cast(v AS DOUBLE) AS v FROM e),
        |c AS (SELECT label AS clab, pos, avg(v) AS cv FROM e2 GROUP BY 1, 2),
        |d AS (SELECT e2.vec_id, e2.label, c.clab,
        |             sqrt(sum((e2.v - c.cv)*(e2.v - c.cv))) AS dist
        |      FROM e2 JOIN c ON e2.pos = c.pos GROUP BY 1, 2, 3),
        |s AS (SELECT vec_id, label,
        |             min(CASE WHEN clab = label THEN dist END) AS a,
        |             min(CASE WHEN clab <> label THEN dist END) AS b
        |      FROM d GROUP BY 1, 2)
        |SELECT vec_id, cast(label AS BIGINT) AS label, round(a, 4) AS a,
        |       round(b, 4) AS b, round((b - a) / greatest(a, b), 4) + 0e0 AS sil
        |FROM s ORDER BY vec_id""".stripMargin,
      """WITH e2 AS (SELECT e.vec_id, e.label, t.i - 1 AS pos,
        |                   cast(e.embedding[t.i] AS DOUBLE) AS v
        |            FROM embeddings e
        |            CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t),
        |c AS (SELECT label AS clab, pos, avg(v) AS cv FROM e2 GROUP BY 1, 2),
        |d AS (SELECT e2.vec_id, e2.label, c.clab,
        |             sqrt(sum((e2.v - c.cv)*(e2.v - c.cv))) AS dist
        |      FROM e2 JOIN c ON e2.pos = c.pos GROUP BY 1, 2, 3),
        |s AS (SELECT vec_id, label,
        |             min(CASE WHEN clab = label THEN dist END) AS a,
        |             min(CASE WHEN clab <> label THEN dist END) AS b
        |      FROM d GROUP BY 1, 2)
        |SELECT vec_id, cast(label AS BIGINT) AS label, round(a, 4) AS a,
        |       round(b, 4) AS b, round((b - a) / greatest(a, b), 4) + 0e0 AS sil
        |FROM s ORDER BY vec_id""".stripMargin),

    // ABC-XYZ inventory matrix: x153's revenue ABC bands crossed with
    // demand-variability XYZ bands (coefficient of variation of weekly
    // shipped quantity, floored to bp) — the planning segmentation grid.
    // The ABC window runs over part-sized aggregates (x153's precedent);
    // the CV side is two part-keyed hash aggs. Output is the 9-cell
    // cross-tab.
    q("x260_abc_xyz",
      """WITH w AS (SELECT l_partkey AS pk, date_trunc('week', l_shipdate) AS wk,
        |                  sum(cast(round(l_quantity) AS BIGINT)) AS qty
        |           FROM lineitem GROUP BY 1, 2),
        |v AS (SELECT pk, cast(floor(stddev_samp(qty) * 10000.0 / avg(qty)) AS BIGINT) AS cv_bp
        |      FROM w GROUP BY 1 HAVING count(*) > 1),
        |r AS (SELECT l_partkey AS pk, sum(cast(round(l_extendedprice*100) AS BIGINT)) AS rev
        |      FROM lineitem GROUP BY 1),
        |a AS (SELECT pk, sum(rev) OVER (ORDER BY rev DESC, pk) AS cum,
        |             sum(rev) OVER () AS tot FROM r),
        |abc AS (SELECT pk, CASE WHEN cum * 10 <= tot * 5 THEN 'A'
        |                        WHEN cum * 10 <= tot * 8 THEN 'B'
        |                        ELSE 'C' END AS abc FROM a),
        |xyz AS (SELECT pk, CASE WHEN cv_bp < 2500 THEN 'X'
        |                        WHEN cv_bp < 5000 THEN 'Y'
        |                        ELSE 'Z' END AS xyz FROM v)
        |SELECT abc.abc, xyz.xyz, cast(count(*) AS BIGINT) AS parts
        |FROM abc JOIN xyz ON abc.pk = xyz.pk
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Isotonic (PAVA) calibration of x203's reliability deciles via the
    // minimax identity: fit_i = max_{j<=i} min_{k>=i} rate(j..k) — the
    // closed form of pool-adjacent-violators, so no recursion and no
    // iteration. The O(bins^3) expansion runs on the 10-row bin table
    // (bins are FIXED at any corpus scale; the fact-sized work is the
    // ntile + one aggregation x203 already does). Segment rates divide
    // identical integer pairs on both engines → identical doubles →
    // min/max exact; output rounds at 4dp.
    q("x262_isotonic_calibration",
      """WITH s AS (SELECT vec_id, cast(element_at(embedding,1) AS DOUBLE) AS score,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |d AS (SELECT y, ntile(10) OVER (ORDER BY score, vec_id) AS bin FROM s),
        |bins AS (SELECT bin, cast(count(*) AS BIGINT) AS n, cast(sum(y) AS BIGINT) AS pos
        |         FROM d GROUP BY bin),
        |c AS (SELECT bin, n, pos,
        |             cast(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |             cast(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp FROM bins),
        |seg AS (SELECT j.bin AS j, k.bin AS k,
        |               (k.cp - (j.cp - j.pos)) AS num, (k.cn - (j.cn - j.n)) AS den
        |        FROM c j JOIN c k ON j.bin <= k.bin),
        |mi AS (SELECT i.bin AS i, s.j, min(s.num * 1e0 / s.den) AS mn
        |       FROM bins i JOIN seg s ON s.j <= i.bin AND s.k >= i.bin GROUP BY 1, 2),
        |fit AS (SELECT i AS bin, max(mn) AS f FROM mi GROUP BY 1)
        |SELECT b.bin, b.n, b.pos,
        |       cast(floor(b.pos * 10000.0 / b.n) AS BIGINT) AS raw_rate_bp,
        |       round(f.f, 4) AS iso_rate
        |FROM bins b JOIN fit f ON b.bin = f.bin ORDER BY b.bin""".stripMargin),

    // OTIF / SLA attainment per ship month: share of lines shipped
    // within the 0..65 business-day service window after order date,
    // using x255's closed-form business-day counter. One join + one
    // month-keyed aggregation. (This corpus draws ship and order dates
    // near-independently — spans run ±2400 calendar days — so the
    // attainment numbers are LOW; the operator's semantics, not the
    // corpus's realism, are what the gate checks.)
    q("x263_otif_sla",
      """WITH j AS (SELECT cast(date_trunc('month', l_shipdate) AS DATE) AS m,
        |                  datediff(cast(o_orderdate AS DATE), DATE '1970-01-05') AS no,
        |                  datediff(cast(l_shipdate AS DATE), DATE '1970-01-05') AS ns
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |b AS (SELECT m, ((ns div 7)*5 + least(ns % 7, 5))
        |              - ((no div 7)*5 + least(no % 7, 5)) AS bd FROM j)
        |SELECT m, cast(count(*) AS BIGINT) AS lines,
        |       cast(sum(CASE WHEN bd BETWEEN 0 AND 65 THEN 1 ELSE 0 END) AS BIGINT) AS on_time,
        |       cast((sum(CASE WHEN bd BETWEEN 0 AND 65 THEN 1 ELSE 0 END) * 10000) div count(*) AS BIGINT) AS otif_bp
        |FROM b GROUP BY m ORDER BY m""".stripMargin,
      """WITH j AS (SELECT cast(date_trunc('month', l_shipdate) AS DATE) AS m,
        |                  datediff('day', DATE '1970-01-05', cast(o_orderdate AS DATE)) AS no,
        |                  datediff('day', DATE '1970-01-05', cast(l_shipdate AS DATE)) AS ns
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |b AS (SELECT m, ((ns // 7)*5 + least(ns % 7, 5))
        |              - ((no // 7)*5 + least(no % 7, 5)) AS bd FROM j)
        |SELECT m, cast(count(*) AS BIGINT) AS lines,
        |       cast(sum(CASE WHEN bd BETWEEN 0 AND 65 THEN 1 ELSE 0 END) AS BIGINT) AS on_time,
        |       cast((sum(CASE WHEN bd BETWEEN 0 AND 65 THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS otif_bp
        |FROM b GROUP BY m ORDER BY m""".stripMargin),

    // Referential-integrity audit over the FK graph (the governance
    // check next to x172's rule audit): per edge, child rows, distinct
    // child keys, orphan count via NOT EXISTS. On this corpus every
    // edge is clean (orphans = 0) — the distinct-key censuses keep the
    // gate non-degenerate. Each branch is one semi/anti-join the
    // optimizer can broadcast when the parent is a dim.
    q("x264_fk_orphans",
      """SELECT edge, child_rows, child_keys, orphans FROM (
        |  SELECT 'customer->nation' AS edge, cast(count(*) AS BIGINT) AS child_rows,
        |         cast(count(DISTINCT c_nationkey) AS BIGINT) AS child_keys,
        |         cast(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey) THEN 1 ELSE 0 END) AS BIGINT) AS orphans
        |  FROM customer
        |  UNION ALL
        |  SELECT 'lineitem->orders', cast(count(*) AS BIGINT),
        |         cast(count(DISTINCT l_orderkey) AS BIGINT),
        |         cast(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem->part', cast(count(*) AS BIGINT),
        |         cast(count(DISTINCT l_partkey) AS BIGINT),
        |         cast(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem->supplier', cast(count(*) AS BIGINT),
        |         cast(count(DISTINCT l_suppkey) AS BIGINT),
        |         cast(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders->customer', cast(count(*) AS BIGINT),
        |         cast(count(DISTINCT o_custkey) AS BIGINT),
        |         cast(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'supplier->nation', cast(count(*) AS BIGINT),
        |         cast(count(DISTINCT s_nationkey) AS BIGINT),
        |         cast(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM supplier
        |) t ORDER BY edge""".stripMargin),

    // Burstiness (Fano factor / index of dispersion) of per-user daily
    // activity: var/mean of daily event counts in bp — the bot/burst
    // screen next to x216's z-score anomalies (Fano > 1 = overdispersed
    // = bursty; Poisson-like users sit near 10000bp). The ratio is
    // computed in PURE INTEGER arithmetic via the algebraic identity
    // var_samp/mean = (n·Σc² − (Σc)²)/((n−1)·Σc) — float var_samp hit
    // the floor knife-edge at sf0.1 (14400 vs 14399). Two user-keyed
    // aggregations; top-20 gate rows.
    q("x265_burstiness",
      """WITH d AS (SELECT user_id, cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |f AS (SELECT user_id, cast(count(*) AS BIGINT) AS active_days,
        |             cast((10000 * (count(*) * sum(c*c) - sum(c)*sum(c)))
        |                  div ((count(*) - 1) * sum(c)) AS BIGINT) AS fano_bp
        |      FROM d GROUP BY 1 HAVING count(*) >= 5)
        |SELECT user_id, active_days, fano_bp FROM f
        |ORDER BY fano_bp DESC, user_id LIMIT 20""".stripMargin),

    // STL-style additive decomposition of the daily event series:
    // trend = centered 7-day moving average (full windows only),
    // seasonal = per-weekday mean of the detrended series, residual =
    // remainder. Everything that can stay integer does (trend_x7 and
    // the seasonal numerator are exact integer sums); the two float
    // outputs are single divisions of those integers — deterministic,
    // no accumulation — rounded at 4dp. Windows partition trivially by
    // series; the weekday agg is 7 rows.
    q("x268_stl_decomp",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |t AS (SELECT day, c,
        |        cast(sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS trend_x7,
        |        count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
        |        weekday(day) AS wd
        |      FROM d),
        |f AS (SELECT day, c, trend_x7, wd FROM t WHERE wn = 7),
        |s AS (SELECT wd, cast(sum(7*c - trend_x7) AS BIGINT) AS seas_sum_x7,
        |             cast(count(*) AS BIGINT) AS n_w
        |      FROM f GROUP BY 1)
        |SELECT f.day, f.c, f.trend_x7,
        |       round(s.seas_sum_x7 * 1e0 / (7 * s.n_w), 4) + 0e0 AS seasonal,
        |       round(f.c - f.trend_x7 / 7e0 - s.seas_sum_x7 * 1e0 / (7 * s.n_w), 4) + 0e0 AS residual
        |FROM f JOIN s ON f.wd = s.wd ORDER BY f.day""".stripMargin,
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |t AS (SELECT day, c,
        |        cast(sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS trend_x7,
        |        count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
        |        isodow(day) - 1 AS wd
        |      FROM d),
        |f AS (SELECT day, c, trend_x7, wd FROM t WHERE wn = 7),
        |s AS (SELECT wd, cast(sum(7*c - trend_x7) AS BIGINT) AS seas_sum_x7,
        |             cast(count(*) AS BIGINT) AS n_w
        |      FROM f GROUP BY 1)
        |SELECT f.day, f.c, f.trend_x7,
        |       round(s.seas_sum_x7 * 1e0 / (7 * s.n_w), 4) + 0e0 AS seasonal,
        |       round(f.c - f.trend_x7 / 7e0 - s.seas_sum_x7 * 1e0 / (7 * s.n_w), 4) + 0e0 AS residual
        |FROM f JOIN s ON f.wd = s.wd ORDER BY f.day""".stripMargin),

    // Degree assortativity of the co-purchase graph (x163's edge
    // universe): Pearson correlation of endpoint degrees over the
    // symmetrized edge list — do hubs link to hubs? (Newman 2002.)
    // Degrees are one hash agg over the edge list; the corr runs over
    // edge-sized input. This graph is near-neutral (≈0) — the number,
    // not its size, is the verdict.
    // r18b: x80-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8), x162's hinted `li` subquery; DuckDialect
    // drops the hint.
    q("x269_assortativity",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) a JOIN (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT p, cast(count(*) AS BIGINT) AS d FROM (
        |          SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs) u GROUP BY 1),
        |e AS (SELECT da.d AS dx, db.d AS dy
        |      FROM pairs JOIN deg da ON pairs.p1 = da.p JOIN deg db ON pairs.p2 = db.p),
        |sym AS (SELECT dx, dy FROM e UNION ALL SELECT dy, dx FROM e)
        |SELECT round(corr(dx, dy), 4) AS assortativity,
        |       cast(count(*)/2 AS BIGINT) AS edges,
        |       cast((SELECT count(*) FROM deg) AS BIGINT) AS nodes
        |FROM sym""".stripMargin),

    // Sequence-length bucketing efficiency curve — the padding-waste
    // planner for training batches (companion to x107's packing and
    // x122's token budget): for 1/2/4/8 equal-count length buckets,
    // total padding = Σ(bucket max − len) if every doc pads to its
    // bucket's max. Bucket id is pure integer rank arithmetic
    // (((rk−1)·nb) div n + 1), identical on both engines — not SQL
    // ntile, whose remainder placement the arithmetic form avoids
    // having to match. One global rank (dim-sized here; the x100 tier
    // is the fact-sized form) + per-bucket maxima.
    q("x271_padding_waste",
      """WITH l AS (SELECT doc_id, n_chars,
        |        row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
        |        count(*) OVER () AS n,
        |        cast(sum(n_chars) OVER () AS BIGINT) AS t FROM documents),
        |b AS (SELECT n_chars, t, nb, ((rk - 1) * nb) div n + 1 AS bucket
        |      FROM l CROSS JOIN (SELECT explode(array(1,2,4,8)) AS nb) s),
        |w AS (SELECT nb, bucket, max(t) AS t, cast(sum(max_c - n_chars) AS BIGINT) AS waste
        |      FROM (SELECT nb, bucket, n_chars, t, max(n_chars) OVER (PARTITION BY nb, bucket) AS max_c FROM b) x
        |      GROUP BY 1, 2)
        |SELECT nb AS buckets, cast(sum(waste) AS BIGINT) AS padding_chars,
        |       cast((sum(waste) * 10000) div max(t) AS BIGINT) AS overhead_bp
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH l AS (SELECT doc_id, n_chars,
        |        row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
        |        count(*) OVER () AS n,
        |        cast(sum(n_chars) OVER () AS BIGINT) AS t FROM documents),
        |b AS (SELECT n_chars, t, nb, ((rk - 1) * nb) // n + 1 AS bucket
        |      FROM l CROSS JOIN (SELECT unnest([1,2,4,8]) AS nb) s),
        |w AS (SELECT nb, bucket, max(t) AS t, cast(sum(max_c - n_chars) AS BIGINT) AS waste
        |      FROM (SELECT nb, bucket, n_chars, t, max(n_chars) OVER (PARTITION BY nb, bucket) AS max_c FROM b) x
        |      GROUP BY 1, 2)
        |SELECT nb AS buckets, cast(sum(waste) AS BIGINT) AS padding_chars,
        |       cast((sum(waste) * 10000) // max(t) AS BIGINT) AS overhead_bp
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),

    // Link prediction over the co-purchase graph: common-neighbor,
    // Jaccard and Adamic-Adar scores for 2-hop non-edges (the
    // recommender/completion primitive on x163's universe). Wedges are
    // one self-equi-join of the adjacency on the shared midpoint —
    // Σdeg² work, the standard wedge bound; existing edges anti-joined
    // out. Jaccard in integer bp; Adamic-Adar sums ≤ cn small ln terms,
    // rounded 4dp.
    // r18b: x80-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8) — x162's hinted `li` subquery
    // parallelizes the basket pair build; the wedge self-join's probe
    // side repartitions on its join key (x.b = y.a) so the Σdeg² wedge
    // expansion and the (u,v) candidate count run width-way parallel
    // too. DuckDialect drops the hints.
    q("x272_link_prediction",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) a JOIN (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT p1 AS a, p2 AS b FROM pairs UNION ALL SELECT p2, p1 FROM pairs),
        |deg AS (SELECT a AS p, cast(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |wedge AS (SELECT x.a AS u, y.b AS v, x.b AS mid
        |          FROM (SELECT /*+ REPARTITION($hintPar, b) */ a, b FROM adj) x JOIN adj y ON x.b = y.a AND x.a < y.b),
        |cand AS (SELECT u, v, cast(count(*) AS BIGINT) AS cn,
        |                round(sum(1.0 / ln(dm.d)), 4) AS adamic
        |         FROM wedge JOIN deg dm ON wedge.mid = dm.p
        |         WHERE dm.d > 1
        |         GROUP BY 1, 2),
        |new_pairs AS (SELECT c.u, c.v, c.cn, c.adamic FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.p1 = c.u AND p.p2 = c.v))
        |SELECT n.u, n.v, n.cn,
        |       cast((n.cn * 10000) div (du.d + dv.d - n.cn) AS BIGINT) AS jaccard_bp,
        |       n.adamic
        |FROM new_pairs n JOIN deg du ON n.u = du.p JOIN deg dv ON n.v = dv.p
        |ORDER BY n.cn DESC, n.u, n.v LIMIT 20""".stripMargin),

    // Murphy decomposition of the Brier score (reliability / resolution
    // / uncertainty) over score deciles — the calibration-quality
    // triple completing x203/x262. The "probability" is a clamped
    // LINEAR transform of the raw score (no exp/libm in the binning
    // path: cross-engine math-library ulps must never reorder the
    // decile sort). All terms are single divisions/products of exact
    // integer bin counts except yhat (an avg of ≤ n/10 doubles),
    // rounded at 4dp.
    q("x273_brier_decomp",
      """WITH s AS (SELECT vec_id, cast(element_at(embedding,1) AS DOUBLE) AS score,
        |        CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |p AS (SELECT vec_id, least(greatest(0.5e0 + score, 0e0), 1e0) AS prob, y FROM s),
        |d AS (SELECT prob, y, ntile(10) OVER (ORDER BY prob, vec_id) AS bin FROM p),
        |bins AS (SELECT bin, cast(count(*) AS BIGINT) AS n, cast(sum(y) AS BIGINT) AS pos,
        |                avg(prob) AS yhat FROM d GROUP BY bin),
        |g AS (SELECT cast(sum(n) AS BIGINT) AS nn, cast(sum(pos) AS BIGINT) AS npos FROM bins)
        |SELECT round(sum(n * (yhat - pos * 1e0/n) * (yhat - pos * 1e0/n)) / (SELECT nn FROM g), 4) AS reliability,
        |       round(sum(n * (pos * 1e0/n - (SELECT npos * 1e0/nn FROM g)) * (pos * 1e0/n - (SELECT npos * 1e0/nn FROM g))) / (SELECT nn FROM g), 4) AS resolution,
        |       round((SELECT npos * 1e0/nn * (1e0 - npos * 1e0/nn) FROM g), 4) AS uncertainty
        |FROM bins""".stripMargin),

    // Holt double exponential smoothing (level + trend) per event-type
    // daily series — a genuinely SEQUENTIAL fold (x245's class) that
    // both engines run as the SAME recursive CTE (Spark 4's recursion,
    // exercised on real data beyond x91's scalar count). α=β=0.5 and
    // e-notation literals keep every step in IEEE doubles with an
    // identical op tree → bit-equal trajectories; outputs round at 4dp.
    // Recursion depth = series length per type; types recurse
    // independently (the per-series parallelism a cluster would use).
    // r18 dialect delta (VERDICT r17 #4; guide §1.2 "remove unnecessary
    // passes"): the original shared text selected the last recursion row
    // per series via `fin` = max(rn) + a join back to `h` — TWO
    // references to the recursive CTE, and Spark 4 inlines both, so the
    // ENTIRE UnionLoop (one events-aggregation + window + join per day
    // step, ~275 stages at sf0.1) executed TWICE
    // (plans/r18/x274_holt_linear_before.txt shows two `UnionLoop 1`
    // subtrees; measured 15.6 s / 549 stages ≈ the per-stage floor ×
    // stage count). The Spark dialect now selects the same row with
    // `row_number() OVER (PARTITION BY event_type ORDER BY rn DESC) = 1`
    // — ONE reference, ONE UnionLoop. rn is unique within a series
    // (anchor 2, +1 per step), so max-rn-join ≡ rn-desc-first
    // row-for-row. The DuckDB oracle keeps the original fin-join text
    // verbatim (its recursion is cheap and the text stays the canonical
    // statement of the semantics).
    q("x274_holt_linear",
      """WITH RECURSIVE d AS (
        |  SELECT event_type, cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS y,
        |         row_number() OVER (PARTITION BY event_type ORDER BY cast(ts AS DATE)) AS rn
        |  FROM events GROUP BY 1, 2),
        |h(event_type, rn, y, l, b) AS (
        |  SELECT d1.event_type, 2, d2.y,
        |         d2.y * 1e0, (d2.y - d1.y) * 1e0
        |  FROM d d1 JOIN d d2 ON d1.event_type = d2.event_type AND d1.rn = 1 AND d2.rn = 2
        |  UNION ALL
        |  SELECT h.event_type, h.rn + 1, d.y,
        |         5e-1 * d.y + 5e-1 * (h.l + h.b),
        |         5e-1 * ((5e-1 * d.y + 5e-1 * (h.l + h.b)) - h.l) + 5e-1 * h.b
        |  FROM h JOIN d ON d.event_type = h.event_type AND d.rn = h.rn + 1)
        |SELECT event_type, cast(rn AS BIGINT) AS rn, y,
        |       round(l, 4) AS level, round(b, 4) AS trend,
        |       round(l + b, 4) AS forecast_next
        |FROM (SELECT h.*, row_number() OVER (PARTITION BY event_type ORDER BY rn DESC) AS rr FROM h)
        |WHERE rr = 1
        |ORDER BY event_type""".stripMargin,
      """WITH RECURSIVE d AS (
        |  SELECT event_type, cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS y,
        |         row_number() OVER (PARTITION BY event_type ORDER BY cast(ts AS DATE)) AS rn
        |  FROM events GROUP BY 1, 2),
        |h(event_type, rn, y, l, b) AS (
        |  SELECT d1.event_type, 2, d2.y,
        |         d2.y * 1e0, (d2.y - d1.y) * 1e0
        |  FROM d d1 JOIN d d2 ON d1.event_type = d2.event_type AND d1.rn = 1 AND d2.rn = 2
        |  UNION ALL
        |  SELECT h.event_type, h.rn + 1, d.y,
        |         5e-1 * d.y + 5e-1 * (h.l + h.b),
        |         5e-1 * ((5e-1 * d.y + 5e-1 * (h.l + h.b)) - h.l) + 5e-1 * h.b
        |  FROM h JOIN d ON d.event_type = h.event_type AND d.rn = h.rn + 1),
        |fin AS (SELECT event_type, max(rn) AS mx FROM h GROUP BY 1)
        |SELECT h.event_type, cast(h.rn AS BIGINT) AS rn, h.y,
        |       round(h.l, 4) AS level, round(h.b, 4) AS trend,
        |       round(h.l + h.b, 4) AS forecast_next
        |FROM h JOIN fin ON h.event_type = fin.event_type AND h.rn = fin.mx
        |ORDER BY h.event_type""".stripMargin),

    // t-closeness audit — completes the privacy triad (x186
    // k-anonymity, x234 l-diversity): per quasi-identifier group, the
    // ordered-EMD distance between the group's sensitive-attribute
    // (acctbal decile) distribution and the global one, in PURE INTEGER
    // bp via cross-multiplied cumulative counts (|cg·N − cG·ng| sums —
    // no float CDFs). Dim-sized windows; the decile assignment is the
    // only fact-sized pass.
    q("x275_t_closeness",
      """WITH s AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |        ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS dec_b FROM customer),
        |gq AS (SELECT nk, seg, dec_b, cast(count(*) AS BIGINT) AS c FROM s GROUP BY 1,2,3),
        |gn AS (SELECT nk, seg, cast(sum(c) AS BIGINT) AS ng FROM gq GROUP BY 1,2),
        |gl AS (SELECT dec_b, cast(sum(c) AS BIGINT) AS gc FROM gq GROUP BY 1),
        |nn AS (SELECT cast(sum(gc) AS BIGINT) AS n FROM gl),
        |decs AS (SELECT explode(sequence(1,10)) AS dec_b),
        |cells AS (SELECT g.nk, g.seg, g.ng, d.dec_b,
        |                 cast(coalesce(q.c, 0) AS BIGINT) AS c
        |          FROM gn g CROSS JOIN decs d
        |          LEFT JOIN gq q ON q.nk = g.nk AND q.seg = g.seg AND q.dec_b = d.dec_b),
        |cum AS (SELECT nk, seg, ng, dec_b,
        |               cast(sum(c) OVER (PARTITION BY nk, seg ORDER BY dec_b) AS BIGINT) AS cg
        |        FROM cells),
        |gcum AS (SELECT dec_b, cast(sum(gc) OVER (ORDER BY dec_b) AS BIGINT) AS cG FROM gl),
        |emd AS (SELECT cum.nk, cum.seg, cum.ng,
        |               cast(sum(abs(cum.cg * (SELECT n FROM nn) - gcum.cG * cum.ng)) AS BIGINT) AS num
        |        FROM cum JOIN gcum ON cum.dec_b = gcum.dec_b
        |        WHERE cum.dec_b < 10
        |        GROUP BY 1, 2, 3)
        |SELECT nk, seg, ng,
        |       cast((num * 10000) div (ng * (SELECT n FROM nn) * 9) AS BIGINT) AS t_bp
        |FROM emd ORDER BY nk, seg""".stripMargin,
      """WITH s AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |        ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS dec_b FROM customer),
        |gq AS (SELECT nk, seg, dec_b, cast(count(*) AS BIGINT) AS c FROM s GROUP BY 1,2,3),
        |gn AS (SELECT nk, seg, cast(sum(c) AS BIGINT) AS ng FROM gq GROUP BY 1,2),
        |gl AS (SELECT dec_b, cast(sum(c) AS BIGINT) AS gc FROM gq GROUP BY 1),
        |nn AS (SELECT cast(sum(gc) AS BIGINT) AS n FROM gl),
        |decs AS (SELECT unnest(range(1,11)) AS dec_b),
        |cells AS (SELECT g.nk, g.seg, g.ng, d.dec_b,
        |                 cast(coalesce(q.c, 0) AS BIGINT) AS c
        |          FROM gn g CROSS JOIN decs d
        |          LEFT JOIN gq q ON q.nk = g.nk AND q.seg = g.seg AND q.dec_b = d.dec_b),
        |cum AS (SELECT nk, seg, ng, dec_b,
        |               cast(sum(c) OVER (PARTITION BY nk, seg ORDER BY dec_b) AS BIGINT) AS cg
        |        FROM cells),
        |gcum AS (SELECT dec_b, cast(sum(gc) OVER (ORDER BY dec_b) AS BIGINT) AS cG FROM gl),
        |emd AS (SELECT cum.nk, cum.seg, cum.ng,
        |               cast(sum(abs(cum.cg * (SELECT n FROM nn) - gcum.cG * cum.ng)) AS BIGINT) AS num
        |        FROM cum JOIN gcum ON cum.dec_b = gcum.dec_b
        |        WHERE cum.dec_b < 10
        |        GROUP BY 1, 2, 3)
        |SELECT nk, seg, ng,
        |       cast((num * 10000) // (ng * (SELECT n FROM nn) * 9) AS BIGINT) AS t_bp
        |FROM emd ORDER BY nk, seg""".stripMargin),

    // Mutual-information feature ranking (feature selection): MI(label;
    // sign of embedding dims 1-4) from 2×2 contingency counts — the
    // dependence measure x206's chi-square tests, turned into a ranked
    // feature report. Counts are exact integers; the ln terms (≤ 4 per
    // feature) round at 4dp and the RANK orders by the ROUNDED value
    // (cross-engine libm ulps must never decide an ordering).
    q("x276_mi_feature_rank",
      """WITH f AS (
        |  SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y, fid,
        |         CASE WHEN v >= 0 THEN 1 ELSE 0 END AS x
        |  FROM (SELECT label, 1 AS fid, cast(element_at(embedding,1) AS DOUBLE) AS v FROM embeddings
        |        UNION ALL SELECT label, 2, cast(element_at(embedding,2) AS DOUBLE) FROM embeddings
        |        UNION ALL SELECT label, 3, cast(element_at(embedding,3) AS DOUBLE) FROM embeddings
        |        UNION ALL SELECT label, 4, cast(element_at(embedding,4) AS DOUBLE) FROM embeddings) u),
        |cxy AS (SELECT fid, x, y, cast(count(*) AS BIGINT) AS c FROM f GROUP BY 1,2,3),
        |cx AS (SELECT fid, x, cast(sum(c) AS BIGINT) AS cx FROM cxy GROUP BY 1,2),
        |cy AS (SELECT fid, y, cast(sum(c) AS BIGINT) AS cy FROM cxy GROUP BY 1,2),
        |n AS (SELECT fid, cast(sum(c) AS BIGINT) AS n FROM cxy GROUP BY 1),
        |mi AS (SELECT cxy.fid,
        |              round(sum((cxy.c * 1e0 / n.n) * ln((cxy.c * 1e0 * n.n) / (cx.cx * 1e0 * cy.cy))), 4) AS mi_nats
        |       FROM cxy JOIN cx ON cxy.fid = cx.fid AND cxy.x = cx.x
        |            JOIN cy ON cxy.fid = cy.fid AND cxy.y = cy.y
        |            JOIN n ON cxy.fid = n.fid
        |       GROUP BY 1)
        |SELECT cast(fid AS BIGINT) AS feature, mi_nats,
        |       cast(row_number() OVER (ORDER BY mi_nats DESC, fid) AS BIGINT) AS rk
        |FROM mi ORDER BY rk""".stripMargin),

    // Split-conformal prediction calibration: the 90% nonconformity
    // quantile from the even-id calibration split (rank = min(ceil(0.9·
    // (n+1)), n) in pure integer arithmetic), then empirical coverage
    // on the odd-id split — the distribution-free uncertainty wrapper
    // (Vovk; split form per Lei et al.). Expected coverage ≥ 90%; the
    // linear clamped probability keeps libm out entirely. Two scans +
    // one dim-sized quantile row, broadcast into the coverage filter.
    q("x277_conformal_coverage",
      """WITH p AS (SELECT vec_id,
        |        least(greatest(0.5e0 + cast(element_at(embedding,1) AS DOUBLE), 0e0), 1e0) AS prob,
        |        CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |s AS (SELECT vec_id, CASE WHEN y = 1 THEN 1e0 - prob ELSE prob END AS nc FROM p),
        |cal AS (SELECT nc, row_number() OVER (ORDER BY nc, vec_id) AS rn,
        |               count(*) OVER () AS n FROM s WHERE vec_id % 2 = 0),
        |q AS (SELECT nc AS qhat FROM cal WHERE rn = least(((n + 1) * 90 + 99) div 100, n)),
        |ev AS (SELECT s.nc FROM s WHERE vec_id % 2 = 1)
        |SELECT round((SELECT qhat FROM q), 4) AS qhat,
        |       cast((SELECT count(*) FROM cal) AS BIGINT) AS n_calib,
        |       cast(count(*) AS BIGINT) AS n_eval,
        |       cast((sum(CASE WHEN nc <= (SELECT qhat FROM q) THEN 1 ELSE 0 END) * 10000) div count(*) AS BIGINT) AS coverage_bp
        |FROM ev""".stripMargin),

    // Vocabulary shift between sources (domain-drift in the IDF sense,
    // the term-level complement of x190's length drift and x134's
    // doc-overlap): per-term document-frequency log-ratio between two
    // source corpora, for terms present in ≥ 25% of each side's docs
    // (the RELATIVE floor keeps every SF non-degenerate). Term-keyed
    // equi-join carries the shuffle; the sort key is the ROUNDED
    // |shift| (libm ulps never order the top-k).
    q("x278_vocab_shift",
      """WITH w AS (SELECT source, doc_id, explode(array_distinct(split(lower(text), ' '))) AS term
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |df AS (SELECT source, term, cast(count(*) AS BIGINT) AS df FROM w GROUP BY 1, 2),
        |nd AS (SELECT source, cast(count(DISTINCT doc_id) AS BIGINT) AS nd FROM w GROUP BY 1),
        |j AS (SELECT a.term, a.df AS df_a, b.df AS df_b,
        |             (SELECT nd FROM nd WHERE source='src0') AS na,
        |             (SELECT nd FROM nd WHERE source='src1') AS nb
        |      FROM df a JOIN df b ON a.term = b.term AND a.source='src0' AND b.source='src1'
        |      WHERE a.df * 4 >= (SELECT nd FROM nd WHERE source='src0')
        |        AND b.df * 4 >= (SELECT nd FROM nd WHERE source='src1'))
        |SELECT term, df_a, df_b,
        |       round(ln((df_a * 1e0 / na) / (df_b * 1e0 / nb)), 4) AS shift
        |FROM j ORDER BY round(abs(ln((df_a * 1e0 / na) / (df_b * 1e0 / nb))), 4) DESC, term LIMIT 25""".stripMargin),

    // Top rank movers year-over-year — the BI "biggest climbers and
    // fallers" report: per-part revenue rank in 1996 vs 1997, largest
    // absolute rank change. Ranks run over part-sized yearly aggregates
    // (x153's window class); the join is part-keyed. All-integer.
    q("x279_rank_movers",
      """WITH r AS (SELECT l_partkey AS pk, year(l_shipdate) AS yr,
        |       cast(sum(cast(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1, 2),
        |rk AS (SELECT pk, yr, rev, rank() OVER (PARTITION BY yr ORDER BY rev DESC, pk) AS rnk FROM r),
        |j AS (SELECT a.pk,
        |             cast(a.rnk AS BIGINT) AS rank_1996, cast(b.rnk AS BIGINT) AS rank_1997,
        |             cast(a.rnk - b.rnk AS BIGINT) AS delta
        |      FROM rk a JOIN rk b ON a.pk = b.pk AND a.yr = 1996 AND b.yr = 1997)
        |SELECT pk, rank_1996, rank_1997, delta FROM j
        |ORDER BY abs(delta) DESC, pk LIMIT 20""".stripMargin),

    // Simpson's-paradox screen: pooled vs per-nation regression slope
    // of account balance on order count, flagging nations whose ROUNDED
    // slope sign opposes the pooled sign — the aggregation-reversal
    // audit every segment-level dashboard needs. Slopes round at 4dp
    // BEFORE the sign test (a float boundary must never decide a flag);
    // constant-x groups yield NULL slopes → flag 0 on both engines.
    q("x280_simpsons_check",
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |       cast(round(c_acctbal*100) AS BIGINT) AS bal FROM customer),
        |o AS (SELECT o_custkey, cast(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1),
        |d AS (SELECT c.c_nationkey AS nk, c.bal, coalesce(o.n_orders, 0) AS n_orders
        |      FROM c LEFT JOIN o ON c.c_custkey = o.o_custkey),
        |pooled AS (SELECT round(regr_slope(bal, n_orders), 4) AS s FROM d),
        |per AS (SELECT nk, cast(count(*) AS BIGINT) AS n, round(regr_slope(bal, n_orders), 4) AS s
        |        FROM d GROUP BY 1 HAVING count(*) >= 5)
        |SELECT per.nk, per.n, per.s AS nation_slope,
        |       (SELECT s FROM pooled) AS pooled_slope,
        |       CASE WHEN per.s * (SELECT s FROM pooled) < 0 THEN 1 ELSE 0 END AS sign_flip
        |FROM per ORDER BY per.nk""".stripMargin),

    // Label engineering for an engagement-decline model — the ML-
    // pipeline op that BUILDS a training table: per-user features over
    // the first 23 days (counts, purchase counts, spend, recency) and a
    // binary label "weekly rate in the last 7 days fell below 80% of
    // the prior weekly rate", kept in cross-multiplied integers
    // (23·n2·10 < 7·n1·8 — no rate division anywhere). ~22% positive at
    // every SF. Two user-keyed aggs + one join.
    q("x281_engagement_labels",
      """WITH w1 AS (SELECT user_id, cast(count(*) AS BIGINT) AS n_events,
        |       cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |       cast(sum(cast(round(value*100) AS BIGINT)) AS BIGINT) AS cents,
        |       max(cast(ts AS DATE)) AS last_d
        |  FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1),
        |w2 AS (SELECT user_id, cast(count(*) AS BIGINT) AS n2
        |       FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1)
        |SELECT w1.user_id, n_events, n_purchases, cents,
        |       cast(datediff(DATE '2024-01-24', last_d) AS BIGINT) AS recency_days,
        |       CASE WHEN 23 * coalesce(n2, 0) * 10 < 7 * n_events * 8 THEN 1 ELSE 0 END AS declined
        |FROM w1 LEFT JOIN w2 ON w1.user_id = w2.user_id
        |ORDER BY w1.user_id""".stripMargin,
      """WITH w1 AS (SELECT user_id, cast(count(*) AS BIGINT) AS n_events,
        |       cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |       cast(sum(cast(round(value*100) AS BIGINT)) AS BIGINT) AS cents,
        |       max(cast(ts AS DATE)) AS last_d
        |  FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1),
        |w2 AS (SELECT user_id, cast(count(*) AS BIGINT) AS n2
        |       FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1)
        |SELECT w1.user_id, n_events, n_purchases, cents,
        |       cast(datediff('day', last_d, DATE '2024-01-24') AS BIGINT) AS recency_days,
        |       CASE WHEN 23 * coalesce(n2, 0) * 10 < 7 * n_events * 8 THEN 1 ELSE 0 END AS declined
        |FROM w1 LEFT JOIN w2 ON w1.user_id = w2.user_id
        |ORDER BY w1.user_id""".stripMargin),

    // Leave-one-out target encoding with additive smoothing (prior
    // m=10 toward the global mean) — the category-feature transform
    // done leak-free: each row's own target is excluded from its
    // category mean. PURE INTEGER via cents and floor division. One
    // category agg broadcast back over the fact rows.
    q("x282_target_encoding",
      """WITH e AS (SELECT event_id, event_type, cast(round(value*100) AS BIGINT) AS c FROM events),
        |g AS (SELECT event_type, cast(sum(c) AS BIGINT) AS sg, cast(count(*) AS BIGINT) AS ng FROM e GROUP BY 1),
        |gm AS (SELECT cast(sum(c) AS BIGINT) div cast(count(*) AS BIGINT) AS m FROM e)
        |SELECT e.event_id, e.event_type,
        |       cast(((g.sg - e.c) + 10 * (SELECT m FROM gm)) div (g.ng - 1 + 10) AS BIGINT) AS loo_enc_cents
        |FROM e JOIN g ON e.event_type = g.event_type
        |WHERE e.event_id % 211 = 0 ORDER BY e.event_id""".stripMargin),

    // Feature-hashing (hashing-trick) collision census over the doc
    // vocabulary: terms → 256 buckets through the portable md5-prefix
    // hash (x74's cross-engine family), reporting load factor, max
    // load and colliding-term mass — the dimensionality/collision
    // trade-off readout before anyone trains on hashed features.
    q("x283_feature_hash_census",
      """WITH w AS (SELECT DISTINCT explode(array_distinct(split(lower(text), ' '))) AS term FROM documents),
        |h AS (SELECT term, cast(conv(substr(md5(term),1,8),16,10) AS BIGINT) % 256 AS bucket FROM w),
        |b AS (SELECT bucket, cast(count(*) AS BIGINT) AS load FROM h GROUP BY 1)
        |SELECT cast((SELECT count(*) FROM h) AS BIGINT) AS n_terms,
        |       cast(count(*) AS BIGINT) AS buckets_used,
        |       cast(max(load) AS BIGINT) AS max_load,
        |       cast(sum(CASE WHEN load > 1 THEN load ELSE 0 END) AS BIGINT) AS colliding_terms
        |FROM b""".stripMargin),

    // Deterministic negative sampling for a recommender training set:
    // per sampled customer, the 5 hash-lowest parts they never bought
    // (NOT EXISTS anti-join against the order×lineitem interaction
    // set; candidate ranking via the portable md5 hash — no rand(),
    // re-runs are byte-identical). The candidate fan-out is
    // |sampled users| × |parts| with a per-user top-k — at scale the
    // hash-rank would band candidates per user first (same trick as
    // the ANN bucket path).
    // r18b: x80-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8) — the CROSS JOIN broadcasts the ~|cust|/100
    // sampled users and STREAMS part, whose one-row-group scan is a
    // single task: the whole |users|×|parts| hash+rank fan-out ran
    // serial. Repartitioning the streamed side runs it width-way
    // parallel (the per-user rank keeps its Partial WindowGroupLimit
    // shape — only ≤5 rows per (task, user) cross the exchange). The
    // hinted lineitem input keeps `l_partkey` unaliased, so its hash
    // partitioning reaches the DISTINCT in `bought` and no
    // single-partition exchange sits under that aggregate.
    q("x284_negative_sampling",
      s"""WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0),
        |bought AS (SELECT /*+ BROADCAST(o) */ DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        |           FROM orders o JOIN (SELECT /*+ REPARTITION($hintPar, l_partkey) */ l_orderkey, l_partkey FROM lineitem) l ON o.o_orderkey = l.l_orderkey),
        |cand AS (SELECT /*+ BROADCAST(c) */ c.c_custkey AS ck, p.p_partkey AS pk,
        |                cast(conv(substr(md5(concat(cast(c.c_custkey AS STRING), ':', cast(p.p_partkey AS STRING))),1,8),16,10) AS BIGINT) AS hv
        |         FROM cust c CROSS JOIN (SELECT /*+ REPARTITION($hintPar, p_partkey) */ p_partkey FROM part) p),
        |neg AS (SELECT cand.ck, cand.pk, hv,
        |               row_number() OVER (PARTITION BY cand.ck ORDER BY hv, cand.pk) AS rk
        |        FROM cand WHERE NOT EXISTS (SELECT /*+ BROADCAST(b) */ 1 FROM bought b WHERE b.ck = cand.ck AND b.pk = cand.pk))
        |SELECT ck, pk, hv, cast(rk AS BIGINT) AS rk FROM neg WHERE rk <= 5 ORDER BY ck, rk""".stripMargin),

    // Tail attribution: which event types over-contribute to the top
    // value decile — lift of each type's share among the top 10% vs
    // its overall share, exact integer bp via cross-multiplied counts.
    // The decile is one global ntile (dim here; x100's two-pass tier is
    // the fact-scale form).
    q("x285_tail_attribution",
      """WITH e AS (SELECT event_type, cast(round(value*100) AS BIGINT) AS c, event_id FROM events),
        |d AS (SELECT event_type, ntile(10) OVER (ORDER BY c, event_id) AS dec_b FROM e),
        |a AS (SELECT event_type, cast(count(*) AS BIGINT) AS all_n FROM d GROUP BY 1),
        |t AS (SELECT event_type, cast(count(*) AS BIGINT) AS top_n FROM d WHERE dec_b = 10 GROUP BY 1),
        |tot AS (SELECT cast(sum(all_n) AS BIGINT) AS aN FROM a),
        |ttot AS (SELECT cast(sum(top_n) AS BIGINT) AS tN FROM t)
        |SELECT a.event_type, a.all_n, coalesce(t.top_n, 0) AS top_n,
        |       cast((coalesce(t.top_n, 0) * (SELECT aN FROM tot) * 10000)
        |            div ((SELECT tN FROM ttot) * a.all_n) AS BIGINT) AS lift_bp
        |FROM a LEFT JOIN t ON a.event_type = t.event_type
        |ORDER BY a.event_type""".stripMargin),

    // Sequential probability ratio test (Wald's SPRT) per arm: the
    // log-likelihood-ratio walk over each arm's observation sequence
    // (H0 p=0.18 vs H1 p=0.22 on purchase conversion), stopping at the
    // ±ln(19) boundary (α=β=0.05) — early-stopping A/B monitoring as a
    // cumulative window, no recursion needed. The walk accumulates in
    // frame order on both engines (identical op sequence); each step is
    // ~0.05-0.2 nats, so a cross-engine ulp drift (~1e-13 after 2k
    // steps) cannot move the crossing index. Arm-partitioned windows
    // scale horizontally.
    q("x286_sprt",
      """WITH s AS (SELECT user_id % 2 AS arm, event_id,
        |       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
        |       row_number() OVER (PARTITION BY user_id % 2 ORDER BY ts, event_id) AS rn
        |  FROM events),
        |llr AS (SELECT arm, rn, conv,
        |        sum(CASE WHEN conv = 1 THEN ln(22e-2/18e-2) ELSE ln(78e-2/82e-2) END)
        |          OVER (PARTITION BY arm ORDER BY rn) AS walk
        |        FROM s),
        |cross_t AS (SELECT arm, min(rn) AS t_cross FROM llr
        |            WHERE abs(walk) >= ln(19e0) GROUP BY arm),
        |fin AS (SELECT l.arm, c.t_cross, l.walk
        |        FROM llr l JOIN cross_t c ON l.arm = c.arm AND l.rn = c.t_cross)
        |SELECT cast(arm AS BIGINT) AS arm, cast(t_cross AS BIGINT) AS n_obs,
        |       round(walk, 4) AS llr_at_cross,
        |       CASE WHEN walk > 0 THEN 'accept_h1' ELSE 'accept_h0' END AS verdict
        |FROM fin ORDER BY arm""".stripMargin),

    // Exact 3-player Shapley attribution over user-day journeys: v(S) =
    // integer-bp conversion rate of journeys exposed to exactly channel
    // set S (all 8 cells populated at every SF), and each channel's
    // Shapley value from the closed-form 3-player weights — emitted at
    // ×6 scale so the whole computation stays in integers (efficiency
    // check: Σφ·6 = 6·(v111 − v000) exactly). One user-day hash agg +
    // an 8-cell pivot; the marginal-contribution algebra is
    // constant-size.
    q("x287_shapley_attribution",
      """WITH u AS (SELECT user_id, cast(ts AS DATE) AS day,
        |       max(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS a,
        |       max(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS b,
        |       max(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS c,
        |       max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT a, b, c, cast(count(*) AS BIGINT) AS n, cast(sum(y) AS BIGINT) AS conv
        |      FROM u GROUP BY 1, 2, 3),
        |r AS (SELECT a, b, c, (conv * 10000) div n AS v_bp FROM v),
        |p AS (SELECT
        |  max(CASE WHEN a=0 AND b=0 AND c=0 THEN v_bp END) AS v000,
        |  max(CASE WHEN a=1 AND b=0 AND c=0 THEN v_bp END) AS v100,
        |  max(CASE WHEN a=0 AND b=1 AND c=0 THEN v_bp END) AS v010,
        |  max(CASE WHEN a=0 AND b=0 AND c=1 THEN v_bp END) AS v001,
        |  max(CASE WHEN a=1 AND b=1 AND c=0 THEN v_bp END) AS v110,
        |  max(CASE WHEN a=1 AND b=0 AND c=1 THEN v_bp END) AS v101,
        |  max(CASE WHEN a=0 AND b=1 AND c=1 THEN v_bp END) AS v011,
        |  max(CASE WHEN a=1 AND b=1 AND c=1 THEN v_bp END) AS v111 FROM r),
        |sh AS (
        |  SELECT 'click' AS channel,
        |         2*(v100-v000) + (v110-v010) + (v101-v001) + 2*(v111-v011) AS x6 FROM p
        |  UNION ALL SELECT 'error',
        |         2*(v001-v000) + (v011-v010) + (v101-v100) + 2*(v111-v110) FROM p
        |  UNION ALL SELECT 'signup',
        |         2*(v010-v000) + (v110-v100) + (v011-v001) + 2*(v111-v101) FROM p)
        |SELECT channel, cast(x6 AS BIGINT) AS shapley_x6_bp FROM sh ORDER BY channel""".stripMargin),

    // Little's law by construction: the sweep-line integral of session
    // concurrency over time must equal the sum of session durations
    // EXACTLY (Fubini in integer microseconds — the same invariant a
    // metrics pipeline asserts between its "avg concurrent users" and
    // "total engaged time" marts), plus the queueing numbers L̄ and W̄
    // derived from the shared quantity. Sessionization is q31's 30-min
    // gap; the sweep is x198's ±1-point walk. The identity row is the
    // reconciliation — fubini_ok MUST be 1.
    q("x288_littles_law",
      """WITH e AS (SELECT user_id, ts, unix_micros(ts) AS us,
        |       lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT user_id, us,
        |             CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |sid AS (SELECT user_id, us, sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS sess
        |        FROM s),
        |sess AS (SELECT user_id, sess, min(us) AS s0, max(us) AS s1 FROM sid GROUP BY 1, 2),
        |pts AS (SELECT s0 AS t, 1 AS d FROM sess UNION ALL SELECT s1, -1 FROM sess),
        |sweep AS (SELECT t, sum(d) AS dd FROM pts GROUP BY t),
        |walk AS (SELECT t, sum(dd) OVER (ORDER BY t) AS conc,
        |                lead(t) OVER (ORDER BY t) AS nxt
        |         FROM sweep),
        |integral AS (SELECT cast(sum(conc * (nxt - t)) AS BIGINT) AS area_us FROM walk WHERE nxt IS NOT NULL),
        |durs AS (SELECT cast(sum(s1 - s0) AS BIGINT) AS dur_us, cast(count(*) AS BIGINT) AS n FROM sess),
        |span AS (SELECT cast(max(us) - min(us) AS BIGINT) AS t_us FROM sid)
        |SELECT (SELECT area_us FROM integral) AS area_us,
        |       (SELECT dur_us FROM durs) AS dur_us,
        |       CASE WHEN (SELECT area_us FROM integral) = (SELECT dur_us FROM durs) THEN 1 ELSE 0 END AS fubini_ok,
        |       (SELECT n FROM durs) AS sessions,
        |       cast(((SELECT dur_us FROM durs) * 10000) div (SELECT t_us FROM span) AS BIGINT) AS l_avg_bp,
        |       cast((SELECT dur_us FROM durs) div ((SELECT n FROM durs) * 1000000) AS BIGINT) AS w_avg_secs""".stripMargin),

    // Sample-ratio mismatch check on the hash-based arm assignment
    // (x105's portable md5 family): two-cell chi-square collapses to
    // (o0−o1)²/n — pure integer at ×10000 scale; the flag fires at the
    // χ²(1df, α=.05)=3.84 boundary via cross-multiplication. THE first
    // sanity gate of any experiment readout (a flagged SRM invalidates
    // x256/x286 downstream). One distinct + one 2-row agg.
    q("x289_srm_check",
      """WITH a AS (SELECT cast(conv(substr(md5(cast(user_id AS STRING)),1,8),16,10) AS BIGINT) % 2 AS arm,
        |       cast(count(*) AS BIGINT) AS o
        |  FROM (SELECT DISTINCT user_id FROM events) u GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN o END) AS o0,
        |             max(CASE WHEN arm = 1 THEN o END) AS o1 FROM a)
        |SELECT o0, o1, cast(o0 + o1 AS BIGINT) AS n,
        |       cast(((o0 - o1) * (o0 - o1) * 10000) div (o0 + o1) AS BIGINT) AS chi2_x10000,
        |       CASE WHEN (o0 - o1) * (o0 - o1) * 100 > 384 * (o0 + o1) THEN 1 ELSE 0 END AS srm_flag
        |FROM p""".stripMargin),

    // ---- round-9 tier: robust trends, drift, reliability, feature/ -------
    // ---- retrieval eval, quant series (x290+) ----------------------------

    // Theil-Sen robust trend of the daily event-count series: the exact
    // median of all C(n,2) pairwise slopes (Sen 1968) — outlier-days
    // cannot drag it the way OLS (x84/x125) lets them. The pair join is
    // over the DAY dimension (n_days² ≈ 435 pairs at 30 days), not rows:
    // dimension-sized work after the per-day count shuffle, at ANY
    // corpus scale. Each slope is one division of exact integers
    // (deterministic double); the median is positional (values at the
    // two middle ranks — identical multiset ⇒ identical picks in both
    // engines, tie order irrelevant).
    q("x290_theil_sen",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |i AS (SELECT c, row_number() OVER (ORDER BY day) AS k FROM d),
        |s AS (SELECT (b.c - a.c) * 1e0 / (b.k - a.k) AS slope
        |      FROM i a JOIN i b ON a.k < b.k),
        |r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rk,
        |             count(*) OVER () AS np FROM s)
        |SELECT round(avg(slope), 4) + 0e0 AS theil_sen_slope,
        |       cast(max(np) AS BIGINT) AS n_pairs
        |FROM r
        |WHERE rk = cast(floor((np + 1) / 2e0) AS BIGINT)
        |   OR rk = cast(floor((np + 2) / 2e0) AS BIGINT)""".stripMargin),

    // Mann-Kendall monotone-trend test on the same daily series — the
    // nonparametric S statistic (Σ sign over ordered pairs) with the
    // tie-corrected variance, both EXACT integers; only the final z is
    // a float (one sqrt of an integer ratio — deterministic). Pairs
    // over the day dimension again. var_x18 carries 18·Var(S) so the
    // variance stays integer; z uses the standard ±1 continuity
    // correction.
    q("x291_mann_kendall",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |i AS (SELECT c, row_number() OVER (ORDER BY day) AS k FROM d),
        |p AS (SELECT CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
        |      FROM i a JOIN i b ON a.k < b.k),
        |s AS (SELECT cast(sum(sg) AS BIGINT) AS s_stat FROM p),
        |t AS (SELECT cast(coalesce(sum(tg*(tg-1)*(2*tg+5)), 0) AS BIGINT) AS tie_term
        |      FROM (SELECT cast(count(*) AS BIGINT) AS tg FROM d GROUP BY c) g WHERE tg > 1),
        |n AS (SELECT cast(count(*) AS BIGINT) AS n FROM d)
        |SELECT s.s_stat,
        |       cast(n.n AS BIGINT) AS n_days,
        |       cast(n.n*(n.n-1)*(2*n.n+5) - t.tie_term AS BIGINT) AS var_x18,
        |       round(CASE WHEN s.s_stat > 0
        |                  THEN (s.s_stat - 1) / sqrt((n.n*(n.n-1)*(2*n.n+5) - t.tie_term) / 18e0)
        |                  WHEN s.s_stat < 0
        |                  THEN (s.s_stat + 1) / sqrt((n.n*(n.n-1)*(2*n.n+5) - t.tie_term) / 18e0)
        |                  ELSE 0e0 END, 4) + 0e0 AS z,
        |       CASE WHEN s.s_stat > 0 THEN 'up' WHEN s.s_stat < 0 THEN 'down' ELSE 'flat' END AS trend
        |FROM s, t, n""".stripMargin),

    // Page-Hinkley drift monitor over the daily-mean series (Page 1954;
    // the sequential sibling of x214's CUSUM — PH tracks deviation from
    // the RUNNING mean, not the grand mean, so it is computable online).
    // Day means quantized to integer micro-units (x214's discipline);
    // each PH term is mu_i − cum_i/i (one division of exact integers,
    // deterministic), the running sum/min are prefix windows in day
    // order (identical accumulation order in both engines). Alarm fires
    // when PH − min(PH) exceeds λ = 2 000 000 micro-units (2.0 in value
    // units).
    q("x292_page_hinkley",
      """WITH d AS (SELECT cast(ts AS DATE) AS day,
        |                  sum(cast(round(value * 1000000) AS BIGINT)) AS su,
        |                  cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |m AS (SELECT day, cast(round(su * 1e0 / c) AS BIGINT) AS mu FROM d),
        |w AS (SELECT day, mu,
        |        cast(sum(mu) OVER (ORDER BY day) AS BIGINT) AS cum,
        |        cast(row_number() OVER (ORDER BY day) AS BIGINT) AS k
        |      FROM m),
        |ph AS (SELECT day, mu, sum(mu - cum * 1e0 / k) OVER (ORDER BY day) AS ph
        |       FROM w),
        |mn AS (SELECT day, mu, ph, min(ph) OVER (ORDER BY day) AS ph_min FROM ph)
        |SELECT day, round(mu / 1e6, 4) AS day_mean,
        |       round(ph / 1e6, 4) + 0e0 AS ph_stat,
        |       round((ph - ph_min) / 1e6, 4) + 0e0 AS ph_gap,
        |       CASE WHEN ph - ph_min > 2000000 THEN 1 ELSE 0 END AS alarm
        |FROM mn ORDER BY day""".stripMargin),

    // Per-node local clustering coefficient of the co-purchase graph
    // (x269's support-≥2 edge universe; Watts-Strogatz 1998): how
    // cliquish is each part's neighborhood — the node-level refinement
    // of x163's global triangle count. Triangles enumerate once via the
    // ordered 3-join (each listed exactly once as a<b<c), then unpivot
    // to the 3 member vertices; lcc_bp = 2·tri·10⁴ / deg(deg−1) in
    // exact integer basis points. Support pruning keeps the edge list
    // dimension-sized; the triangle join is the x163/x165 shape.
    // r18b: x80-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8), x162's hinted `li` subquery; DuckDialect
    // drops the hint.
    q("x293_local_clustering",
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |      FROM (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) a JOIN (SELECT /*+ REPARTITION($hintPar, l_orderkey) */ l_orderkey, l_partkey FROM li) b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT node, cast(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) x GROUP BY 1),
        |tr AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |       FROM e e1 JOIN e e2 ON e1.v = e2.u
        |                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tv AS (SELECT a AS node FROM tr UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr),
        |tc AS (SELECT node, cast(count(*) AS BIGINT) AS tri FROM tv GROUP BY 1)
        |SELECT deg.node, deg.d AS degree,
        |       cast(coalesce(tc.tri, 0) AS BIGINT) AS triangles,
        |       cast(floor(coalesce(tc.tri, 0) * 20000e0 / (deg.d * (deg.d - 1))) AS BIGINT) AS lcc_bp
        |FROM deg LEFT JOIN tc ON deg.node = tc.node
        |WHERE deg.d >= 2
        |ORDER BY lcc_bp DESC, deg.node LIMIT 20""".stripMargin),

    // Multi-window error-budget burn (the SRE alerting identity: burn
    // rate = error rate / SLO budget, alerted fast at 14.4× over the
    // short window and slow at 6× over the long one — Beyer et al.,
    // "Site Reliability Workbook" ch. 5, here at daily granularity with
    // 1-day/7-day windows over a 1% budget). Every rate is an exact
    // integer comparison (err·1000 vs 144·tot ⇔ rate > 14.4%); the bp
    // columns floor deterministic integer divisions. One per-day count
    // shuffle; the windows ride the 30-row day frame.
    q("x294_error_budget_burn",
      """WITH d AS (SELECT cast(ts AS DATE) AS day,
        |             cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
        |             cast(count(*) AS BIGINT) AS tot
        |           FROM events GROUP BY 1),
        |w AS (SELECT day, err, tot,
        |        cast(sum(err) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS err7,
        |        cast(sum(tot) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS tot7,
        |        cast(count(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS nw
        |      FROM d)
        |SELECT day, err, tot,
        |       cast(floor(err * 10000e0 / tot) AS BIGINT) AS rate_1d_bp,
        |       cast(floor(err7 * 10000e0 / tot7) AS BIGINT) AS rate_7d_bp,
        |       CASE WHEN err * 1000 > 144 * tot THEN 1 ELSE 0 END AS alert_fast,
        |       CASE WHEN nw = 7 AND err7 * 100 > 6 * tot7 THEN 1 ELSE 0 END AS alert_slow
        |FROM w ORDER BY day""".stripMargin),

    // Zone-map (min/max) file-pruning census — the SQL oracle twin of
    // the native skip surface (sources/SkipIndex file manifest, x242
    // bloom skipping): partition lineitem into file-sized buckets by
    // orderkey range, keep each bucket's min/max shipdate "zone map",
    // and count how many files a ship-date range predicate can skip
    // WITHOUT opening, plus the exact row savings. All integers; the
    // zone-map table is manifest-sized (one row per file) — the thing a
    // 100 TB scan planner actually reads.
    q("x295_zonemap_prune",
      """WITH f AS (SELECT cast(floor(l_orderkey / 1500e0) AS BIGINT) AS file_id,
        |                  min(l_shipdate) AS mn, max(l_shipdate) AS mx,
        |                  cast(count(*) AS BIGINT) AS rows_in_file
        |           FROM lineitem GROUP BY 1),
        |p AS (SELECT file_id, rows_in_file,
        |             CASE WHEN mx < TIMESTAMP '1997-01-01 00:00:00'
        |                    OR mn >= TIMESTAMP '1998-01-01 00:00:00'
        |                  THEN 1 ELSE 0 END AS pruned
        |      FROM f)
        |SELECT cast(count(*) AS BIGINT) AS n_files,
        |       cast(sum(pruned) AS BIGINT) AS files_pruned,
        |       cast(sum(CASE WHEN pruned = 1 THEN rows_in_file ELSE 0 END) AS BIGINT) AS rows_skipped,
        |       cast(sum(CASE WHEN pruned = 0 THEN rows_in_file ELSE 0 END) AS BIGINT) AS rows_scanned,
        |       cast(sum(rows_in_file) AS BIGINT) AS rows_total
        |FROM p""".stripMargin),

    // MTBF / MTTR over the per-user event stream (errors = failures,
    // next non-error event = recovery): the reliability twin of x139's
    // generic runs. Gaps are exact integer microseconds; the recovery
    // lookup is a FOLLOWING-frame running min per user (no self-join);
    // output divides exact integer sums once. Users partition the
    // windows — embarrassingly parallel at any scale.
    q("x296_mttr_mtbf",
      """WITH e AS (SELECT user_id, event_type, unix_micros(ts) AS us, event_id FROM events),
        |r AS (SELECT user_id, event_type, us,
        |             min(CASE WHEN event_type <> 'error' THEN us END)
        |               OVER (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ok,
        |             lead(CASE WHEN event_type = 'error' THEN us END)
        |               IGNORE NULLS
        |               OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_err
        |      FROM e),
        |fail AS (SELECT user_id, us, next_ok, next_err FROM r WHERE event_type = 'error')
        |SELECT cast(count(*) AS BIGINT) AS n_failures,
        |       cast(sum(CASE WHEN next_err IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |       cast(floor(sum(CASE WHEN next_err IS NOT NULL THEN next_err - us ELSE 0 END)
        |             / (1000000e0 * nullif(sum(CASE WHEN next_err IS NOT NULL THEN 1 ELSE 0 END), 0)))
        |         AS BIGINT) AS mtbf_secs,
        |       cast(sum(CASE WHEN next_ok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
        |       cast(floor(sum(CASE WHEN next_ok IS NOT NULL THEN next_ok - us ELSE 0 END)
        |             / (1000000e0 * nullif(sum(CASE WHEN next_ok IS NOT NULL THEN 1 ELSE 0 END), 0)))
        |         AS BIGINT) AS mttr_secs
        |FROM fail""".stripMargin,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
        |r AS (SELECT user_id, event_type, us,
        |             min(CASE WHEN event_type <> 'error' THEN us END)
        |               OVER (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ok,
        |             lead(CASE WHEN event_type = 'error' THEN us END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_err
        |      FROM e),
        |fail AS (SELECT user_id, us, next_ok, next_err FROM r WHERE event_type = 'error')
        |SELECT cast(count(*) AS BIGINT) AS n_failures,
        |       cast(sum(CASE WHEN next_err IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |       cast(floor(sum(CASE WHEN next_err IS NOT NULL THEN next_err - us ELSE 0 END)
        |             / (1000000e0 * nullif(sum(CASE WHEN next_err IS NOT NULL THEN 1 ELSE 0 END), 0)))
        |         AS BIGINT) AS mtbf_secs,
        |       cast(sum(CASE WHEN next_ok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
        |       cast(floor(sum(CASE WHEN next_ok IS NOT NULL THEN next_ok - us ELSE 0 END)
        |             / (1000000e0 * nullif(sum(CASE WHEN next_ok IS NOT NULL THEN 1 ELSE 0 END), 0)))
        |         AS BIGINT) AS mttr_secs
        |FROM fail""".stripMargin),

    // Weight-of-Evidence / Information Value per score decile (the
    // credit-scoring feature diagnostic; Siddiqi 2006) — ranks a
    // feature by how separable good/bad outcomes are per bin, the
    // binned complement of x276's MI ranking and x282's target
    // encoding. Bins via global ntile with unique tie-break; WoE/IV are
    // single ln() calls over exact integer count ratios (deterministic
    // doubles), signed → `+ 0e0` normalized. Laplace +1 smoothing keeps
    // ln() in domain on empty cells.
    q("x297_woe_iv",
      """WITH s AS (SELECT vec_id, cast(element_at(embedding, 1) AS DOUBLE) AS score,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS bad FROM embeddings),
        |d AS (SELECT bad, ntile(10) OVER (ORDER BY score, vec_id) AS bin FROM s),
        |b AS (SELECT bin, cast(sum(1 - bad) + 1 AS BIGINT) AS g, cast(sum(bad) + 1 AS BIGINT) AS bd
        |      FROM d GROUP BY 1),
        |t AS (SELECT cast(sum(g) AS BIGINT) AS gt, cast(sum(bd) AS BIGINT) AS bt FROM b)
        |SELECT b.bin, b.g - 1 AS goods, b.bd - 1 AS bads,
        |       round(ln((b.g * 1e0 / t.gt) / (b.bd * 1e0 / t.bt)), 4) + 0e0 AS woe,
        |       round((b.g * 1e0 / t.gt - b.bd * 1e0 / t.bt)
        |             * ln((b.g * 1e0 / t.gt) / (b.bd * 1e0 / t.bt)), 4) + 0e0 AS iv_contrib
        |FROM b CROSS JOIN t ORDER BY b.bin""".stripMargin),

    // Temporal train/test split leakage audit — the ML-data hygiene
    // gate a training pipeline runs before shipping a time-based split:
    // boundary = min day + 20 (deterministic, corpus-relative), train =
    // days ≤ boundary, test = after. Reports, per event type, how much
    // of the test period comes from users already seen in train (user
    // leakage ≠ row leakage — a seen user's test rows are fine for
    // forecasting but poison user-level holdout). Two hash aggs + one
    // broadcast-sized distinct-user semi-join.
    q("x298_split_leakage",
      """WITH b AS (SELECT cast(min(cast(ts AS DATE)) + 20 AS DATE) AS cut FROM events),
        |tr AS (SELECT DISTINCT user_id FROM events, b WHERE cast(ts AS DATE) <= b.cut),
        |te AS (SELECT e.event_type, e.user_id FROM events e, b WHERE cast(e.ts AS DATE) > b.cut)
        |SELECT te.event_type,
        |       cast(count(*) AS BIGINT) AS test_rows,
        |       cast(sum(CASE WHEN tr.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS rows_from_seen_users,
        |       cast(count(DISTINCT te.user_id) AS BIGINT) AS test_users,
        |       cast(count(DISTINCT CASE WHEN tr.user_id IS NOT NULL THEN te.user_id END) AS BIGINT) AS seen_users,
        |       cast(floor(sum(CASE WHEN tr.user_id IS NOT NULL THEN 1 ELSE 0 END) * 10000e0 / count(*)) AS BIGINT) AS leak_bp
        |FROM te LEFT JOIN tr ON te.user_id = tr.user_id
        |GROUP BY te.event_type ORDER BY te.event_type""".stripMargin),

    // Retrieval evaluation (MRR + Recall@5) over the bucketed-ANN
    // candidate shape: queries = every 97th vector, candidates = the
    // query's coarse cell (floor(dim1·8) — the x59 IVF assignment in
    // miniature), ranked by 4dp-rounded cosine with unique tie-break
    // (q43's determinism discipline). Relevance = same label. MRR is
    // summed in exact integer micro-units (floor(1e6/rank)) so no
    // float accumulation crosses a partial-agg boundary. Pair cost =
    // queries × own-cell, the linear ANN-probe shape — the all-pairs
    // exact form stays fenced in x48/x49.
    q("x299_mrr_recall",
      """WITH v AS (SELECT vec_id, embedding, label,
        |                  cast(floor(cast(element_at(embedding, 1) AS DOUBLE) * 8) AS BIGINT) AS cell
        |           FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id % 97 = 0),
        |pr AS (SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS cid, c.label AS cl,
        |              round(cosine_sim(q.embedding, c.embedding), 4) AS sim
        |       FROM q JOIN v c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
        |rk AS (SELECT qid, ql, cl,
        |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        |       FROM pr),
        |fr AS (SELECT qid, min(CASE WHEN ql = cl THEN rn END) AS first_rel FROM rk GROUP BY 1)
        |SELECT cast(count(*) AS BIGINT) AS n_queries,
        |       cast(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_relevant,
        |       cast(sum(CASE WHEN first_rel <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at5,
        |       cast(floor(sum(CASE WHEN first_rel <= 5 THEN 1 ELSE 0 END) * 10000e0 / count(*)) AS BIGINT) AS recall5_bp,
        |       cast(sum(coalesce(cast(floor(1000000e0 / first_rel) AS BIGINT), 0)) AS BIGINT) AS mrr_sum_x1e6,
        |       cast(floor(sum(coalesce(cast(floor(1000000e0 / first_rel) AS BIGINT), 0)) * 1e0 / count(*)) AS BIGINT) AS mrr_x1e6
        |FROM fr""".stripMargin),

    // Monthly revenue drawdown from running peak (the quant
    // max-drawdown shape applied to the revenue level series): peak =
    // running max of monthly revenue, drawdown = how far the current
    // month sits below the best month so far. EXACT integer cents
    // end-to-end — no float ever forms. One month-keyed agg; windows
    // over the month dimension.
    q("x300_drawdown",
      """WITH m AS (SELECT cast(date_trunc('month', o_orderdate) AS DATE) AS month,
        |                  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM orders GROUP BY 1),
        |w AS (SELECT month, cents,
        |             cast(max(cents) OVER (ORDER BY month) AS BIGINT) AS peak
        |      FROM m)
        |SELECT month, cents AS rev_cents, peak AS peak_cents,
        |       cast(peak - cents AS BIGINT) AS drawdown_cents,
        |       cast(floor((peak - cents) * 10000e0 / peak) AS BIGINT) AS drawdown_bp
        |FROM w ORDER BY month""".stripMargin),

    // Small-file compaction planning — the Layout.compact planner's
    // math as an oracle-checked query: files (orderkey-range buckets
    // with their byte-ish weights) are packed into target-size
    // compaction groups by CUMULATIVE-SUM bucketing (group = floor of
    // running size / target) — the deterministic, shuffle-free
    // approximation of bin packing a manifest-scale planner can afford
    // (greedy FFD would need a sequential pass; cumsum-div packs within
    // 1 target of optimal for files ≪ target, which small files are BY
    // DEFINITION here). Output: per-group file count, size, fill ratio.
    q("x302_compaction_plan",
      """WITH f AS (SELECT cast(floor(l_orderkey / 300e0) AS BIGINT) AS file_id,
        |                  cast(count(*) * 64 AS BIGINT) AS kb
        |           FROM lineitem GROUP BY 1),
        |c AS (SELECT file_id, kb,
        |             cast(sum(kb) OVER (ORDER BY file_id) AS BIGINT) AS cum
        |      FROM f),
        |g AS (SELECT file_id, kb, cast(floor((cum - 1) / 16384e0) AS BIGINT) AS grp
        |      FROM c)
        |SELECT grp, cast(count(*) AS BIGINT) AS n_files,
        |       cast(sum(kb) AS BIGINT) AS group_kb,
        |       cast(min(file_id) AS BIGINT) AS first_file,
        |       cast(max(file_id) AS BIGINT) AS last_file,
        |       cast(floor(sum(kb) * 10000e0 / 16384) AS BIGINT) AS fill_bp
        |FROM g GROUP BY grp ORDER BY grp""".stripMargin),

    // Z-order (Morton) locality census — the Layout writer's
    // interleave math oracle-checked in pure integer arithmetic: 8-bit
    // price-bucket × size coordinates interleave into a 16-bit Morton
    // code (explicit per-bit shifts — no UDF), then per z-tile
    // (code div 4096) the census shows BOTH dimensions stay
    // range-coherent inside a tile — the property that lets a z-ordered
    // file layout prune on either column. Dimension-sized throughout.
    q("x303_zorder_locality",
      """WITH p AS (SELECT p_partkey,
        |             least(255, greatest(0, cast(floor((p_retailprice - 900) / 4.5e0) AS BIGINT))) AS x,
        |             least(255, cast(p_size AS BIGINT) * 5) AS y
        |           FROM part),
        |z AS (SELECT p_partkey, x, y,
        |        (shiftright(x,0) & 1) * 1 + (shiftright(y,0) & 1) * 2
        |      + (shiftright(x,1) & 1) * 4 + (shiftright(y,1) & 1) * 8
        |      + (shiftright(x,2) & 1) * 16 + (shiftright(y,2) & 1) * 32
        |      + (shiftright(x,3) & 1) * 64 + (shiftright(y,3) & 1) * 128
        |      + (shiftright(x,4) & 1) * 256 + (shiftright(y,4) & 1) * 512
        |      + (shiftright(x,5) & 1) * 1024 + (shiftright(y,5) & 1) * 2048
        |      + (shiftright(x,6) & 1) * 4096 + (shiftright(y,6) & 1) * 8192
        |      + (shiftright(x,7) & 1) * 16384 + (shiftright(y,7) & 1) * 32768 AS zcode
        |      FROM p)
        |SELECT cast(floor(zcode / 4096e0) AS BIGINT) AS z_tile,
        |       cast(count(*) AS BIGINT) AS parts,
        |       cast(min(x) AS BIGINT) AS x_min, cast(max(x) AS BIGINT) AS x_max,
        |       cast(min(y) AS BIGINT) AS y_min, cast(max(y) AS BIGINT) AS y_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH p AS (SELECT p_partkey,
        |             least(255, greatest(0, cast(floor((p_retailprice - 900) / 4.5e0) AS BIGINT))) AS x,
        |             least(255, cast(p_size AS BIGINT) * 5) AS y
        |           FROM part),
        |z AS (SELECT p_partkey, x, y,
        |        ((x >> 0) & 1) * 1 + ((y >> 0) & 1) * 2
        |      + ((x >> 1) & 1) * 4 + ((y >> 1) & 1) * 8
        |      + ((x >> 2) & 1) * 16 + ((y >> 2) & 1) * 32
        |      + ((x >> 3) & 1) * 64 + ((y >> 3) & 1) * 128
        |      + ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512
        |      + ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048
        |      + ((x >> 6) & 1) * 4096 + ((y >> 6) & 1) * 8192
        |      + ((x >> 7) & 1) * 16384 + ((y >> 7) & 1) * 32768 AS zcode
        |      FROM p)
        |SELECT cast(floor(zcode / 4096e0) AS BIGINT) AS z_tile,
        |       cast(count(*) AS BIGINT) AS parts,
        |       cast(min(x) AS BIGINT) AS x_min, cast(max(x) AS BIGINT) AS x_max,
        |       cast(min(y) AS BIGINT) AS y_min, cast(max(y) AS BIGINT) AS y_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),

    // Top session journey prefixes: each 30-minute-gap session's first
    // three event types as an ordered path string (q31's session
    // definition, x187's Markov transitions generalized to 3-step
    // journeys), census of the most-travelled openings. Sessions
    // partition per user; the path build is two windows + one agg —
    // no self-join, user-parallel at any scale.
    q("x304_session_paths",
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |             CASE WHEN unix_micros(ts) - lag(unix_micros(ts))
        |                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                  THEN 1 ELSE 0 END AS new_s
        |           FROM events),
        |sid AS (SELECT user_id, ts, event_id, event_type,
        |               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
        |        FROM s),
        |rk AS (SELECT user_id, sess, event_type,
        |              row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) AS rn
        |       FROM sid),
        |p AS (SELECT user_id, sess,
        |             max(CASE WHEN rn = 1 THEN event_type END) AS e1,
        |             max(CASE WHEN rn = 2 THEN event_type END) AS e2,
        |             max(CASE WHEN rn = 3 THEN event_type END) AS e3
        |      FROM rk WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT concat(e1, '>', coalesce(e2, '.'), '>', coalesce(e3, '.')) AS path,
        |       cast(count(*) AS BIGINT) AS sessions
        |FROM p GROUP BY 1 ORDER BY sessions DESC, path LIMIT 15""".stripMargin),

    // A/B test power analysis per event type: minimum per-arm sample
    // size to detect a 5%-of-mean shift at α=0.05 two-sided, power 0.8
    // — n = (z_α/2 + z_β)²·2σ²/δ² with the z constants as literals
    // (1.96 + 0.84 ⇒ multiplier 15.68). σ² comes from EXACT integer
    // centi-unit sums (n·Σx² − (Σx)²)/(n(n−1)) — one deterministic
    // double division, no float accumulation order anywhere — and δ in
    // the same centi-units, so the ceil() boundary is engine-stable.
    q("x306_power_analysis",
      """WITH s AS (SELECT event_type,
        |             cast(count(*) AS BIGINT) AS n,
        |             cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS su,
        |             cast(sum(cast(round(value * 100) AS BIGINT)
        |                      * cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sq
        |           FROM events GROUP BY 1)
        |SELECT event_type, n,
        |       round(su * 1e0 / (100 * n), 4) AS mean_value,
        |       round((n * sq - su * su) * 1e0 / (n * (n - 1e0)) / 10000, 4) AS variance,
        |       cast(ceil(15.6816e0 * 2e0 * ((n * sq - su * su) * 1e0 / (n * (n - 1e0)))
        |                 / ((su * 1e0 / (20 * n)) * (su * 1e0 / (20 * n)))) AS BIGINT) AS n_per_arm
        |FROM s ORDER BY event_type""".stripMargin),

    // Bloom-filter false-positive calibration — the measured-vs-
    // analytic check behind the native bloom skip source (x242):
    // members (even partkeys) insert k=3 md5-slice positions into an
    // m=8192-bit filter; non-members (odd partkeys) probe all three;
    // a false positive needs ALL k positions set. Measured FPR must
    // sit near the analytic (1 − e^(−kn/m))^k — both reported in bp,
    // the analytic one from one deterministic closed-form double.
    // The bit table is m-bounded; probes join it k times by position —
    // manifest-sized work, the same shape the real filter's
    // serialized bitset uses.
    q("x307_bloom_fpr",
      """WITH mem AS (SELECT p_partkey AS k FROM part WHERE p_partkey % 2 = 0),
        |pos AS (SELECT DISTINCT pos FROM (
        |    SELECT cast(conv(substr(md5(cast(k AS STRING)),1,8),16,10) AS BIGINT) % 8192 AS pos FROM mem
        |    UNION ALL
        |    SELECT cast(conv(substr(md5(cast(k AS STRING)),9,8),16,10) AS BIGINT) % 8192 FROM mem
        |    UNION ALL
        |    SELECT cast(conv(substr(md5(cast(k AS STRING)),17,8),16,10) AS BIGINT) % 8192 FROM mem) u),
        |pr AS (SELECT p_partkey AS k,
        |         cast(conv(substr(md5(cast(p_partkey AS STRING)),1,8),16,10) AS BIGINT) % 8192 AS h1,
        |         cast(conv(substr(md5(cast(p_partkey AS STRING)),9,8),16,10) AS BIGINT) % 8192 AS h2,
        |         cast(conv(substr(md5(cast(p_partkey AS STRING)),17,8),16,10) AS BIGINT) % 8192 AS h3
        |       FROM part WHERE p_partkey % 2 = 1),
        |hit AS (SELECT pr.k,
        |          CASE WHEN b1.pos IS NOT NULL AND b2.pos IS NOT NULL AND b3.pos IS NOT NULL
        |               THEN 1 ELSE 0 END AS fp
        |        FROM pr LEFT JOIN pos b1 ON pr.h1 = b1.pos
        |                LEFT JOIN pos b2 ON pr.h2 = b2.pos
        |                LEFT JOIN pos b3 ON pr.h3 = b3.pos),
        |n AS (SELECT cast(count(*) AS BIGINT) AS members FROM mem),
        |bs AS (SELECT cast(count(*) AS BIGINT) AS bits_set FROM pos)
        |SELECT n.members, bs.bits_set,
        |       cast(count(*) AS BIGINT) AS probes,
        |       cast(sum(fp) AS BIGINT) AS false_positives,
        |       cast(floor(sum(fp) * 10000e0 / count(*)) AS BIGINT) AS fpr_bp,
        |       cast(floor(power(1e0 - exp(-3e0 * n.members / 8192), 3) * 10000) AS BIGINT) AS expected_fpr_bp
        |FROM hit CROSS JOIN n CROSS JOIN bs
        |GROUP BY n.members, bs.bits_set""".stripMargin),

    // Benjamini-Hochberg FDR over the per-type mean-shift z tests
    // (each event type's value mean vs the rest, Welch z from EXACT
    // integer centi-unit sums — x306's moment discipline). The normal
    // tail needs Φ, which neither engine ships as SQL — both dialects
    // evaluate the SAME Abramowitz-Stegun 7.1.26 erf polynomial
    // (literals + one exp), so p-values are identical doubles. BH
    // step-up: reject H_(i) when p_(i) ≤ (i/m)·α, α=0.05, via the
    // running-max significance rule (largest i wins ⇒ max over
    // suffix). Multiple-testing control as a query — the alerting
    // layer every per-segment metric sweep needs.
    q("x308_bh_fdr",
      """WITH s AS (SELECT event_type,
        |             cast(count(*) AS BIGINT) AS n,
        |             cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS su,
        |             cast(sum(cast(round(value * 100) AS BIGINT)
        |                      * cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sq
        |           FROM events GROUP BY 1),
        |t AS (SELECT cast(sum(n) AS BIGINT) AS nt, cast(sum(su) AS BIGINT) AS sut,
        |             cast(sum(sq) AS BIGINT) AS sqt, cast(count(*) AS BIGINT) AS m FROM s),
        |z AS (SELECT s.event_type, s.n, t.m,
        |        abs( (s.su * 1e0 / s.n - (t.sut - s.su) * 1e0 / (t.nt - s.n))
        |           / sqrt( ((s.n * s.sq - s.su * s.su) * 1e0 / (s.n * (s.n - 1e0))) / s.n
        |                 + (((t.nt - s.n) * (t.sqt - s.sq) - (t.sut - s.su) * (t.sut - s.su) * 1e0)
        |                    / ((t.nt - s.n) * (t.nt - s.n - 1e0))) / (t.nt - s.n) ) ) AS az
        |      FROM s CROSS JOIN t),
        |p AS (SELECT event_type, n, m, az,
        |        2e0 * (1e0 - 0.5e0 * (1e0 +
        |          (1e0 - ( 0.254829592e0 * (1e0 / (1e0 + 0.3275911e0 * (az / 1.4142135623730951e0)))
        |                 - 0.284496736e0 * power(1e0 / (1e0 + 0.3275911e0 * (az / 1.4142135623730951e0)), 2)
        |                 + 1.421413741e0 * power(1e0 / (1e0 + 0.3275911e0 * (az / 1.4142135623730951e0)), 3)
        |                 - 1.453152027e0 * power(1e0 / (1e0 + 0.3275911e0 * (az / 1.4142135623730951e0)), 4)
        |                 + 1.061405429e0 * power(1e0 / (1e0 + 0.3275911e0 * (az / 1.4142135623730951e0)), 5)
        |                 ) * exp(-(az / 1.4142135623730951e0) * (az / 1.4142135623730951e0))))) AS pval
        |      FROM z),
        |r AS (SELECT event_type, az, pval,
        |             row_number() OVER (ORDER BY pval, event_type) AS i, m
        |      FROM p),
        |bh AS (SELECT event_type, az, pval, i, m,
        |              CASE WHEN pval * m <= 0.05e0 * i THEN 1 ELSE 0 END AS below_line
        |       FROM r),
        |mx AS (SELECT event_type, az, pval, i,
        |              max(CASE WHEN below_line = 1 THEN i ELSE 0 END) OVER () AS imax
        |       FROM bh)
        |SELECT event_type, round(az, 4) AS abs_z, round(pval, 4) AS p_value,
        |       cast(i AS BIGINT) AS p_rank,
        |       CASE WHEN i <= imax THEN 1 ELSE 0 END AS rejected
        |FROM mx ORDER BY p_rank""".stripMargin),

    // Hyndman strength-of-trend / strength-of-seasonality on x268's
    // additive components: F_T = max(0, 1 − Var(R)/Var(T+R)),
    // F_S = max(0, 1 − Var(R)/Var(S+R)). Components are x268's
    // deterministic per-row doubles; the two variances aggregate a
    // 24-row day frame (the x124 float-variance class, rounded 4dp).
    q("x309_seasonal_strength",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |t AS (SELECT day, c,
        |        cast(sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS trend_x7,
        |        count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
        |        weekday(day) AS wd
        |      FROM d),
        |f AS (SELECT day, c, trend_x7, wd FROM t WHERE wn = 7),
        |s AS (SELECT wd, cast(sum(7*c - trend_x7) AS BIGINT) AS seas_sum_x7,
        |             cast(count(*) AS BIGINT) AS n_w
        |      FROM f GROUP BY 1),
        |comp AS (SELECT f.day,
        |           s.seas_sum_x7 * 1e0 / (7 * s.n_w) AS seas,
        |           f.c - f.trend_x7 / 7e0 - s.seas_sum_x7 * 1e0 / (7 * s.n_w) AS resid,
        |           f.c - s.seas_sum_x7 * 1e0 / (7 * s.n_w) AS detrended_plus_r,
        |           f.c - f.trend_x7 / 7e0 AS deseason_plus_r
        |         FROM f JOIN s ON f.wd = s.wd)
        |SELECT cast(count(*) AS BIGINT) AS n_days,
        |       round(greatest(0e0, 1e0 - var_samp(resid) / var_samp(detrended_plus_r)), 4) + 0e0 AS trend_strength,
        |       round(greatest(0e0, 1e0 - var_samp(resid) / var_samp(deseason_plus_r)), 4) + 0e0 AS seasonal_strength
        |FROM comp""".stripMargin,
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |t AS (SELECT day, c,
        |        cast(sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS trend_x7,
        |        count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
        |        isodow(day) - 1 AS wd
        |      FROM d),
        |f AS (SELECT day, c, trend_x7, wd FROM t WHERE wn = 7),
        |s AS (SELECT wd, cast(sum(7*c - trend_x7) AS BIGINT) AS seas_sum_x7,
        |             cast(count(*) AS BIGINT) AS n_w
        |      FROM f GROUP BY 1),
        |comp AS (SELECT f.day,
        |           s.seas_sum_x7 * 1e0 / (7 * s.n_w) AS seas,
        |           f.c - f.trend_x7 / 7e0 - s.seas_sum_x7 * 1e0 / (7 * s.n_w) AS resid,
        |           f.c - s.seas_sum_x7 * 1e0 / (7 * s.n_w) AS detrended_plus_r,
        |           f.c - f.trend_x7 / 7e0 AS deseason_plus_r
        |         FROM f JOIN s ON f.wd = s.wd)
        |SELECT cast(count(*) AS BIGINT) AS n_days,
        |       round(greatest(0e0, 1e0 - var_samp(resid) / var_samp(detrended_plus_r)), 4) + 0e0 AS trend_strength,
        |       round(greatest(0e0, 1e0 - var_samp(resid) / var_samp(deseason_plus_r)), 4) + 0e0 AS seasonal_strength
        |FROM comp""".stripMargin),

    // Chapman capture-recapture population estimate: the week-1 and
    // week-2 active-user sets are the two "captures"; the overlap
    // estimates the true population N̂ = (n1+1)(n2+1)/(m+1) − 1 — the
    // bias-corrected Lincoln-Petersen form, all-integer until one
    // floor. The estimator every coverage question ("how many users
    // exist that we never see?") reduces to.
    q("x310_capture_recapture",
      """WITH b AS (SELECT cast(min(cast(ts AS DATE)) AS DATE) AS d0 FROM events),
        |w1 AS (SELECT DISTINCT user_id FROM events, b
        |       WHERE cast(ts AS DATE) >= b.d0 AND cast(ts AS DATE) < b.d0 + 7),
        |w2 AS (SELECT DISTINCT user_id FROM events, b
        |       WHERE cast(ts AS DATE) >= b.d0 + 7 AND cast(ts AS DATE) < b.d0 + 14),
        |m AS (SELECT cast(count(*) AS BIGINT) AS recaptured
        |      FROM w1 JOIN w2 ON w1.user_id = w2.user_id),
        |c AS (SELECT (SELECT cast(count(*) AS BIGINT) FROM w1) AS n1,
        |             (SELECT cast(count(*) AS BIGINT) FROM w2) AS n2,
        |             (SELECT recaptured FROM m) AS m)
        |SELECT n1, n2, m,
        |       cast(floor((n1 + 1) * (n2 + 1) * 1e0 / (m + 1)) - 1 AS BIGINT) AS n_hat,
        |       cast(floor(m * 10000e0 / n2) AS BIGINT) AS recapture_bp
        |FROM c""".stripMargin),

    // Month-over-month customer churn matrix: per consecutive month
    // pair, customers retained / churned / new via one FULL OUTER join
    // of month-customer sets — the subscription-analytics staple,
    // pure integers.
    q("x311_churn_matrix",
      """WITH mc AS (SELECT DISTINCT cast(date_trunc('month', o_orderdate) AS DATE) AS month,
        |                            o_custkey FROM orders),
        |mm AS (SELECT DISTINCT month FROM mc),
        |pairs AS (SELECT a.month AS m0, min(b.month) AS m1
        |          FROM mm a JOIN mm b ON b.month > a.month GROUP BY a.month),
        |j AS (SELECT p.m0, p.m1, cur.o_custkey AS c0, nxt.o_custkey AS c1
        |      FROM pairs p
        |      LEFT JOIN mc cur ON cur.month = p.m0
        |      FULL OUTER JOIN mc nxt ON nxt.month = p.m1 AND nxt.o_custkey = cur.o_custkey
        |      WHERE cur.month = p.m0 OR nxt.month = p.m1)
        |SELECT m0 AS month, m1 AS next_month,
        |       cast(sum(CASE WHEN c0 IS NOT NULL AND c1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |       cast(sum(CASE WHEN c0 IS NOT NULL AND c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS churned,
        |       cast(sum(CASE WHEN c0 IS NULL AND c1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_custs,
        |       cast(floor(sum(CASE WHEN c0 IS NOT NULL AND c1 IS NULL THEN 1 ELSE 0 END) * 10000e0
        |             / nullif(sum(CASE WHEN c0 IS NOT NULL THEN 1 ELSE 0 END), 0)) AS BIGINT) AS churn_bp
        |FROM j GROUP BY m0, m1 ORDER BY m0""".stripMargin),

    // Decision-stump split search on the first embedding dimension:
    // candidate thresholds = the 9 interior decile boundaries; for
    // each, the label<5 Gini impurity of the two sides from EXACT
    // integer counts (impurity doubles are single-shot from those
    // ints). Output every candidate with its weighted impurity and
    // gain vs the root — the one-feature CART step, oracle-checkable.
    q("x312_decision_stump",
      """WITH s AS (SELECT vec_id, cast(element_at(embedding, 1) AS DOUBLE) AS score,
        |                  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |d AS (SELECT y, ntile(10) OVER (ORDER BY score, vec_id) AS bin FROM s),
        |b AS (SELECT bin, cast(count(*) AS BIGINT) AS n, cast(sum(y) AS BIGINT) AS pos
        |      FROM d GROUP BY 1),
        |c AS (SELECT bin, n, pos,
        |             cast(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |             cast(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp,
        |             cast(sum(n) OVER () AS BIGINT) AS nt,
        |             cast(sum(pos) OVER () AS BIGINT) AS pt
        |      FROM b),
        |g AS (SELECT bin AS split_after, cn, cp, nt, pt,
        |        (cn * 1e0 / nt) * (1e0 - (cp * 1e0 / cn) * (cp * 1e0 / cn)
        |                               - ((cn - cp) * 1e0 / cn) * ((cn - cp) * 1e0 / cn))
        |      + ((nt - cn) * 1e0 / nt) * (1e0 - ((pt - cp) * 1e0 / (nt - cn)) * ((pt - cp) * 1e0 / (nt - cn))
        |                               - ((nt - cn - pt + cp) * 1e0 / (nt - cn)) * ((nt - cn - pt + cp) * 1e0 / (nt - cn))) AS gini_split,
        |        1e0 - (pt * 1e0 / nt) * (pt * 1e0 / nt)
        |            - ((nt - pt) * 1e0 / nt) * ((nt - pt) * 1e0 / nt) AS gini_root
        |      FROM c WHERE bin < 10)
        |SELECT split_after, cast(cn AS BIGINT) AS n_left, cast(cp AS BIGINT) AS pos_left,
        |       round(gini_split, 4) AS gini_split,
        |       round(gini_root - gini_split, 4) + 0e0 AS gain
        |FROM g ORDER BY split_after""".stripMargin),

    // Temporal PSI drift per event type: Population Stability Index of
    // the value distribution, first half vs second half of the
    // observation window, over 10 FIXED value bins with +1 Laplace
    // smoothing (the temporal complement of x190's cross-source bucket
    // drift). PSI = Σ(p−q)·ln(p/q); >0.2 is the conventional
    // "significant shift" flag, emitted as an integer comparison on
    // the rounded micro-PSI.
    q("x313_temporal_psi",
      """WITH b AS (SELECT cast(min(cast(ts AS DATE)) + 15 AS DATE) AS cut FROM events),
        |e AS (SELECT event_type,
        |             CASE WHEN cast(ts AS DATE) <= b.cut THEN 0 ELSE 1 END AS half,
        |             least(9, greatest(0, cast(floor(value / 100e0) AS BIGINT))) AS bin
        |      FROM events, b),
        |c AS (SELECT event_type, bin,
        |             cast(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS a_n,
        |             cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS b_n
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, cast(sum(a_n) AS BIGINT) AS at, cast(sum(b_n) AS BIGINT) AS bt
        |      FROM c GROUP BY 1),
        |psi AS (SELECT c.event_type,
        |          sum((c.a_n * 1e0 / t.at - c.b_n * 1e0 / t.bt)
        |              * ln((c.a_n * 1e0 / t.at) / (c.b_n * 1e0 / t.bt))) AS psi
        |        FROM c JOIN t ON c.event_type = t.event_type GROUP BY c.event_type)
        |SELECT event_type, round(psi, 4) + 0e0 AS psi,
        |       cast(round(psi * 1000000) AS BIGINT) AS psi_x1e6,
        |       CASE WHEN round(psi * 1000000) > 200000 THEN 1 ELSE 0 END AS drifted
        |FROM psi ORDER BY event_type""".stripMargin),

    // Cohort lifetime-value curve: per signup-quarter cohort, revenue
    // by quarter offset and the cumulative LTV — EXACT integer cents
    // (x82's retention triangle counts heads; this follows the money).
    // Quarter arithmetic via year()/quarter() — identical on both
    // engines, no interval math.
    q("x314_cohort_ltv",
      """WITH o AS (SELECT o_custkey, cast(round(o_totalprice * 100) AS BIGINT) AS cents,
        |                  cast(date_trunc('quarter', o_orderdate) AS DATE) AS q FROM orders),
        |c AS (SELECT o_custkey, min(q) AS cq FROM o GROUP BY 1),
        |j AS (SELECT c.cq AS cohort,
        |             (year(o.q) - year(c.cq)) * 4 + (quarter(o.q) - quarter(c.cq)) AS off,
        |             o.cents
        |      FROM o JOIN c ON o.o_custkey = c.o_custkey),
        |g AS (SELECT cohort, cast(off AS BIGINT) AS quarter_offset,
        |             cast(sum(cents) AS BIGINT) AS rev_cents,
        |             cast(count(*) AS BIGINT) AS orders
        |      FROM j GROUP BY 1, 2)
        |SELECT cohort, quarter_offset, orders, rev_cents,
        |       cast(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY quarter_offset) AS BIGINT) AS cum_ltv_cents
        |FROM g ORDER BY cohort, quarter_offset""".stripMargin),

    // Duplicate-group size distribution (frequency of frequencies) on
    // x47's exact-dup key — the dedup REPORT a corpus owner reads:
    // how many groups of each size, how many docs they hold, and the
    // rows removable by keep-first. Two hash aggs, any scale.
    q("x315_dup_size_dist",
      """WITH k AS (SELECT doc_id,
        |  md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key
        |  FROM documents),
        |g AS (SELECT key, cast(count(*) AS BIGINT) AS sz FROM k GROUP BY 1)
        |SELECT sz AS group_size, cast(count(*) AS BIGINT) AS n_groups,
        |       cast(sz * count(*) AS BIGINT) AS docs,
        |       cast((sz - 1) * count(*) AS BIGINT) AS removable
        |FROM g GROUP BY sz ORDER BY sz""".stripMargin),

    // Order-to-ship cycle-time percentiles per priority — the ops SLA
    // distribution (x263's OTIF counts attainment; this shows the
    // latency shape): integer day lags, exact discrete percentiles.
    q("x316_cycle_time",
      """SELECT o.o_orderpriority AS prio,
        |       cast(count(*) AS BIGINT) AS n,
        |       cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY datediff(l.l_shipdate, o.o_orderdate)) AS BIGINT) AS p50_days,
        |       cast(percentile_disc(0.9) WITHIN GROUP (ORDER BY datediff(l.l_shipdate, o.o_orderdate)) AS BIGINT) AS p90_days,
        |       cast(percentile_disc(0.99) WITHIN GROUP (ORDER BY datediff(l.l_shipdate, o.o_orderdate)) AS BIGINT) AS p99_days,
        |       cast(max(datediff(l.l_shipdate, o.o_orderdate)) AS BIGINT) AS max_days
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      """SELECT o.o_orderpriority AS prio,
        |       cast(count(*) AS BIGINT) AS n,
        |       cast(quantile_disc(datediff('day', o.o_orderdate, l.l_shipdate), 0.5) AS BIGINT) AS p50_days,
        |       cast(quantile_disc(datediff('day', o.o_orderdate, l.l_shipdate), 0.9) AS BIGINT) AS p90_days,
        |       cast(quantile_disc(datediff('day', o.o_orderdate, l.l_shipdate), 0.99) AS BIGINT) AS p99_days,
        |       cast(max(datediff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT) AS max_days
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Wald-Wolfowitz runs test on the daily up/down move sequence —
    // "is the series random, or do moves cluster?" (the independence
    // complement of x291's monotone-trend test). Runs, n⁺, n⁻ are
    // EXACT integers from one lag window; μ_R and σ_R are closed-form
    // rationals of those integers; only the final z divides once.
    // Zero-change days are excluded (the standard treatment).
    q("x317_runs_test",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |m AS (SELECT day, c - lag(c) OVER (ORDER BY day) AS diff FROM d),
        |s AS (SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sgn
        |      FROM m WHERE diff IS NOT NULL AND diff <> 0),
        |r AS (SELECT day, sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM s),
        |agg AS (SELECT cast(sum(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END) AS BIGINT) AS runs,
        |               cast(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |               cast(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn
        |        FROM r)
        |SELECT runs, n_up, n_dn,
        |       round(1e0 + 2e0 * n_up * n_dn / (n_up + n_dn), 4) AS mu_runs,
        |       round((runs - (1e0 + 2e0 * n_up * n_dn / (n_up + n_dn)))
        |             / sqrt(2e0 * n_up * n_dn * (2e0 * n_up * n_dn - n_up - n_dn)
        |                    / ((n_up + n_dn) * (n_up + n_dn) * (n_up + n_dn - 1e0))), 4) + 0e0 AS z
        |FROM agg""".stripMargin),

    // Ljung-Box portmanteau test: Q = n(n+2)·Σ_{k≤5} ρ̂_k²/(n−k) over
    // the daily-count series — "is ANY of the first five
    // autocorrelations nonzero?" (the joint complement of x213's
    // per-lag ACFs). The χ²₅ 0.05 critical value (11.07) ships as a
    // literal; the flag compares the rounded micro-Q as integers.
    q("x318_ljung_box",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |l AS (SELECT c, lag(c, 1) OVER (ORDER BY day) AS c1, lag(c, 2) OVER (ORDER BY day) AS c2,
        |             lag(c, 3) OVER (ORDER BY day) AS c3, lag(c, 4) OVER (ORDER BY day) AS c4,
        |             lag(c, 5) OVER (ORDER BY day) AS c5 FROM d),
        |a AS (SELECT cast((SELECT count(*) FROM d) AS BIGINT) AS n,
        |             corr(c, c1) AS r1, corr(c, c2) AS r2, corr(c, c3) AS r3,
        |             corr(c, c4) AS r4, corr(c, c5) AS r5 FROM l)
        |SELECT n,
        |       round(n * (n + 2e0) * (r1*r1/(n-1) + r2*r2/(n-2) + r3*r3/(n-3)
        |                            + r4*r4/(n-4) + r5*r5/(n-5)), 4) AS q_stat,
        |       CASE WHEN round(n * (n + 2e0) * (r1*r1/(n-1) + r2*r2/(n-2) + r3*r3/(n-3)
        |                  + r4*r4/(n-4) + r5*r5/(n-5)) * 1000000) > 11070000
        |            THEN 1 ELSE 0 END AS autocorrelated
        |FROM a""".stripMargin),

    // Heaps' law exponent per source: vocabulary size V(N) ≈ K·N^β on
    // cumulative token counts — β estimated by the closed-form OLS
    // slope over (ln N_i, ln V_i) at per-doc checkpoints. The running
    // vocabulary is a cumulative count-distinct expressed as "first
    // time this term appears in this source" (one window over the
    // term's first doc), so no quadratic state; regr_slope is the same
    // closed form on both engines. The LLM-data question it answers:
    // how fast does each source keep minting new tokens?
    q("x319_heaps_law",
      """WITH w AS (SELECT source, doc_id, t FROM (
        |        SELECT source, doc_id, explode(split(lower(text), ' ')) AS t FROM documents)
        |      WHERE t <> ''),
        |tok AS (SELECT source, doc_id, cast(count(*) AS BIGINT) AS toks FROM w GROUP BY 1, 2),
        |ft AS (SELECT source, t, min(doc_id) AS first_doc FROM w GROUP BY 1, 2),
        |nv AS (SELECT source, first_doc AS doc_id, cast(count(*) AS BIGINT) AS new_terms
        |       FROM ft GROUP BY 1, 2),
        |cum AS (SELECT tok.source, tok.doc_id,
        |          cast(sum(tok.toks) OVER (PARTITION BY tok.source ORDER BY tok.doc_id) AS BIGINT) AS cum_toks,
        |          cast(sum(coalesce(nv.new_terms, 0)) OVER (PARTITION BY tok.source ORDER BY tok.doc_id) AS BIGINT) AS cum_vocab
        |        FROM tok LEFT JOIN nv ON tok.source = nv.source AND tok.doc_id = nv.doc_id)
        |SELECT source,
        |       cast(count(*) AS BIGINT) AS checkpoints,
        |       cast(max(cum_toks) AS BIGINT) AS total_tokens,
        |       cast(max(cum_vocab) AS BIGINT) AS vocabulary,
        |       round(regr_slope(ln(cum_vocab * 1e0), ln(cum_toks * 1e0)), 4) + 0e0 AS heaps_beta
        |FROM cum GROUP BY source ORDER BY source""".stripMargin),

    // Two-level binary segmentation: x247 finds the best single split;
    // this recurses ONE level — the best sub-split inside each side of
    // the level-1 cut (5-day minimum segments throughout), emitting
    // all three change points ranked. Same exact-integer objective
    // (S²/n maximization); the windows re-partition by side, still
    // day-dimension work at any corpus scale.
    q("x320_binary_segmentation",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c,
        |        cast(sum(c) OVER (ORDER BY day) AS BIGINT) AS s1,
        |        cast(count(*) OVER (ORDER BY day) AS BIGINT) AS n1,
        |        cast(sum(c) OVER () AS BIGINT) AS st,
        |        cast(count(*) OVER () AS BIGINT) AS nt
        |      FROM d),
        |lvl1 AS (SELECT day AS cut1 FROM (
        |    SELECT day, (s1*1e0*s1)/n1 + ((st-s1)*1e0*(st-s1))/(nt-n1) AS score
        |    FROM w WHERE n1 >= 5 AND nt - n1 >= 5
        |    ORDER BY score DESC, day LIMIT 1) t),
        |sided AS (SELECT w.day, w.c,
        |            CASE WHEN w.day <= l.cut1 THEN 0 ELSE 1 END AS side
        |          FROM w CROSS JOIN lvl1 l),
        |sw AS (SELECT day, c, side,
        |         cast(sum(c) OVER (PARTITION BY side ORDER BY day) AS BIGINT) AS s1,
        |         cast(count(*) OVER (PARTITION BY side ORDER BY day) AS BIGINT) AS n1,
        |         cast(sum(c) OVER (PARTITION BY side) AS BIGINT) AS st,
        |         cast(count(*) OVER (PARTITION BY side) AS BIGINT) AS nt
        |       FROM sided),
        |lvl2 AS (SELECT side, day, score, rn FROM (
        |    SELECT side, day,
        |           (s1*1e0*s1)/n1 + ((st-s1)*1e0*(st-s1))/(nt-n1) AS score,
        |           row_number() OVER (PARTITION BY side
        |             ORDER BY (s1*1e0*s1)/n1 + ((st-s1)*1e0*(st-s1))/(nt-n1) DESC, day) AS rn
        |    FROM sw WHERE n1 >= 5 AND nt - n1 >= 5) t WHERE rn = 1)
        |SELECT cast(0 AS BIGINT) AS level, cut1 AS split_after,
        |       cast(-1 AS BIGINT) AS side FROM lvl1
        |UNION ALL
        |SELECT cast(1 AS BIGINT), day, cast(side AS BIGINT) FROM lvl2
        |ORDER BY level, side""".stripMargin),

    // Log-log price elasticity per brand: regr_slope of ln(quantity)
    // on ln(unit price) across a brand's parts (aggregated demand per
    // part first, so the regression sees part-level points, not line
    // items). Closed-form OLS — one deterministic expression per
    // brand; brands with fewer than 5 parts are excluded.
    q("x321_price_elasticity",
      """WITH pp AS (SELECT l_partkey, cast(sum(cast(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |            FROM lineitem GROUP BY 1),
        |j AS (SELECT p.p_brand, pp.qty,
        |             cast(round(p.p_retailprice * 100) AS BIGINT) AS price_c
        |      FROM pp JOIN part p ON pp.l_partkey = p.p_partkey
        |      WHERE pp.qty > 0),
        |b AS (SELECT p_brand, cast(count(*) AS BIGINT) AS n_parts,
        |             regr_slope(ln(qty * 1e0), ln(price_c * 1e0)) AS beta
        |      FROM j GROUP BY 1 HAVING count(*) >= 5)
        |SELECT p_brand, n_parts, round(beta, 4) + 0e0 AS elasticity
        |FROM b ORDER BY p_brand""".stripMargin),

    // Per-user active-days distribution (frequency of frequencies on
    // engagement): how many users were active exactly d days — the
    // engagement histogram x281's labels summarize. Two hash aggs.
    q("x322_active_days_dist",
      """WITH ud AS (SELECT user_id, cast(count(DISTINCT cast(ts AS DATE)) AS BIGINT) AS days
        |            FROM events GROUP BY 1)
        |SELECT days AS active_days, cast(count(*) AS BIGINT) AS users
        |FROM ud GROUP BY days ORDER BY days""".stripMargin),

    // Kendall's τ-a between the daily event count and the daily mean
    // value — the rank-correlation complement of x205's Spearman,
    // computed from EXACT integer concordant/discordant pair counts
    // over the day dimension (C(30,2) pairs; means quantized to
    // micro-units first, x214's discipline, so sign() arguments are
    // exact integers).
    q("x323_kendall_tau",
      """WITH d AS (SELECT cast(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c,
        |                  sum(cast(round(value * 1000000) AS BIGINT)) AS su
        |           FROM events GROUP BY 1),
        |m AS (SELECT day, c, cast(round(su * 1e0 / c) AS BIGINT) AS mu FROM d),
        |p AS (SELECT CASE WHEN (b.c - a.c) * (b.mu - a.mu) > 0 THEN 1 ELSE 0 END AS con,
        |             CASE WHEN (b.c - a.c) * (b.mu - a.mu) < 0 THEN 1 ELSE 0 END AS dis
        |      FROM m a JOIN m b ON a.day < b.day),
        |agg AS (SELECT cast(sum(con) AS BIGINT) AS nc, cast(sum(dis) AS BIGINT) AS nd,
        |               cast(count(*) AS BIGINT) AS np FROM p)
        |SELECT nc AS concordant, nd AS discordant, np AS n_pairs,
        |       round((nc - nd) * 1e0 / np, 4) + 0e0 AS kendall_tau
        |FROM agg""".stripMargin),

    // McNemar's paired test on week-1 vs week-2 user activity (the
    // paired complement of x310's capture-recapture on the SAME two
    // sets): discordant cells b (active→inactive) and c
    // (inactive→active) over the union of users, χ² = (b−c)²/(b+c)
    // in integer ×10000, significance at 3.84 via cross-multiplication
    // — no float anywhere.
    q("x324_mcnemar",
      """WITH bnd AS (SELECT cast(min(cast(ts AS DATE)) AS DATE) AS d0 FROM events),
        |w1 AS (SELECT DISTINCT user_id FROM events, bnd
        |       WHERE cast(ts AS DATE) >= bnd.d0 AND cast(ts AS DATE) < bnd.d0 + 7),
        |w2 AS (SELECT DISTINCT user_id FROM events, bnd
        |       WHERE cast(ts AS DATE) >= bnd.d0 + 7 AND cast(ts AS DATE) < bnd.d0 + 14),
        |u AS (SELECT coalesce(w1.user_id, w2.user_id) AS user_id,
        |             CASE WHEN w1.user_id IS NOT NULL THEN 1 ELSE 0 END AS a1,
        |             CASE WHEN w2.user_id IS NOT NULL THEN 1 ELSE 0 END AS a2
        |      FROM w1 FULL OUTER JOIN w2 ON w1.user_id = w2.user_id),
        |cells AS (SELECT cast(sum(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_active,
        |                 cast(sum(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |                 cast(sum(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |          FROM u)
        |SELECT both_active, b AS dropped, c AS joined,
        |       cast(CASE WHEN b + c = 0 THEN 0
        |                 ELSE ((b - c) * (b - c) * 10000) / (b + c) END AS BIGINT) AS chi2_x10000,
        |       CASE WHEN (b - c) * (b - c) * 100 > 384 * (b + c) THEN 1 ELSE 0 END AS significant
        |FROM cells""".stripMargin,
      """WITH bnd AS (SELECT cast(min(cast(ts AS DATE)) AS DATE) AS d0 FROM events),
        |w1 AS (SELECT DISTINCT user_id FROM events, bnd
        |       WHERE cast(ts AS DATE) >= bnd.d0 AND cast(ts AS DATE) < bnd.d0 + 7),
        |w2 AS (SELECT DISTINCT user_id FROM events, bnd
        |       WHERE cast(ts AS DATE) >= bnd.d0 + 7 AND cast(ts AS DATE) < bnd.d0 + 14),
        |u AS (SELECT coalesce(w1.user_id, w2.user_id) AS user_id,
        |             CASE WHEN w1.user_id IS NOT NULL THEN 1 ELSE 0 END AS a1,
        |             CASE WHEN w2.user_id IS NOT NULL THEN 1 ELSE 0 END AS a2
        |      FROM w1 FULL OUTER JOIN w2 ON w1.user_id = w2.user_id),
        |cells AS (SELECT cast(sum(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_active,
        |                 cast(sum(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |                 cast(sum(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |          FROM u)
        |SELECT both_active, b AS dropped, c AS joined,
        |       cast(CASE WHEN b + c = 0 THEN 0
        |                 ELSE ((b - c) * (b - c) * 10000) // (b + c) END AS BIGINT) AS chi2_x10000,
        |       CASE WHEN (b - c) * (b - c) * 100 > 384 * (b + c) THEN 1 ELSE 0 END AS significant
        |FROM cells""".stripMargin),

    // Conversion lift by session entry type: do sessions that OPEN
    // with a given event type convert (contain a purchase) more often
    // than the rest? Rate and risk-ratio in integer basis points per
    // entry type — the landing-page question over q31's sessions.
    q("x325_entry_conversion",
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |             CASE WHEN unix_micros(ts) - lag(unix_micros(ts))
        |                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                  THEN 1 ELSE 0 END AS new_s
        |           FROM events),
        |sid AS (SELECT user_id, ts, event_id, event_type,
        |               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
        |        FROM s),
        |agg AS (SELECT user_id, sess,
        |          min(CASE WHEN rn = 1 THEN event_type END) AS entry,
        |          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |                         ORDER BY ts, event_id) AS rn FROM sid) t
        |        GROUP BY 1, 2),
        |e AS (SELECT entry, cast(count(*) AS BIGINT) AS sessions,
        |             cast(sum(converted) AS BIGINT) AS conversions FROM agg GROUP BY 1),
        |t AS (SELECT cast(sum(sessions) AS BIGINT) AS st, cast(sum(conversions) AS BIGINT) AS ct FROM e)
        |SELECT e.entry, e.sessions, e.conversions,
        |       cast(floor(e.conversions * 10000e0 / e.sessions) AS BIGINT) AS conv_bp,
        |       cast(floor((e.conversions * 1e0 / e.sessions)
        |             / nullif((t.ct - e.conversions) * 1e0 / nullif(t.st - e.sessions, 0), 0e0) * 10000) AS BIGINT) AS lift_bp
        |FROM e CROSS JOIN t ORDER BY e.entry""".stripMargin),

    // HITS hubs/authorities over x136's nation trade graph — the
    // mutual-reinforcement complement of PageRank (Kleinberg 1999):
    // auth(j) = Σ_{i→j} hub(i)·w, hub(i) = Σ_{i→j} auth(j)·w, each step
    // max-normalized. ALL arithmetic BIGINT micro-units with integer
    // division, so both engines are bit-identical regardless of join
    // order. Overflow bound: scores ≤ 1e6 so per-node sums ≤ 1e6·Σw and
    // the 1e6-normalizer product stays under 2^63 while Σw ≤ 9.2e6 per
    // node — held on the sf0.1 and 10× corpora (SCALE.md §29),
    // and Graph.perMilleWeights pre-shrinks weights for graphs outside
    // it. (Sessions run Spark 4's default ANSI mode, so an overflow
    // raises rather than wraps — but generically; the native tier's
    // guard names the bound and the remedy, and protects ansi=off
    // deployments.) SCALE NOTE (round 11): Spark inlines these CTEs RECURSIVELY —
    // the executed plan carries 33 scan nodes PER fact table — so this
    // declared form is the oracle shape only; the 100 TB path is
    // x327_hits_native (operators/Graph.hits, edge build persisted
    // once, entry overflow guard), which shares this oracle verbatim.
    q("x326_hits_hubs",
      """WITH e AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst, cast(count(*) AS BIGINT) AS w
        |           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |                JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |                JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |           GROUP BY 1, 2),
        |n AS (SELECT n_nationkey AS node FROM nation),
        |h0 AS (SELECT node, cast(1000000 AS BIGINT) AS h FROM n),
        |a1r AS (SELECT n.node, cast(coalesce(sum(h0.h * e.w), 0) AS BIGINT) AS v
        |        FROM n LEFT JOIN e ON e.dst = n.node LEFT JOIN h0 ON h0.node = e.src GROUP BY 1),
        |a1 AS (SELECT node, cast((v * 1000000) div (SELECT max(v) FROM a1r) AS BIGINT) AS a FROM a1r),
        |h1r AS (SELECT n.node, cast(coalesce(sum(a1.a * e.w), 0) AS BIGINT) AS v
        |        FROM n LEFT JOIN e ON e.src = n.node LEFT JOIN a1 ON a1.node = e.dst GROUP BY 1),
        |h1 AS (SELECT node, cast((v * 1000000) div (SELECT max(v) FROM h1r) AS BIGINT) AS h FROM h1r),
        |a2r AS (SELECT n.node, cast(coalesce(sum(h1.h * e.w), 0) AS BIGINT) AS v
        |        FROM n LEFT JOIN e ON e.dst = n.node LEFT JOIN h1 ON h1.node = e.src GROUP BY 1),
        |a2 AS (SELECT node, cast((v * 1000000) div (SELECT max(v) FROM a2r) AS BIGINT) AS a FROM a2r),
        |h2r AS (SELECT n.node, cast(coalesce(sum(a2.a * e.w), 0) AS BIGINT) AS v
        |        FROM n LEFT JOIN e ON e.src = n.node LEFT JOIN a2 ON a2.node = e.dst GROUP BY 1),
        |h2 AS (SELECT node, cast((v * 1000000) div (SELECT max(v) FROM h2r) AS BIGINT) AS h FROM h2r)
        |SELECT h2.node AS nationkey, nat.n_name AS nation, h2.h AS hub_micro, a2.a AS auth_micro
        |FROM h2 JOIN a2 ON a2.node = h2.node JOIN nation nat ON nat.n_nationkey = h2.node
        |ORDER BY 1""".stripMargin),

    // Exact-substring dedup APPLY (r14 — the rewrite half of Lee et al.,
    // completing x147's measurement half): shared 8-token windows are
    // owned by their lowest doc_id (keep-first); every other occurrence
    // merges into disjoint spans (x147's island machinery verbatim) and
    // the covered tokens are CUT, emitting the cleaned text itself —
    // kept tokens rebuilt in position order (array_sort on (j, tok)
    // structs / string_agg ORDER BY — the only order-guaranteed string
    // aggregation each dialect has). Scale shape: windows hash-agg to
    // find owners (keys shuffle, never text), span explode is linear in
    // covered tokens, the rebuild is one per-doc agg; nothing quadratic.
    // Docs with nothing to remove are excluded (their "cleaned" is the
    // identity — the spec asserts that invariant instead of shipping it).
    q("x332_substring_dedup_apply",
      """WITH t AS (SELECT doc_id, split(text,' ') AS w FROM documents WHERE size(split(text,' ')) >= 8),
        |wins AS (SELECT doc_id, i, md5(concat_ws(' ', slice(w, i, 8))) AS h
        |         FROM (SELECT doc_id, w, explode(sequence(1, size(w)-7)) AS i FROM t)),
        |own AS (SELECT h, min(doc_id) AS keeper FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT w.doc_id, w.i AS s, w.i + 8 AS e FROM wins w JOIN own o ON w.h = o.h WHERE w.doc_id > o.keeper),
        |m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM dup),
        |isl AS (SELECT doc_id, s, e, sum(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS g FROM m),
        |mg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g),
        |cov AS (SELECT DISTINCT doc_id, explode(sequence(s, e-1)) AS j FROM mg),
        |tokpos AS (SELECT doc_id, j, element_at(w, cast(j AS INT)) AS tok
        |           FROM (SELECT doc_id, w, explode(sequence(1, size(w))) AS j FROM t)
        |           WHERE doc_id IN (SELECT doc_id FROM mg)),
        |kept AS (SELECT tp.doc_id, tp.j, tp.tok FROM tokpos tp
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = tp.doc_id AND c.j = tp.j)),
        |agg AS (SELECT doc_id, cast(count(*) AS BIGINT) AS n_kept,
        |          array_join(transform(array_sort(collect_list(struct(j, tok))), x -> x.tok), ' ') AS cleaned
        |        FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, cast(size(w) AS BIGINT) AS n_tok FROM t WHERE doc_id IN (SELECT doc_id FROM mg))
        |SELECT tt.doc_id, tt.n_tok, coalesce(a.n_kept, 0) AS n_kept,
        |       tt.n_tok - coalesce(a.n_kept, 0) AS n_removed,
        |       coalesce(a.cleaned, '') AS cleaned
        |FROM tot tt LEFT JOIN agg a ON a.doc_id = tt.doc_id
        |ORDER BY n_removed DESC, tt.doc_id LIMIT 15""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE len(string_split(text,' ')) >= 8),
        |wins AS (SELECT doc_id, i, md5(array_to_string(w[i:i+7], ' ')) AS h
        |         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS i FROM t)),
        |own AS (SELECT h, min(doc_id) AS keeper FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT w.doc_id, w.i AS s, w.i + 8 AS e FROM wins w JOIN own o ON w.h = o.h WHERE w.doc_id > o.keeper),
        |m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM dup),
        |isl AS (SELECT doc_id, s, e, sum(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS g FROM m),
        |mg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g),
        |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(s, e-1)) AS j FROM mg),
        |tokpos AS (SELECT doc_id, j, w[j] AS tok
        |           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS j FROM t)
        |           WHERE doc_id IN (SELECT doc_id FROM mg)),
        |kept AS (SELECT tp.doc_id, tp.j, tp.tok FROM tokpos tp
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = tp.doc_id AND c.j = tp.j)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          string_agg(tok, ' ' ORDER BY j) AS cleaned
        |        FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM t WHERE doc_id IN (SELECT doc_id FROM mg))
        |SELECT tt.doc_id, tt.n_tok, coalesce(a.n_kept, 0) AS n_kept,
        |       tt.n_tok - coalesce(a.n_kept, 0) AS n_removed,
        |       coalesce(a.cleaned, '') AS cleaned
        |FROM tot tt LEFT JOIN agg a ON a.doc_id = tt.doc_id
        |ORDER BY n_removed DESC, tt.doc_id LIMIT 15""".stripMargin),

    // One Lloyd k-means step over the embedding corpus (r14): the
    // TRAINING half the frozen-anchor entries (x117 assignment, x119
    // SemDeDup, x259 silhouette) all presuppose. Entirely in quantized
    // integer arithmetic so both engines agree bit-for-bit: dims
    // quantized to 1e-4 units, distances are exact BIGINT squared-L2,
    // the centroid update is an integer mean computed on +10000-shifted
    // values (non-negative ⇒ floor division and truncating division
    // coincide, the cross-engine `div` vs `//` trap). Initial centroids
    // = the 8 lowest vec_ids; output per cluster: membership before and
    // after the update, movers, and exact inertia — the numbers a
    // training loop's convergence check reads. Scale shape: the
    // distance fan-out is a broadcast-sized join on dim (8 centroids ×
    // 64 dims), assignments and update are hash aggs keyed by vec_id /
    // (cid, dim); per-iteration cost is linear in points × dims × k.
    // The iterative production form would persist c1 per round (the
    // x140 policy); one declared step keeps the oracle closed-form.
    q("x333_kmeans_step",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i AS dim, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |c0 AS (SELECT vec_id AS cid, dim, val AS cval FROM d WHERE vec_id < 8),
        |pts AS (SELECT vec_id, dim, val FROM d WHERE vec_id >= 8),
        |d0 AS (SELECT p.vec_id, c.cid, CAST(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
        |       FROM pts p JOIN c0 c ON p.dim = c.dim GROUP BY 1, 2),
        |a0 AS (SELECT vec_id, cid, dist FROM
        |       (SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d0)
        |       WHERE rn = 1),
        |c1 AS (SELECT a.cid, p.dim,
        |         CAST(CAST(sum(p.val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000 AS cval
        |       FROM a0 a JOIN pts p ON p.vec_id = a.vec_id GROUP BY 1, 2),
        |d1 AS (SELECT p.vec_id, c.cid, CAST(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
        |       FROM pts p JOIN c1 c ON p.dim = c.dim GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid, dist FROM
        |       (SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
        |       WHERE rn = 1),
        |s0 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n0, CAST(sum(dist) AS BIGINT) AS inertia0 FROM a0 GROUP BY 1),
        |s1 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n1, CAST(sum(dist) AS BIGINT) AS inertia1 FROM a1 GROUP BY 1),
        |mv AS (SELECT a0.cid, CAST(count(*) FILTER (WHERE a0.cid <> a1.cid) AS BIGINT) AS moved_out
        |       FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id GROUP BY 1)
        |SELECT k.cid AS cluster_id, coalesce(s0.n0, 0) AS n0, coalesce(s1.n1, 0) AS n1,
        |       coalesce(mv.moved_out, 0) AS moved_out,
        |       coalesce(s0.inertia0, 0) AS inertia0, coalesce(s1.inertia1, 0) AS inertia1
        |FROM (SELECT DISTINCT vec_id AS cid FROM embeddings WHERE vec_id < 8) k
        |LEFT JOIN s0 ON s0.cid = k.cid LEFT JOIN s1 ON s1.cid = k.cid LEFT JOIN mv ON mv.cid = k.cid
        |ORDER BY 1""".stripMargin),

    // Registrable-domain rollup (r14): the crawl-frontier census —
    // extract the registrable domain (eTLD+1) from a host by LONGEST
    // matching suffix against an embedded public-suffix mini-list, then
    // roll up URL and distinct-host counts per domain. The operator
    // shape is the longest-suffix-match JOIN (try the 2-label suffix,
    // fall back to 1-label — LEFT JOIN per level against the broadcast
    // suffix list; IN-subqueries inside a projected CASE are not
    // portable, joins are). URLs are synthesized deterministically from
    // customer (x132's precedent — the corpus ships no URL column):
    // optional www, a nation subdomain, the segment as the registrable
    // label, and a nation-keyed TLD mix that exercises multi-label
    // suffixes ('co.uk' must beat 'uk'). At crawl scale the suffix list
    // broadcasts and the rollup is one hash agg on the domain key.
    q("x334_registrable_domain",
      """WITH u AS (SELECT c_custkey,
        |             concat(CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |                    'n', cast(c_nationkey AS STRING), '.',
        |                    lower(replace(c_mktsegment, ' ', '')), '.',
        |                    CASE cast(c_nationkey % 4 AS INT) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'org.au' ELSE 'io' END) AS host
        |           FROM customer),
        |psl AS (SELECT explode(array('co.uk','org.au','com','org','io','net','uk','au')) AS sfx),
        |lab AS (SELECT c_custkey, host, split(host, '\\.') AS l, size(split(host, '\\.')) AS n FROM u),
        |cand AS (SELECT c_custkey, host, l, n,
        |           concat_ws('.', slice(l, n-1, 2)) AS s2, element_at(l, n) AS s1 FROM lab),
        |reg AS (SELECT c.c_custkey, c.host,
        |          CASE WHEN p2.sfx IS NOT NULL THEN concat(element_at(c.l, c.n-2), '.', c.s2)
        |               WHEN p1.sfx IS NOT NULL THEN concat(element_at(c.l, c.n-1), '.', c.s1)
        |               ELSE c.host END AS reg_dom
        |        FROM cand c LEFT JOIN psl p2 ON c.s2 = p2.sfx LEFT JOIN psl p1 ON c.s1 = p1.sfx)
        |SELECT reg_dom, cast(count(*) AS BIGINT) AS n_urls, cast(count(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM reg GROUP BY 1 ORDER BY n_urls DESC, reg_dom""".stripMargin,
      """WITH u AS (SELECT c_custkey,
        |             concat(CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |                    'n', CAST(c_nationkey AS VARCHAR), '.',
        |                    lower(replace(c_mktsegment, ' ', '')), '.',
        |                    CASE CAST(c_nationkey % 4 AS INT) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'org.au' ELSE 'io' END) AS host
        |           FROM customer),
        |psl AS (SELECT unnest(['co.uk','org.au','com','org','io','net','uk','au']) AS sfx),
        |lab AS (SELECT c_custkey, host, string_split(host, '.') AS l, len(string_split(host, '.')) AS n FROM u),
        |cand AS (SELECT c_custkey, host, l, n,
        |           array_to_string(l[n-1:n], '.') AS s2, l[n] AS s1 FROM lab),
        |reg AS (SELECT c.c_custkey, c.host,
        |          CASE WHEN p2.sfx IS NOT NULL THEN concat(c.l[c.n-2], '.', c.s2)
        |               WHEN p1.sfx IS NOT NULL THEN concat(c.l[c.n-1], '.', c.s1)
        |               ELSE c.host END AS reg_dom
        |        FROM cand c LEFT JOIN psl p2 ON c.s2 = p2.sfx LEFT JOIN psl p1 ON c.s1 = p1.sfx)
        |SELECT reg_dom, CAST(count(*) AS BIGINT) AS n_urls, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM reg GROUP BY 1 ORDER BY n_urls DESC, reg_dom""".stripMargin),

    // Markup stripping, oracle-gated round-trip (r14 — x328's
    // render→parse pattern applied to HTML): the corpus ships plain
    // text, so each engine renders deterministic markup (every 5th
    // token bolded, every 11th italicized, a paragraph break every 7 —
    // IDENTICAL positions in both dialects: Spark's transform lambda
    // index is 0-based, DuckDB's list_transform is 1-based, so the
    // Spark side tests i+1), strips it with the tag regex + whitespace
    // collapse every HTML-ingest pipeline runs, and compares the
    // recovery against the original text EXACTLY. Output is the
    // per-source roundtrip census; a single regex/entity defect in
    // either engine's strip chain is a hash mismatch. Per-row HOFs +
    // regexes, codegen end-to-end, no shuffle beyond the 20-group agg.
    q("x335_markup_strip",
      """WITH t AS (SELECT doc_id, source, split(text,' ') AS w FROM documents),
        |html AS (SELECT doc_id, source,
        |           concat('<p>', array_join(transform(w, (x, i) ->
        |             CASE WHEN (i+1) % 5 = 0 THEN concat('<b>', x, '</b>')
        |                  WHEN (i+1) % 11 = 0 THEN concat('<i>', x, '</i>')
        |                  WHEN (i+1) % 7 = 0 THEN concat('</p><p>', x)
        |                  ELSE x END), ' '), '</p>') AS markup
        |         FROM t),
        |strip AS (SELECT doc_id, source,
        |            trim(regexp_replace(regexp_replace(markup, '<[^>]+>', ' '), ' +', ' ')) AS recovered
        |          FROM html),
        |chk AS (SELECT s.doc_id, s.source,
        |          CASE WHEN s.recovered = d.text THEN 1 ELSE 0 END AS ok
        |        FROM strip s JOIN documents d ON d.doc_id = s.doc_id)
        |SELECT source, cast(count(*) AS BIGINT) AS n_docs, cast(sum(ok) AS BIGINT) AS n_roundtrip_ok
        |FROM chk GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
        |html AS (SELECT doc_id, source,
        |           concat('<p>', array_to_string(list_transform(w, (x, i) ->
        |             CASE WHEN i % 5 = 0 THEN concat('<b>', x, '</b>')
        |                  WHEN i % 11 = 0 THEN concat('<i>', x, '</i>')
        |                  WHEN i % 7 = 0 THEN concat('</p><p>', x)
        |                  ELSE x END), ' '), '</p>') AS markup
        |         FROM t),
        |strip AS (SELECT doc_id, source,
        |            trim(regexp_replace(regexp_replace(markup, '<[^>]+>', ' ', 'g'), ' +', ' ', 'g')) AS recovered
        |          FROM html),
        |chk AS (SELECT s.doc_id, s.source,
        |          CASE WHEN s.recovered = d.text THEN 1 ELSE 0 END AS ok
        |        FROM strip s JOIN documents d ON d.doc_id = s.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(ok) AS BIGINT) AS n_roundtrip_ok
        |FROM chk GROUP BY 1 ORDER BY 1""".stripMargin),

    // N-gram novelty vs a reference corpus (r14): the "how much of this
    // doc is NEW against what we already have" number that gates
    // incremental corpus ingestion — per-doc fraction of token 3-grams
    // absent from the reference source's distinct 3-gram set (src0 as
    // reference), in basis points. Duplicate grams within a doc count
    // individually (token-coverage semantics, like x147). Scale shape:
    // the reference set is a distinct hash-agg (gram keys shuffle,
    // never text) and the membership probe is one LEFT JOIN on the
    // gram hash — at 100 TB the reference side is the smaller relation
    // and bloom-prunes the probe (the x242 skip-source machinery).
    q("x336_ngram_novelty",
      """WITH t AS (SELECT doc_id, source, split(text,' ') AS w FROM documents WHERE size(split(text,' ')) >= 3),
        |grams AS (SELECT doc_id, source, md5(concat_ws(' ', slice(w, i, 3))) AS g
        |          FROM (SELECT doc_id, source, w, explode(sequence(1, size(w)-2)) AS i FROM t)),
        |ref AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |nov AS (SELECT gr.doc_id, gr.source,
        |          cast(count(*) AS BIGINT) AS n_grams,
        |          cast(count(*) FILTER (WHERE r.g IS NULL) AS BIGINT) AS n_novel
        |        FROM grams gr LEFT JOIN ref r ON gr.g = r.g
        |        WHERE gr.source <> 'src0'
        |        GROUP BY 1, 2)
        |SELECT doc_id, source, n_grams, n_novel,
        |       cast((n_novel * 10000) div n_grams AS BIGINT) AS novelty_bp
        |FROM nov ORDER BY novelty_bp DESC, doc_id LIMIT 20""".stripMargin,
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents WHERE len(string_split(text,' ')) >= 3),
        |grams AS (SELECT doc_id, source, md5(array_to_string(w[i:i+2], ' ')) AS g
        |          FROM (SELECT doc_id, source, w, unnest(generate_series(1, len(w)-2)) AS i FROM t)),
        |ref AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |nov AS (SELECT gr.doc_id, gr.source,
        |          CAST(count(*) AS BIGINT) AS n_grams,
        |          CAST(count(*) FILTER (WHERE r.g IS NULL) AS BIGINT) AS n_novel
        |        FROM grams gr LEFT JOIN ref r ON gr.g = r.g
        |        WHERE gr.source <> 'src0'
        |        GROUP BY 1, 2)
        |SELECT doc_id, source, n_grams, n_novel,
        |       CAST((n_novel * 10000) // n_grams AS BIGINT) AS novelty_bp
        |FROM nov ORDER BY novelty_bp DESC, doc_id LIMIT 20""".stripMargin),

    // Incremental EXACT dedup across snapshots (r14): the daily-ingest
    // classification the near-dup incrementals (x118 text, x330 images)
    // presuppose ran first — a fresh batch (src19) against the standing
    // corpus on x47's normalized token-set key, each new doc classified
    // dup_of_corpus / dup_within_batch / unique. The within-batch rule
    // is keep-first by doc_id, computed as a window rank (a correlated
    // EXISTS inside a projected CASE is not portable; rn > 1 is).
    // Scale shape: corpus side is DISTINCT keys only (the standing
    // corpus ships as a materialized key table in production), batch
    // side one window over the day's data — O(batch), never O(corpus).
    q("x337_incremental_exact_dedup",
      """WITH k AS (SELECT doc_id, source,
        |             md5(concat_ws(' ', array_sort(array_distinct(split(text,' '))))) AS kk
        |           FROM documents),
        |corpus AS (SELECT DISTINCT kk FROM k WHERE source <> 'src19'),
        |batch AS (SELECT doc_id, kk,
        |            row_number() OVER (PARTITION BY kk ORDER BY doc_id) AS rn
        |          FROM k WHERE source = 'src19'),
        |cls AS (SELECT b.doc_id,
        |          CASE WHEN c.kk IS NOT NULL THEN 'dup_of_corpus'
        |               WHEN b.rn > 1 THEN 'dup_within_batch'
        |               ELSE 'unique' END AS class
        |        FROM batch b LEFT JOIN corpus c ON b.kk = c.kk)
        |SELECT class, cast(count(*) AS BIGINT) AS n, cast(min(doc_id) AS BIGINT) AS first_doc
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
      """WITH k AS (SELECT doc_id, source,
        |             md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS kk
        |           FROM documents),
        |corpus AS (SELECT DISTINCT kk FROM k WHERE source <> 'src19'),
        |batch AS (SELECT doc_id, kk,
        |            row_number() OVER (PARTITION BY kk ORDER BY doc_id) AS rn
        |          FROM k WHERE source = 'src19'),
        |cls AS (SELECT b.doc_id,
        |          CASE WHEN c.kk IS NOT NULL THEN 'dup_of_corpus'
        |               WHEN b.rn > 1 THEN 'dup_within_batch'
        |               ELSE 'unique' END AS class
        |        FROM batch b LEFT JOIN corpus c ON b.kk = c.kk)
        |SELECT class, CAST(count(*) AS BIGINT) AS n, CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin),

    // Per-source Zipf slope (r14): the rank-frequency exponent of each
    // source's token distribution — the Heaps'-law sibling (x319) on
    // the frequency axis, the one-number "does this source look like
    // natural language" screen. x321's log-log OLS discipline verbatim:
    // regr_slope over ln(count) vs ln(rank), rank total-ordered by
    // (count DESC, word), rounded 4dp with the +0e0 sign stabilizer.
    // Scale shape: one token census shuffle keyed (source, word), one
    // window, one agg — vocabulary-sized state, not corpus-sized.
    q("x338_zipf_slope",
      """WITH tok AS (SELECT source, lower(w) AS w
        |             FROM (SELECT source, explode(split(text,' ')) AS w FROM documents)),
        |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |r AS (SELECT source, w, c,
        |        row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
        |      FROM cnt)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |       round(regr_slope(ln(c * 1e0), ln(rnk * 1e0)), 4) + 0e0 AS zipf_beta
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // k-means TRAINING, 3 Lloyd rounds unrolled (r15) — the iterative
    // half x333's single step presupposed, under the x148_bpe_train3
    // precedent (fixed round count keeps the oracle closed-form).
    // Generated by kmeansTrain3 (see its scaladoc for the round
    // semantics and the scale story); the production loop with
    // driver-held centroids, persisted assignments, and a convergence
    // stop is llm/KMeans.scala (x341, same oracle).
    q("x340_kmeans_train3", kmeansTrain3),

    // Product-quantization codebook training (r15): ONE Lloyd round for
    // all 8 sub-space quantizers in ONE pass — the codebook-build half
    // x103's IVF-PQ index presupposes (Jégou et al., "Product
    // Quantization for Nearest Neighbor Search", TPAMI 2011). The 64-dim
    // vectors split into 8 contiguous 8-dim sub-spaces; each sub-space
    // trains k=4 codes independently, but the plan is a single grouped
    // job: distances fan out through one broadcast-sized join on
    // (sub, j) — the full codebook is 8×4×8 = 256 rows — and both
    // assignment/update aggs are hash aggs keyed by (vec_id, sub) /
    // (sub, code, j). x333's integer arithmetic verbatim (premises
    // spec-asserted); per (sub, code): members before/after, movers,
    // exact inertia.
    q("x342_pq_codebook_train",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |s AS (SELECT vec_id, CAST((i-1) div 8 AS BIGINT) AS sub, CAST((i-1) % 8 + 1 AS BIGINT) AS j, val FROM d),
        |c0 AS (SELECT sub, vec_id AS code, j, val AS cval FROM s WHERE vec_id < 4),
        |pts AS (SELECT vec_id, sub, j, val FROM s WHERE vec_id >= 4),
        |d0 AS (SELECT p.vec_id, p.sub, c.code, CAST(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
        |       FROM pts p JOIN c0 c ON p.sub = c.sub AND p.j = c.j GROUP BY 1, 2, 3),
        |a0 AS (SELECT vec_id, sub, code, dist FROM
        |       (SELECT vec_id, sub, code, dist, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn FROM d0)
        |       WHERE rn = 1),
        |c1 AS (SELECT a.sub, a.code, p.j,
        |         CAST(CAST(sum(p.val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000 AS cval
        |       FROM a0 a JOIN pts p ON p.vec_id = a.vec_id AND p.sub = a.sub GROUP BY 1, 2, 3),
        |d1 AS (SELECT p.vec_id, p.sub, c.code, CAST(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
        |       FROM pts p JOIN c1 c ON p.sub = c.sub AND p.j = c.j GROUP BY 1, 2, 3),
        |a1 AS (SELECT vec_id, sub, code, dist FROM
        |       (SELECT vec_id, sub, code, dist, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn FROM d1)
        |       WHERE rn = 1),
        |s0 AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS n0, CAST(sum(dist) AS BIGINT) AS inertia0 FROM a0 GROUP BY 1, 2),
        |s1 AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS n1, CAST(sum(dist) AS BIGINT) AS inertia1 FROM a1 GROUP BY 1, 2),
        |mv AS (SELECT a0.sub, a0.code, CAST(count(*) FILTER (WHERE a0.code <> a1.code) AS BIGINT) AS moved_out
        |       FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id AND a0.sub = a1.sub GROUP BY 1, 2),
        |k AS (SELECT CAST(sb AS BIGINT) AS sub, code
        |      FROM (SELECT explode(sequence(0, 7)) AS sb)
        |      CROSS JOIN (SELECT DISTINCT vec_id AS code FROM embeddings WHERE vec_id < 4))
        |SELECT k.sub AS subspace, k.code AS code,
        |       coalesce(s0.n0, CAST(0 AS BIGINT)) AS n0, coalesce(s1.n1, CAST(0 AS BIGINT)) AS n1,
        |       coalesce(mv.moved_out, CAST(0 AS BIGINT)) AS moved_out,
        |       coalesce(s0.inertia0, CAST(0 AS BIGINT)) AS inertia0, coalesce(s1.inertia1, CAST(0 AS BIGINT)) AS inertia1
        |FROM k LEFT JOIN s0 ON s0.sub = k.sub AND s0.code = k.code
        |       LEFT JOIN s1 ON s1.sub = k.sub AND s1.code = k.code
        |       LEFT JOIN mv ON mv.sub = k.sub AND mv.code = k.code
        |ORDER BY subspace, code""".stripMargin),

    // Paragraph-level dedup census (r15): the CCNet discipline
    // (Wenzek et al., LREC 2020) — dedup at PARAGRAPH granularity,
    // where boilerplate actually repeats, instead of whole-doc. Every
    // paragraph occurrence after the global first (ordered by (doc_id,
    // position) — deterministic keep-first) counts as removed; per
    // source: paragraphs, removed, removal rate in bp. Scale shape:
    // paragraph hashes shuffle (never text), one window over the hash
    // groups, one rollup — the same keys-not-payload discipline as
    // x47/x332. Dialect delta: Spark split() takes a regex ('\\. '),
    // DuckDB string_split a literal ('. ').
    q("x343_paragraph_dedup",
      """WITH par AS (SELECT doc_id, source, i, trim(element_at(ps, i)) AS p
        |             FROM (SELECT doc_id, source, ps, explode(sequence(1, size(ps))) AS i
        |                   FROM (SELECT doc_id, source, split(text, '\\. ') AS ps FROM documents))),
        |np AS (SELECT doc_id, source, i, md5(lower(p)) AS h FROM par WHERE p <> ''),
        |r AS (SELECT source, row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn FROM np),
        |per AS (SELECT source, cast(count(*) AS BIGINT) AS n_par,
        |          cast(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
        |        FROM r GROUP BY 1)
        |SELECT source, n_par, n_removed,
        |       cast(n_removed * 10000 div n_par AS BIGINT) AS removed_bp
        |FROM per ORDER BY source""".stripMargin,
      """WITH par AS (SELECT doc_id, source, i, trim(ps[i]) AS p
        |             FROM (SELECT doc_id, source, ps, unnest(generate_series(1, len(ps))) AS i
        |                   FROM (SELECT doc_id, source, string_split(text, '. ') AS ps FROM documents))),
        |np AS (SELECT doc_id, source, i, md5(lower(p)) AS h FROM par WHERE p <> ''),
        |r AS (SELECT source, row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn FROM np),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_par,
        |          CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
        |        FROM r GROUP BY 1)
        |SELECT source, n_par, n_removed,
        |       CAST(n_removed * 10000 // n_par AS BIGINT) AS removed_bp
        |FROM per ORDER BY source""".stripMargin),

    // Domain-level split leakage (r15): x298's leakage question asked
    // at x334's granularity — a row-level content-hash split (x106's
    // discipline) scatters URLS of the same registrable domain across
    // train and test, which leaks site-level style/content even when no
    // document is shared. Census: every eTLD+1 domain present in BOTH
    // splits, with counts and the test-side share. The fix a real
    // pipeline applies — split by hash(domain), not hash(row) — is what
    // this census motivates; at crawl scale it is one hash agg over the
    // domain key after the broadcast suffix joins.
    q("x344_domain_split_leakage",
      """WITH u AS (SELECT c_custkey,
        |             concat(CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |                    'n', cast(c_nationkey AS STRING), '.',
        |                    lower(replace(c_mktsegment, ' ', '')), '.',
        |                    CASE cast(c_nationkey % 4 AS INT) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'org.au' ELSE 'io' END) AS host
        |           FROM customer),
        |sp AS (SELECT c_custkey, host,
        |         CASE WHEN cast(conv(substr(md5(cast(c_custkey AS STRING)),1,8),16,10) AS BIGINT) % 100 < 90
        |              THEN 'train' ELSE 'test' END AS split
        |       FROM u),
        |psl AS (SELECT explode(array('co.uk','org.au','com','org','io','net','uk','au')) AS sfx),
        |lab AS (SELECT c_custkey, host, split, split(host, '\\.') AS l, size(split(host, '\\.')) AS n FROM sp),
        |cand AS (SELECT c_custkey, host, split, l, n,
        |           concat_ws('.', slice(l, n-1, 2)) AS s2, element_at(l, n) AS s1 FROM lab),
        |reg AS (SELECT c.c_custkey, c.split,
        |          CASE WHEN p2.sfx IS NOT NULL THEN concat(element_at(c.l, c.n-2), '.', c.s2)
        |               WHEN p1.sfx IS NOT NULL THEN concat(element_at(c.l, c.n-1), '.', c.s1)
        |               ELSE c.host END AS reg_dom
        |        FROM cand c LEFT JOIN psl p2 ON c.s2 = p2.sfx LEFT JOIN psl p1 ON c.s1 = p1.sfx),
        |agg AS (SELECT reg_dom,
        |          cast(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
        |          cast(count(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test
        |        FROM reg GROUP BY 1)
        |SELECT reg_dom, n_train, n_test,
        |       cast(n_test * 10000 div (n_train + n_test) AS BIGINT) AS test_share_bp
        |FROM agg WHERE n_train > 0 AND n_test > 0
        |ORDER BY n_test DESC, reg_dom""".stripMargin,
      """WITH u AS (SELECT c_custkey,
        |             concat(CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |                    'n', CAST(c_nationkey AS VARCHAR), '.',
        |                    lower(replace(c_mktsegment, ' ', '')), '.',
        |                    CASE CAST(c_nationkey % 4 AS INT) WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'org.au' ELSE 'io' END) AS host
        |           FROM customer),
        |sp AS (SELECT c_custkey, host,
        |         CASE WHEN CAST(('0x'||substr(md5(CAST(c_custkey AS VARCHAR)),1,8)) AS BIGINT) % 100 < 90
        |              THEN 'train' ELSE 'test' END AS split
        |       FROM u),
        |psl AS (SELECT unnest(['co.uk','org.au','com','org','io','net','uk','au']) AS sfx),
        |lab AS (SELECT c_custkey, host, split, string_split(host, '.') AS l, len(string_split(host, '.')) AS n FROM sp),
        |cand AS (SELECT c_custkey, host, split, l, n,
        |           array_to_string(l[n-1:n], '.') AS s2, l[n] AS s1 FROM lab),
        |reg AS (SELECT c.c_custkey, c.split,
        |          CASE WHEN p2.sfx IS NOT NULL THEN concat(c.l[c.n-2], '.', c.s2)
        |               WHEN p1.sfx IS NOT NULL THEN concat(c.l[c.n-1], '.', c.s1)
        |               ELSE c.host END AS reg_dom
        |        FROM cand c LEFT JOIN psl p2 ON c.s2 = p2.sfx LEFT JOIN psl p1 ON c.s1 = p1.sfx),
        |agg AS (SELECT reg_dom,
        |          CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
        |          CAST(count(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test
        |        FROM reg GROUP BY 1)
        |SELECT reg_dom, n_train, n_test,
        |       CAST(n_test * 10000 // (n_train + n_test) AS BIGINT) AS test_share_bp
        |FROM agg WHERE n_train > 0 AND n_test > 0
        |ORDER BY n_test DESC, reg_dom""".stripMargin),

    // Paragraph-dedup APPLY (r15): x343's census tells you HOW MUCH
    // repeats; this emits the rewritten documents — every paragraph
    // occurrence after the global first (by (doc_id, position)) is cut
    // and the survivors are rejoined in position order (the CCNet
    // rewrite half, mirroring the x332/x339 substring pair one
    // granularity up). Bounded diagnostic slice: top-15 docs by
    // paragraphs removed; the full-corpus surface is the x347 native
    // (llm/ParagraphDedup, same oracle).
    q("x346_paragraph_dedup_apply",
      """WITH par AS (SELECT doc_id, i, trim(element_at(ps, i)) AS p
        |             FROM (SELECT doc_id, ps, explode(sequence(1, size(ps))) AS i
        |                   FROM (SELECT doc_id, split(text, '\\. ') AS ps FROM documents))),
        |np AS (SELECT doc_id, i, p, md5(lower(p)) AS h FROM par WHERE p <> ''),
        |r AS (SELECT doc_id, i, p, row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn FROM np),
        |tot AS (SELECT doc_id, cast(count(*) AS BIGINT) AS n_par,
        |          cast(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
        |        FROM r GROUP BY 1),
        |reb AS (SELECT doc_id,
        |          array_join(transform(array_sort(collect_list(struct(i, p))), x -> x.p), '. ') AS cleaned
        |        FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT t.doc_id, t.n_par, t.n_par - t.n_removed AS n_kept, t.n_removed,
        |       coalesce(rb.cleaned, '') AS cleaned
        |FROM tot t LEFT JOIN reb rb ON rb.doc_id = t.doc_id
        |ORDER BY t.n_removed DESC, t.doc_id LIMIT 15""".stripMargin,
      """WITH par AS (SELECT doc_id, i, trim(ps[i]) AS p
        |             FROM (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i
        |                   FROM (SELECT doc_id, string_split(text, '. ') AS ps FROM documents))),
        |np AS (SELECT doc_id, i, p, md5(lower(p)) AS h FROM par WHERE p <> ''),
        |r AS (SELECT doc_id, i, p, row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn FROM np),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_par,
        |          CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
        |        FROM r GROUP BY 1),
        |reb AS (SELECT doc_id, string_agg(p, '. ' ORDER BY i) AS cleaned
        |        FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT t.doc_id, t.n_par, t.n_par - t.n_removed AS n_kept, t.n_removed,
        |       coalesce(rb.cleaned, '') AS cleaned
        |FROM tot t LEFT JOIN reb rb ON rb.doc_id = t.doc_id
        |ORDER BY t.n_removed DESC, t.doc_id LIMIT 15""".stripMargin),

    // Dedup savings forecast (r15): what exact dedup BUYS, per source —
    // x47's keep-first applied as an accounting pass: docs and
    // whitespace tokens each source contributes before vs after global
    // keep-first on the normalized token-set key, and the saved share
    // in bp. The budget row a dedup decision reads before paying for
    // the rewrite (keepers are GLOBAL: a source whose docs lose to a
    // lower doc_id elsewhere books the saving here). One key census +
    // one window + one source rollup — keys shuffle, never text.
    q("x348_dedup_savings",
      """WITH k AS (SELECT doc_id, source, size(split(text,' ')) AS n,
        |             md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key
        |           FROM documents),
        |r AS (SELECT source, n, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn FROM k)
        |SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS keepers,
        |       CAST(sum(n) AS BIGINT) AS toks,
        |       CAST(coalesce(sum(n) FILTER (WHERE rn = 1), 0) AS BIGINT) AS toks_kept,
        |       CAST((sum(n) - coalesce(sum(n) FILTER (WHERE rn = 1), 0)) * 10000 div sum(n) AS BIGINT) AS saved_bp
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // Quality × duplication interaction (r15): are duplicated documents
    // LOW-quality documents? x50's composite quality score deciled
    // (global ntile — census scale; GlobalWindow.ranks is the x100
    // scale tier), each doc flagged dup iff its x47 normalized key
    // appears more than once, dup share per decile in bp. The screen
    // that decides whether quality filtering and dedup are redundant
    // passes or independent ones.
    q("x349_quality_dup_deciles",
      """WITH k AS (SELECT doc_id, split(text,' ') AS w,
        |             md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key
        |           FROM documents),
        |q AS (SELECT doc_id, key,
        |        CAST(floor((0.4*(size(array_distinct(w))/CAST(size(w) AS DOUBLE))
        |              + 0.3*(1.0 - size(filter(w, x -> x IN ('a','the')))/CAST(size(w) AS DOUBLE))
        |              + 0.3*least(size(w)/100.0, 1.0))*10000.0) AS BIGINT) AS quality_bp
        |      FROM k),
        |d AS (SELECT key, count(*) AS cnt FROM q GROUP BY 1),
        |j AS (SELECT q.doc_id, q.quality_bp, CASE WHEN d.cnt > 1 THEN 1 ELSE 0 END AS is_dup,
        |        CAST(ntile(10) OVER (ORDER BY q.quality_bp, q.doc_id) AS BIGINT) AS decile
        |      FROM q JOIN d ON q.key = d.key)
        |SELECT decile, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(sum(is_dup) AS BIGINT) AS dup_docs,
        |       CAST(sum(is_dup) * 10000 div count(*) AS BIGINT) AS dup_bp,
        |       CAST(min(quality_bp) AS BIGINT) AS q_min, CAST(max(quality_bp) AS BIGINT) AS q_max
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    // Token-budgeted mixture build (r15): the selection pass that turns
    // a mixture RECIPE into a corpus — a global token budget (half the
    // corpus here) split across sources by deterministic weights
    // (x109's parity-of-source-suffix trick), each source filled
    // greedily in quality order (x50's composite score, ties by doc_id)
    // until its allocation is exhausted. Output per source: weight,
    // allocated budget, docs/tokens actually taken, fill rate in bp —
    // under-filled rows are the "this source cannot honor its weight"
    // signal a mixture designer rebalances on. The cumulative window is
    // per-source partitioned (scales); integer arithmetic throughout.
    q("x350_budgeted_mixture",
      """WITH t AS (SELECT doc_id, source, w FROM (SELECT doc_id, source, split(text,' ') AS w FROM documents)),
        |q AS (SELECT doc_id, source, CAST(size(w) AS BIGINT) AS n,
        |        CAST(floor((0.4*(size(array_distinct(w))/CAST(size(w) AS DOUBLE))
        |              + 0.3*(1.0 - size(filter(w, x -> x IN ('a','the')))/CAST(size(w) AS DOUBLE))
        |              + 0.3*least(size(w)/100.0, 1.0))*10000.0) AS BIGINT) AS quality_bp
        |      FROM t),
        |tot AS (SELECT CAST(sum(n) div 2 AS BIGINT) AS budget FROM q),
        |w AS (SELECT source,
        |        CASE WHEN right(source, 1) IN ('0','2','4','6','8')
        |             THEN CAST(750 AS BIGINT) ELSE CAST(250 AS BIGINT) END AS w_bp
        |      FROM (SELECT DISTINCT source FROM q)),
        |sw AS (SELECT source, w_bp,
        |         CAST(w_bp * (SELECT budget FROM tot) div (SELECT sum(w_bp) FROM w) AS BIGINT) AS src_budget
        |       FROM w),
        |r AS (SELECT source, n,
        |        sum(n) OVER (PARTITION BY source ORDER BY quality_bp DESC, doc_id) AS cum
        |      FROM q)
        |SELECT r.source, sw.w_bp, sw.src_budget,
        |       CAST(count(*) FILTER (WHERE r.cum <= sw.src_budget) AS BIGINT) AS docs_taken,
        |       CAST(coalesce(sum(r.n) FILTER (WHERE r.cum <= sw.src_budget), 0) AS BIGINT) AS toks_taken,
        |       CAST(coalesce(sum(r.n) FILTER (WHERE r.cum <= sw.src_budget), 0) * 10000 div sw.src_budget AS BIGINT) AS fill_bp
        |FROM r JOIN sw ON r.source = sw.source
        |GROUP BY r.source, sw.w_bp, sw.src_budget
        |ORDER BY r.source""".stripMargin),

    // Hard-negative mining (r15): for each query vector, the corpus
    // vectors in the similar-but-not-duplicate cosine band
    // [0.15, 0.95) — the contrastive-training data miner (a retrieval
    // embedding trains on exactly these; >0.95 is x119's SemDeDup
    // duplicate regime, near-0 is uninformative). Per query: band size
    // + the 3 HARDEST negatives (highest cosine inside the band, ties
    // by vec_id). Arithmetic: exact integer dot products and norms on
    // the quantized grid (one broadcast-sized query side — 8 × 64
    // rows — so the corpus never self-joins; cost is linear in corpus
    // × queries), one sqrt per (query, vec) rounded to bp at the end
    // (x345's discipline).
    q("x351_hard_negatives",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |nrm AS (SELECT vec_id, CAST(sum(val*val) AS BIGINT) AS n2 FROM d GROUP BY 1),
        |dots AS (SELECT p.vec_id, c.qid, CAST(sum(p.val * c.qval) AS BIGINT) AS dot
        |         FROM (SELECT vec_id, i, val FROM d WHERE vec_id >= 8) p
        |         JOIN (SELECT vec_id AS qid, i, val AS qval FROM d WHERE vec_id < 8) c ON p.i = c.i
        |         GROUP BY 1, 2),
        |cosb AS (SELECT dt.qid, dt.vec_id,
        |           CAST(round(dt.dot / (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) * 10000) AS BIGINT) AS cos_bp
        |         FROM dots dt JOIN nrm nc ON nc.vec_id = dt.vec_id JOIN nrm nq ON nq.vec_id = dt.qid),
        |band AS (SELECT * FROM cosb WHERE cos_bp >= 1500 AND cos_bp < 9500),
        |cnt AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_band FROM band GROUP BY 1),
        |top AS (SELECT qid, vec_id, cos_bp,
        |          row_number() OVER (PARTITION BY qid ORDER BY cos_bp DESC, vec_id) AS rn
        |        FROM band)
        |SELECT t.qid AS query_id, CAST(t.rn AS BIGINT) AS rnk,
        |       t.vec_id AS negative_id, t.cos_bp, c.n_band
        |FROM top t JOIN cnt c ON c.qid = t.qid
        |WHERE t.rn <= 3 ORDER BY query_id, rnk""".stripMargin),

    // Matryoshka embedding fidelity (r15): how much of each vector's
    // energy the first k dims carry — cos(v, v[1..k] zero-padded) =
    // ‖v[1..k]‖ / ‖v‖ — for k ∈ {8, 16, 32, 64}. The
    // truncate-the-embeddings storage decision (Kusupati et al.,
    // "Matryoshka Representation Learning", NeurIPS 2022) priced on the
    // corpus: at 100 TB, keeping 16 of 64 dims is a 4× index-size cut
    // IF fidelity holds. Arithmetic: quantized integer squares (exact
    // sums, no FP order sensitivity); the only float op is one
    // sqrt(exact/exact) per (vec, k), rounded to bp; the per-k mean is
    // integer division of exact sums.
    q("x345_matryoshka_fidelity",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> cast(round(cast(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS v FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |n AS (SELECT vec_id, k, cast(sum(v*v) FILTER (WHERE i <= k) AS BIGINT) AS pk, cast(sum(v*v) AS BIGINT) AS nf
        |      FROM d CROSS JOIN (SELECT explode(array(8, 16, 32, 64)) AS k) GROUP BY 1, 2),
        |f AS (SELECT vec_id, k, cast(round(sqrt(cast(pk AS DOUBLE) / cast(nf AS DOUBLE)) * 10000) AS BIGINT) AS fid_bp
        |      FROM n WHERE nf > 0)
        |SELECT cast(k AS BIGINT) AS prefix_dims,
        |       cast(cast(sum(fid_bp) AS BIGINT) div count(*) AS BIGINT) AS mean_fid_bp,
        |       cast(min(fid_bp) AS BIGINT) AS min_fid_bp,
        |       cast(count(*) AS BIGINT) AS n_vecs
        |FROM f GROUP BY k ORDER BY prefix_dims""".stripMargin,
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, qv[i] AS v FROM (SELECT vec_id, qv, unnest(generate_series(1, 64)) AS i FROM q)),
        |n AS (SELECT vec_id, k, CAST(sum(v*v) FILTER (WHERE i <= k) AS BIGINT) AS pk, CAST(sum(v*v) AS BIGINT) AS nf
        |      FROM d CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS k) ks GROUP BY 1, 2),
        |f AS (SELECT vec_id, k, CAST(round(sqrt(CAST(pk AS DOUBLE) / CAST(nf AS DOUBLE)) * 10000) AS BIGINT) AS fid_bp
        |      FROM n WHERE nf > 0)
        |SELECT CAST(k AS BIGINT) AS prefix_dims,
        |       CAST(CAST(sum(fid_bp) AS BIGINT) // count(*) AS BIGINT) AS mean_fid_bp,
        |       CAST(min(fid_bp) AS BIGINT) AS min_fid_bp,
        |       CAST(count(*) AS BIGINT) AS n_vecs
        |FROM f GROUP BY k ORDER BY prefix_dims""".stripMargin),

    // MMR re-ranking (r16, Carbonell & Goldstein SIGIR'98): the
    // diversity-aware retrieval step between x299's recall eval and
    // x351's miner — from the query's top-8 cosine candidates, 3 greedy
    // picks maximizing λ·rel − (1−λ)·max-sim-to-picked (λ = 0.7, kept
    // integer as 7·rel_bp − 3·max_bp), unrolled declaratively (the x243
    // greedy precedent). Arithmetic is x351's discipline verbatim:
    // exact integer dots/norms, ONE rounded sqrt per pair, ties to the
    // lowest vec_id. Scale shape: rel is one broadcast-query pass; the
    // pairwise block is pool×pool = 8×8 — candidate-set-sized, never
    // corpus-sized.
    q("x353_mmr_rerank",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |nrm AS (SELECT vec_id, CAST(sum(val*val) AS BIGINT) AS n2 FROM d GROUP BY 1),
        |dots0 AS (SELECT p.vec_id, CAST(sum(p.val * c.val) AS BIGINT) AS dot
        |          FROM (SELECT vec_id, i, val FROM d WHERE vec_id >= 1) p
        |          JOIN (SELECT i, val FROM d WHERE vec_id = 0) c ON p.i = c.i GROUP BY 1),
        |rel AS (SELECT dt.vec_id, CAST(round(dt.dot / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(n0.n2 AS DOUBLE))) * 10000) AS BIGINT) AS rel_bp
        |        FROM dots0 dt JOIN nrm nv ON nv.vec_id = dt.vec_id
        |        CROSS JOIN (SELECT n2 FROM nrm WHERE vec_id = 0) n0),
        |pool AS (SELECT vec_id, rel_bp FROM rel ORDER BY rel_bp DESC, vec_id LIMIT 8),
        |pd AS (SELECT d.vec_id, d.i, d.val FROM d JOIN pool ON pool.vec_id = d.vec_id),
        |pp AS (SELECT x.vec_id AS a, y.vec_id AS b, CAST(sum(x.val*y.val) AS BIGINT) AS dot
        |       FROM pd x JOIN pd y ON x.i = y.i AND x.vec_id <> y.vec_id GROUP BY 1, 2),
        |psim AS (SELECT pp.a, pp.b, CAST(round(pp.dot / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) * 10000) AS BIGINT) AS sim_bp
        |         FROM pp JOIN nrm na ON na.vec_id = pp.a JOIN nrm nb ON nb.vec_id = pp.b),
        |p1 AS (SELECT vec_id, rel_bp FROM pool ORDER BY rel_bp DESC, vec_id LIMIT 1),
        |c2 AS (SELECT c.vec_id, c.rel_bp, s.sim_bp AS mx
        |       FROM pool c CROSS JOIN p1
        |       JOIN psim s ON s.a = c.vec_id AND s.b = p1.vec_id
        |       WHERE c.vec_id <> p1.vec_id),
        |p2 AS (SELECT vec_id, rel_bp, 7*rel_bp - 3*mx AS mmr FROM c2 ORDER BY mmr DESC, vec_id LIMIT 1),
        |c3 AS (SELECT c.vec_id, c.rel_bp, max(s.sim_bp) AS mx
        |       FROM pool c CROSS JOIN p1 CROSS JOIN p2
        |       JOIN psim s ON s.a = c.vec_id AND (s.b = p1.vec_id OR s.b = p2.vec_id)
        |       WHERE c.vec_id <> p1.vec_id AND c.vec_id <> p2.vec_id
        |       GROUP BY c.vec_id, c.rel_bp),
        |p3 AS (SELECT vec_id, rel_bp, 7*rel_bp - 3*mx AS mmr FROM c3 ORDER BY mmr DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS rnk, vec_id, rel_bp, 7*rel_bp AS mmr_bp FROM p1
        |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, rel_bp, mmr FROM p2
        |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, rel_bp, mmr FROM p3
        |ORDER BY rnk""".stripMargin),

    // Embedding anisotropy (r16, the cone-effect diagnostic of
    // Ethayarajh EMNLP'19): ‖Σv‖² / (n·Σ‖v‖²) in bp, per label and
    // global — 1.0 for identical vectors, →0 for isotropically spread
    // ones; the screen that says whether cosine similarities are
    // informative at all before any ANN index is built on them.
    // Arithmetic: per-dim sums and square sums are EXACT BIGINTs (the
    // only shuffle is (grp, dim)-keyed partial sums — index-sized);
    // the single division of two exact integers happens once per group
    // in IEEE doubles, rounded to bp.
    q("x354_embedding_anisotropy",
      """WITH q AS (SELECT vec_id, label, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, label, i, element_at(qv, i) AS val FROM (SELECT vec_id, label, qv, explode(sequence(1, 64)) AS i FROM q)),
        |g AS (SELECT CAST(label AS STRING) AS grp, vec_id, i, val FROM d
        |      UNION ALL SELECT 'all', vec_id, i, val FROM d),
        |sums AS (SELECT grp, i, CAST(sum(val) AS BIGINT) AS sd FROM g GROUP BY 1, 2),
        |s2 AS (SELECT grp, CAST(sum(sd*sd) AS BIGINT) AS sq FROM sums GROUP BY 1),
        |tn AS (SELECT grp, CAST(sum(val*val) AS BIGINT) AS t, CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM g GROUP BY 1)
        |SELECT tn.grp AS grp, tn.n AS n_vecs,
        |       CAST(round(CAST(s2.sq AS DOUBLE) / CAST(tn.n * tn.t AS DOUBLE) * 10000) AS BIGINT) AS aniso_bp
        |FROM s2 JOIN tn ON s2.grp = tn.grp ORDER BY grp""".stripMargin),

    // Dedup-aggressiveness sweep (r16): the threshold-tuning curve a
    // dedup decision reads BEFORE committing to x47's remove-all-repeats
    // policy — for min_occ ∈ {2,3,5,10}, cut only documents whose
    // normalized key repeats ≥ min_occ times (keep-first), and report
    // docs/tokens cut and the savings in bp. One key census (the x47
    // shuffle — hashes only, never text) feeds all four thresholds.
    q("x355_dedup_occurrence_sweep",
      """WITH k AS (SELECT doc_id, md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key,
        |             cast(size(split(text, ' ')) AS BIGINT) AS ntok FROM documents),
        |r AS (SELECT key, ntok, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn,
        |             count(*) OVER (PARTITION BY key) AS occ FROM k),
        |tot AS (SELECT cast(sum(ntok) AS BIGINT) AS toks FROM r)
        |SELECT cast(kk AS BIGINT) AS min_occ,
        |       cast(count(*) FILTER (WHERE rn > 1 AND occ >= kk) AS BIGINT) AS docs_cut,
        |       cast(coalesce(sum(ntok) FILTER (WHERE rn > 1 AND occ >= kk), 0) AS BIGINT) AS tokens_cut,
        |       (SELECT toks FROM tot) AS total_toks,
        |       cast(coalesce(sum(ntok) FILTER (WHERE rn > 1 AND occ >= kk), 0) * 10000 div (SELECT toks FROM tot) AS BIGINT) AS savings_bp
        |FROM r CROSS JOIN (SELECT explode(array(2, 3, 5, 10)) AS kk) GROUP BY kk ORDER BY min_occ""".stripMargin,
      """WITH k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS key,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents),
        |r AS (SELECT key, ntok, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn,
        |             count(*) OVER (PARTITION BY key) AS occ FROM k),
        |tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS toks FROM r)
        |SELECT CAST(kk AS BIGINT) AS min_occ,
        |       CAST(count(*) FILTER (WHERE rn > 1 AND occ >= kk) AS BIGINT) AS docs_cut,
        |       CAST(coalesce(sum(ntok) FILTER (WHERE rn > 1 AND occ >= kk), 0) AS BIGINT) AS tokens_cut,
        |       (SELECT toks FROM tot) AS total_toks,
        |       CAST(coalesce(sum(ntok) FILTER (WHERE rn > 1 AND occ >= kk), 0) * 10000 // (SELECT toks FROM tot) AS BIGINT) AS savings_bp
        |FROM r CROSS JOIN (SELECT unnest([2, 3, 5, 10]) AS kk) ks GROUP BY kk ORDER BY min_occ""".stripMargin),

    // T5 span-corruption plan (r16, Raffel et al. JMLR'20 §3.1.4): the
    // pretraining-batch accounting for mask rate 15% / mean span 3 —
    // per source, masked tokens floor(n·15/100), sentinel spans
    // ceil(masked/3), encoder length (unmasked + one sentinel per
    // span), decoder length (masked + sentinels + EOS). Pure integer
    // arithmetic per row + one rollup; the numbers a batch-size/packing
    // planner consumes next to x107/x271.
    q("x356_span_corruption_plan",
      """WITH t AS (SELECT source, CAST(size(split(text,' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT source, n, (n*15) div 100 AS masked, ((n*15) div 100 + 2) div 3 AS spans FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS docs, CAST(sum(n) AS BIGINT) AS toks,
        |       CAST(sum(masked) AS BIGINT) AS masked_toks, CAST(sum(spans) AS BIGINT) AS n_spans,
        |       CAST(sum(n - masked + spans) AS BIGINT) AS enc_toks,
        |       CAST(sum(masked + spans + 1) AS BIGINT) AS dec_toks,
        |       CAST(sum(masked) * 10000 div sum(n) AS BIGINT) AS mask_bp
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // Cross-source duplication matrix (r16): WHICH sources copy from
    // each other — x47's normalized key grouped to (source, source)
    // pairs with shared-key and doc counts; the inter-source
    // contamination screen that decides whether dedup must run globally
    // or per-source suffices. Keys shuffle, never text; the matrix is
    // source²-sized (index-sized output).
    q("x357_cross_source_dup_matrix",
      """WITH k AS (SELECT doc_id, source, md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key FROM documents),
        |ks AS (SELECT key, source FROM k GROUP BY 1, 2),
        |docs AS (SELECT key, source, CAST(count(*) AS BIGINT) AS nd FROM k GROUP BY 1, 2)
        |SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared_keys,
        |       CAST(sum(da.nd) AS BIGINT) AS docs_a, CAST(sum(db.nd) AS BIGINT) AS docs_b
        |FROM ks a JOIN ks b ON a.key = b.key AND a.source < b.source
        |JOIN docs da ON da.key = a.key AND da.source = a.source
        |JOIN docs db ON db.key = b.key AND db.source = b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Temperature-sampled mixture weights (r16, the mC4/PaLM α = 0.5
    // discipline): per-source sampling weight ∝ √tokens, the standard
    // compromise between proportional (big sources dominate) and
    // uniform (tiny sources over-epoch). Cross-engine float safety: ONE
    // rounded sqrt per source into integer units, then integer-division
    // bp shares — no float SUM ever crosses an engine boundary (a
    // 20-double sum is order-sensitive; 20 BIGINTs are not).
    // Proportional bp rides along as the comparison column.
    q("x358_temperature_weights",
      """WITH t AS (SELECT source, CAST(sum(size(split(text,' '))) AS BIGINT) AS toks FROM documents GROUP BY 1),
        |r AS (SELECT source, toks, CAST(round(sqrt(CAST(toks AS DOUBLE))) AS BIGINT) AS su FROM t),
        |s AS (SELECT CAST(sum(su) AS BIGINT) AS tot FROM r)
        |SELECT source, toks, su AS sqrt_units,
        |       CAST(su * 10000 div (SELECT tot FROM s) AS BIGINT) AS w_bp,
        |       CAST(toks * 10000 div (SELECT CAST(sum(toks) AS BIGINT) FROM t) AS BIGINT) AS prop_bp
        |FROM r ORDER BY source""".stripMargin),

    // Duplicate-cluster size profile (r16): the histogram of x47
    // exact-dup GROUP sizes (1 / 2 / 3-4 / 5-8 / 9+) with groups, docs,
    // and removable docs per bucket — the shape that decides between
    // keep-first dedup and x355's occurrence-thresholded variant (a
    // corpus whose dups sit in a few mega-groups dedups very
    // differently from one with many pairs). One key census; buckets
    // are group-sized.
    q("x361_dup_cluster_profile",
      """WITH k AS (SELECT doc_id, md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key FROM documents),
        |g AS (SELECT key, CAST(count(*) AS BIGINT) AS sz FROM k GROUP BY 1),
        |b AS (SELECT CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
        |                  WHEN sz <= 4 THEN '3-4' WHEN sz <= 8 THEN '5-8'
        |                  ELSE '9+' END AS bucket, sz FROM g)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(sz) AS BIGINT) AS n_docs,
        |       CAST(sum(sz - 1) AS BIGINT) AS n_removable
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // Train→test split leakage at n-gram granularity (r16): after
    // x106's content-hash row split, what share of the test split's
    // DISTINCT 8-grams also appears in train — the leakage x108's
    // benchmark scan asks about an external eval set, asked about the
    // corpus's OWN held-out split (dedup survivors still share
    // boilerplate; a high leak_bp says the split must move to x344's
    // domain granularity). Gram HASHES shuffle, never text; one
    // semi-join of test grams against the distinct train-gram set.
    q("x362_split_ngram_leakage",
      """WITH s AS (SELECT doc_id, text,
        |    cast(conv(substr(md5(cast(doc_id AS STRING)),1,8),16,10) AS BIGINT) % 100 AS b
        |  FROM documents),
        |sp AS (SELECT doc_id, text, CASE WHEN b < 80 THEN 'train' ELSE 'test' END AS split FROM s),
        |t AS (SELECT doc_id, split, split(text, ' ') AS w FROM sp),
        |g AS (SELECT doc_id, split, md5(array_join(slice(w, i, 8), ' ')) AS h
        |      FROM (SELECT doc_id, split, w, explode(sequence(1, size(w) - 7)) AS i FROM t WHERE size(w) >= 8)),
        |tr AS (SELECT h FROM g WHERE split = 'train' GROUP BY 1),
        |te AS (SELECT doc_id, h FROM g WHERE split = 'test' GROUP BY 1, 2),
        |hit AS (SELECT te.doc_id, te.h FROM te JOIN tr ON te.h = tr.h),
        |docs AS (SELECT cast(count(DISTINCT doc_id) AS BIGINT) AS test_docs,
        |                cast(count(*) AS BIGINT) AS test_grams FROM te),
        |leak AS (SELECT cast(count(DISTINCT doc_id) AS BIGINT) AS leaked_docs,
        |                cast(count(*) AS BIGINT) AS leaked_grams FROM hit)
        |SELECT d.test_docs, l.leaked_docs, d.test_grams, l.leaked_grams,
        |       cast(l.leaked_grams * 10000 div d.test_grams AS BIGINT) AS leak_bp
        |FROM docs d CROSS JOIN leak l""".stripMargin,
      """WITH s AS (SELECT doc_id, text,
        |    cast(('0x'||substr(md5(cast(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100 AS b
        |  FROM documents),
        |sp AS (SELECT doc_id, text, CASE WHEN b < 80 THEN 'train' ELSE 'test' END AS split FROM s),
        |t AS (SELECT doc_id, split, string_split(text, ' ') AS w FROM sp),
        |g AS (SELECT doc_id, split, md5(array_to_string(w[i:i+7], ' ')) AS h
        |      FROM (SELECT doc_id, split, w, unnest(generate_series(1, len(w) - 7)) AS i FROM t WHERE len(w) >= 8)),
        |tr AS (SELECT h FROM g WHERE split = 'train' GROUP BY 1),
        |te AS (SELECT doc_id, h FROM g WHERE split = 'test' GROUP BY 1, 2),
        |hit AS (SELECT te.doc_id, te.h FROM te JOIN tr ON te.h = tr.h),
        |docs AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS test_docs,
        |                CAST(count(*) AS BIGINT) AS test_grams FROM te),
        |leak AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS leaked_docs,
        |                CAST(count(*) AS BIGINT) AS leaked_grams FROM hit)
        |SELECT d.test_docs, l.leaked_docs, d.test_grams, l.leaked_grams,
        |       CAST(l.leaked_grams * 10000 // d.test_grams AS BIGINT) AS leak_bp
        |FROM docs d CROSS JOIN leak l""".stripMargin),

    // Vocabulary coverage curve (r16): the cumulative token share the
    // top-N most frequent words cover, for N ∈ {4,8,16,32} — the
    // tokenizer-vocab-sizing number read against x95's vocab census and
    // x338's Zipf slope (a steep curve says a small vocab + BPE merges
    // suffice; a flat one says character fallback will fire often).
    // One word census (the x13 wordcount shuffle), one ranked window
    // over the census (vocab-sized, not corpus-sized).
    q("x359_vocab_coverage",
      """WITH w AS (SELECT explode(split(text,' ')) AS word FROM documents),
        |c AS (SELECT word, cast(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
        |r AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rk,
        |             cast(sum(n) OVER (ORDER BY n DESC, word ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM c),
        |tot AS (SELECT cast(sum(n) AS BIGINT) AS t, cast(count(*) AS BIGINT) AS v FROM c)
        |SELECT cast(k AS BIGINT) AS vocab_size,
        |       cast(max(cum) FILTER (WHERE rk <= k) AS BIGINT) AS covered_toks,
        |       (SELECT t FROM tot) AS total_toks,
        |       cast(max(cum) FILTER (WHERE rk <= k) * 10000 div (SELECT t FROM tot) AS BIGINT) AS coverage_bp,
        |       (SELECT v FROM tot) AS distinct_words
        |FROM r CROSS JOIN (SELECT explode(array(4, 8, 16, 32)) AS k)
        |GROUP BY k ORDER BY vocab_size""".stripMargin,
      """WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
        |r AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rk,
        |             CAST(sum(n) OVER (ORDER BY n DESC, word ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v FROM c)
        |SELECT CAST(k AS BIGINT) AS vocab_size,
        |       CAST(max(cum) FILTER (WHERE rk <= k) AS BIGINT) AS covered_toks,
        |       (SELECT t FROM tot) AS total_toks,
        |       CAST(max(cum) FILTER (WHERE rk <= k) * 10000 // (SELECT t FROM tot) AS BIGINT) AS coverage_bp,
        |       (SELECT v FROM tot) AS distinct_words
        |FROM r CROSS JOIN (SELECT unnest([4, 8, 16, 32]) AS k) ks
        |GROUP BY k ORDER BY vocab_size""".stripMargin),

    // int8 embedding-quantization error (r16): the
    // store-embeddings-as-int8 decision (4× index shrink vs float32)
    // priced on the corpus — per-component symmetric quantization to
    // the 127 grid, reconstruction error ‖v − r‖²/‖v‖² in bp per label.
    // Arithmetic: v and the reconstruction both live on the exact
    // 1e-4 integer grid (one deterministic IEEE division + round per
    // component maps the int8 code back); error/energy sums are exact
    // BIGINTs, the final ratio is integer division.
    q("x360_int8_quant_error",
      """WITH q AS (SELECT vec_id, label, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS vbp,
        |               transform(embedding, x -> greatest(least(CAST(round(CAST(x AS DOUBLE)*127) AS BIGINT), 127), -127)) AS q8 FROM embeddings),
        |d AS (SELECT vec_id, label, element_at(vbp, i) AS v, CAST(round(element_at(q8, i) * 10000 / 127.0) AS BIGINT) AS r
        |      FROM (SELECT vec_id, label, vbp, q8, explode(sequence(1, 64)) AS i FROM q)),
        |per AS (SELECT vec_id, label, CAST(sum((v-r)*(v-r)) AS BIGINT) AS err, CAST(sum(v*v) AS BIGINT) AS n2 FROM d GROUP BY 1, 2),
        |rel AS (SELECT vec_id, label, CAST(err * 10000 div n2 AS BIGINT) AS rel_bp FROM per WHERE n2 > 0)
        |SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(CAST(sum(rel_bp) AS BIGINT) div count(*) AS BIGINT) AS mean_err_bp,
        |       CAST(max(rel_bp) AS BIGINT) AS max_err_bp
        |FROM rel GROUP BY label ORDER BY label""".stripMargin),

    // KMV cross-source Jaccard estimate vs exact (r17, the k-minimum-
    // values distinct sketch of Bar-Yossef et al. applied to set
    // RESEMBLANCE): per source pair, the 64 smallest portable hashes of
    // the union of the two sources' 3-shingle sets vote on Jaccard
    // (fraction of the bottom-k present in both), reported next to the
    // exact value with the absolute error — the sketch-accuracy tier of
    // x134's exact overlap, x56/x89's discipline for cardinality
    // sketches extended to similarity. Scale shape: per-source shingle
    // sets shuffle hash-keyed ONCE; the per-pair state is bottom-64 —
    // index-sized, mergeable, exactly what ships between executors at
    // 100 TB (the exact ni join is the oracle-side truth, priced
    // quadratic-by-design like the x48 class).
    // r18 Spark-dialect restructure (VERDICT r17 #3; guide §2 — bound the
    // state that crosses the exchange, don't replicate full sets):
    //  - hv64: each source's DISTINCT hash set is pre-restricted to its
    //    bottom-64 before the pair merge. PROVABLY output-identical: the
    //    bottom-64 of a union A∪B is a subset of bottom-64(A) ∪
    //    bottom-64(B) (any hv among the union's 64 smallest has ≤ 63
    //    union elements below it, hence ≤ 63 elements of its own source
    //    below it), and for every surviving rn ≤ 64 row the membership
    //    flags are unchanged (hv ∈ bottom-64(A∪B) ∧ hv ∈ B ⇒ hv ∈
    //    bottom-64(B) by the same counting argument) — so `ranked WHERE
    //    rn <= 64`, nboth and kk are row-identical. The pair merge now
    //    carries ≤ 64 rows per (pair, member) instead of each source's
    //    FULL distinct-hash set replicated once per containing pair
    //    (~(|sources|-1)× amplification: 3.9 M rows at sf0.1, and
    //    unboundedly worse at 100 TB — the restriction is exactly the
    //    index-sized bottom-k state the KMV sketch is supposed to ship).
    //  - pairsz: the two `sizes` joins in the final SELECT each inlined
    //    their own full shingle pipeline (Spark inlines CTEs —
    //    plans/r18/x363_kmv_source_jaccard_before.txt shows FIVE copies
    //    of the tokenize→3-gram→explode→distinct subtree); folding both
    //    sizes through the existing `mem` skeleton states `sizes` once.
    //    The IS NOT NULL filter reproduces the original INNER-join drop
    //    of a pair whose member has no ≥3-word doc.
    // The DuckDB oracle text below stays verbatim — it remains the
    // canonical statement of the semantics, and the driver's hash gate
    // is the equivalence proof.
    q("x363_kmv_source_jaccard",
      """WITH w AS (SELECT doc_id, source, split(text,' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT source, sh FROM
        |       (SELECT source, explode(array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |        FROM w WHERE size(w) >= 3)),
        |hv AS (SELECT DISTINCT source, cast(conv(substr(md5(sh),1,8),16,10) AS BIGINT) AS hv FROM sh),
        |hv64 AS (SELECT source, hv FROM (
        |          SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS srn FROM hv)
        |         WHERE srn <= 64),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |pairs AS (SELECT a.source AS s1, b.source AS s2 FROM srcs a JOIN srcs b ON a.source < b.source),
        |mem AS (SELECT s1, s2, s1 AS member FROM pairs UNION ALL SELECT s1, s2, s2 AS member FROM pairs),
        |merged AS (SELECT m.s1, m.s2, h.hv,
        |                  max(CASE WHEN h.source = m.s1 THEN 1 ELSE 0 END) AS in1,
        |                  max(CASE WHEN h.source = m.s2 THEN 1 ELSE 0 END) AS in2
        |           FROM mem m JOIN hv64 h ON h.source = m.member GROUP BY 1, 2, 3),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY s1, s2 ORDER BY hv) AS rn FROM merged),
        |kmv AS (SELECT s1, s2, cast(sum(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nboth,
        |               cast(count(*) AS BIGINT) AS kk
        |        FROM ranked WHERE rn <= 64 GROUP BY 1, 2),
        |sizes AS (SELECT source, cast(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |pairsz AS (SELECT s1, s2, n1, n2 FROM (
        |            SELECT m.s1, m.s2,
        |                   max(CASE WHEN s.source = m.s1 THEN s.n END) AS n1,
        |                   max(CASE WHEN s.source = m.s2 THEN s.n END) AS n2
        |            FROM mem m JOIN sizes s ON s.source = m.member GROUP BY 1, 2)
        |           WHERE n1 IS NOT NULL AND n2 IS NOT NULL),
        |inter AS (SELECT a.source AS s1, b.source AS s2, cast(count(*) AS BIGINT) AS ni
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2),
        |ex AS (SELECT p.s1, p.s2, coalesce(i.ni, 0) AS ni FROM pairs p
        |       LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2)
        |SELECT k.s1 AS s1, k.s2 AS s2,
        |       cast(ex.ni * 10000 div (z.n1 + z.n2 - ex.ni) AS BIGINT) AS exact_bp,
        |       cast(k.nboth * 10000 div k.kk AS BIGINT) AS kmv_bp,
        |       cast(abs(ex.ni * 10000 div (z.n1 + z.n2 - ex.ni) - k.nboth * 10000 div k.kk) AS BIGINT) AS err_bp
        |FROM kmv k JOIN ex ON ex.s1 = k.s1 AND ex.s2 = k.s2
        |JOIN pairsz z ON z.s1 = k.s1 AND z.s2 = k.s2
        |ORDER BY s1, s2""".stripMargin,
      """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT source, sh FROM
        |       (SELECT source, unnest(list_distinct([array_to_string(w[i:i+2],' ') FOR i IN range(1, len(w)-1)])) AS sh
        |        FROM w WHERE len(w) >= 3)),
        |hv AS (SELECT DISTINCT source, cast(('0x'||substr(md5(sh),1,8)) AS BIGINT) AS hv FROM sh),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |pairs AS (SELECT a.source AS s1, b.source AS s2 FROM srcs a JOIN srcs b ON a.source < b.source),
        |mem AS (SELECT s1, s2, s1 AS member FROM pairs UNION ALL SELECT s1, s2, s2 AS member FROM pairs),
        |merged AS (SELECT m.s1, m.s2, h.hv,
        |                  max(CASE WHEN h.source = m.s1 THEN 1 ELSE 0 END) AS in1,
        |                  max(CASE WHEN h.source = m.s2 THEN 1 ELSE 0 END) AS in2
        |           FROM mem m JOIN hv h ON h.source = m.member GROUP BY 1, 2, 3),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY s1, s2 ORDER BY hv) AS rn FROM merged),
        |kmv AS (SELECT s1, s2, CAST(sum(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nboth,
        |               CAST(count(*) AS BIGINT) AS kk
        |        FROM ranked WHERE rn <= 64 GROUP BY 1, 2),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS ni
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2),
        |ex AS (SELECT p.s1, p.s2, coalesce(i.ni, 0) AS ni FROM pairs p
        |       LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2)
        |SELECT k.s1 AS s1, k.s2 AS s2,
        |       CAST(ex.ni * 10000 // (n1.n + n2.n - ex.ni) AS BIGINT) AS exact_bp,
        |       CAST(k.nboth * 10000 // k.kk AS BIGINT) AS kmv_bp,
        |       CAST(abs(ex.ni * 10000 // (n1.n + n2.n - ex.ni) - k.nboth * 10000 // k.kk) AS BIGINT) AS err_bp
        |FROM kmv k JOIN ex ON ex.s1 = k.s1 AND ex.s2 = k.s2
        |JOIN sizes n1 ON n1.source = k.s1 JOIN sizes n2 ON n2.source = k.s2
        |ORDER BY s1, s2""".stripMargin),

    // LSH banding sensitivity (r17): the closed-form detection S-curve
    // 1−(1−s^r)^b (the MMDS banding analysis) evaluated over the
    // MEASURED pair-similarity histogram — per (bands, rows) config and
    // Jaccard decile, how many of the corpus's actual candidate pairs
    // would the banding catch? This is the tuning report behind the
    // x74/x52 family's (16,4) choice. Every power is a CHAINED
    // MULTIPLICATION (squaring ladder), never pow() — libm pow differs
    // across engines in the last ulp, the exact hash-moving divergence
    // the dual-dialect contract forbids. The pair histogram is the
    // quadratic-by-design oracle shape (x48 class); at scale the
    // histogram comes from the banded candidates themselves.
    // r18b: x48-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8); DuckDialect drops the hint.
    q("x364_lsh_band_sensitivity",
      s"""WITH w AS (SELECT doc_id, split(text,' ') AS w FROM (SELECT /*+ REPARTITION($hintPar, doc_id) */ doc_id, text FROM documents)),
        |sh AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |j AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS c
        |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT j.a, j.b, CAST(j.c * 10000 div (na.n + nb.n - j.c) AS BIGINT) AS jac_bp
        |        FROM j JOIN n na ON na.doc_id = j.a JOIN n nb ON nb.doc_id = j.b),
        |bk AS (SELECT CAST(jac_bp div 1000 AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_pairs
        |       FROM jac GROUP BY 1),
        |base AS (SELECT decile, n_pairs, CAST(decile * 1000 + 500 AS DOUBLE) / 10000.0 AS s FROM bk),
        |l1 AS (SELECT *, s*s AS s_2 FROM base),
        |l2 AS (SELECT *, s_2*s_2 AS s_4 FROM l1),
        |l3 AS (SELECT *, s_4*s_4 AS s_8 FROM l2),
        |cfg AS (SELECT * FROM VALUES (16, 4), (8, 8), (32, 2) AS cfg(b, r)),
        |sr AS (SELECT l3.*, cfg.b, cfg.r,
        |              CASE cfg.r WHEN 2 THEN s_2 WHEN 4 THEN s_4 ELSE s_8 END AS srv
        |       FROM l3 CROSS JOIN cfg),
        |y0 AS (SELECT *, 1.0 - srv AS y FROM sr),
        |y1 AS (SELECT *, y*y AS y_2 FROM y0),
        |y2c AS (SELECT *, y_2*y_2 AS y_4 FROM y1),
        |y3 AS (SELECT *, y_4*y_4 AS y_8 FROM y2c),
        |y4c AS (SELECT *, y_8*y_8 AS y_16 FROM y3),
        |y5 AS (SELECT *, y_16*y_16 AS y_32 FROM y4c)
        |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
        |       decile AS jac_decile, n_pairs,
        |       CAST(round((1.0 - CASE b WHEN 8 THEN y_8 WHEN 16 THEN y_16 ELSE y_32 END) * 10000) AS BIGINT) AS detect_bp,
        |       CAST(round((1.0 - CASE b WHEN 8 THEN y_8 WHEN 16 THEN y_16 ELSE y_32 END) * n_pairs) AS BIGINT) AS exp_caught
        |FROM y5 ORDER BY bands, rows_per_band, jac_decile""".stripMargin),

    // MinHash Jaccard estimator error (r17): for every banded candidate
    // pair with ≥4/16 agreeing signature components, the signature
    // estimate m/16 next to the exact shingle Jaccard and the absolute
    // error — the per-pair accuracy audit of the x74 estimator the
    // banding threshold sweeps (x355, x364) assume. Same portable
    // 16-perm family as x74 verbatim, so this measures the PRODUCTION
    // signatures, not an idealized one. Scale: candidates come from the
    // banded join (never all pairs); the exact verify join is per
    // candidate — the standard verify-stage cost.
    // r18b: x48-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8); DuckDialect drops the hint.
    q("x365_minhash_jaccard_err",
      s"""WITH w AS (SELECT doc_id, split(text,' ') AS w FROM (SELECT /*+ REPARTITION($hintPar, doc_id) */ doc_id, text FROM documents)),
        |sh AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |hv AS (SELECT doc_id, cast(conv(substr(md5(sh),1,8),16,10) AS BIGINT) AS hv FROM sh),
        |perm AS (SELECT * FROM VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891) AS perm(i,a,b)),
        |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
        |m AS (SELECT sa.doc_id AS a, sb.doc_id AS b, CAST(count(*) AS BIGINT) AS m
        |      FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.mh = sb.mh AND sa.doc_id < sb.doc_id
        |      GROUP BY 1,2 HAVING count(*) >= 4),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |c AS (SELECT m.a, m.b, m.m, CAST(count(*) AS BIGINT) AS c
        |      FROM m JOIN sh x ON x.doc_id = m.a JOIN sh y ON y.doc_id = m.b AND y.sh = x.sh
        |      GROUP BY 1, 2, 3)
        |SELECT c.a AS a, c.b AS b, CAST(c.m * 10000 div 16 AS BIGINT) AS est_bp,
        |       CAST(c.c * 10000 div (na.n + nb.n - c.c) AS BIGINT) AS exact_bp,
        |       CAST(abs(c.m * 10000 div 16 - c.c * 10000 div (na.n + nb.n - c.c)) AS BIGINT) AS err_bp
        |FROM c JOIN n na ON na.doc_id = c.a JOIN n nb ON nb.doc_id = c.b
        |ORDER BY a, b""".stripMargin),

    // Embedding centroid shift (r17): per label, the squared distance
    // between the even-vec_id half's integer-mean centroid and the odd
    // half's — the embedding-space distribution-shift screen (x190/x313
    // are the scalar-feature drift tests; this is their vector-space
    // sibling, and a split that should be exchangeable — a large shift2
    // flags a labeling or pipeline artifact). Integer means use the
    // kmeans +10000 offset so Spark's truncating div and DuckDB's
    // flooring // agree on negatives; everything downstream is exact
    // BIGINT arithmetic. Scale: one (label, half, dim)-keyed partial
    // agg — index-sized state, no pairs.
    q("x366_embedding_centroid_shift",
      """WITH q AS (SELECT vec_id, label, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, label, i, element_at(qv, i) AS val FROM (SELECT vec_id, label, qv, explode(sequence(1, 64)) AS i FROM q)),
        |m AS (SELECT label, vec_id % 2 AS half, i,
        |             CAST(CAST(sum(val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000 AS mv
        |      FROM d GROUP BY 1, 2, 3),
        |s AS (SELECT e.label, CAST(sum((e.mv - o.mv)*(e.mv - o.mv)) AS BIGINT) AS shift2
        |      FROM (SELECT * FROM m WHERE half = 0) e
        |      JOIN (SELECT * FROM m WHERE half = 1) o ON e.label = o.label AND e.i = o.i
        |      GROUP BY 1),
        |cnt AS (SELECT label,
        |               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
        |               CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
        |        FROM embeddings GROUP BY 1)
        |SELECT CAST(cnt.label AS BIGINT) AS label, cnt.n_even AS n_even, cnt.n_odd AS n_odd, s.shift2 AS shift2
        |FROM cnt JOIN s ON s.label = cnt.label ORDER BY label""".stripMargin),

    // Near-dup transitivity audit (r17): dedup CLUSTERING (x111's
    // connected components over pair edges) assumes near-dup similarity
    // is roughly transitive; this measures it — for each threshold, of
    // the wedges a–b–c (both edges ≥ t), how many close (jac(a,c) ≥ t)?
    // A low closure rate at the production threshold means component
    // dedup over-merges chains of pairwise-similar docs, the classic
    // LSH-cluster failure mode. Edges come from the shared-shingle pair
    // join (oracle-quadratic, x48 class); wedges join edges on the
    // middle doc — at scale edges are the BANDED candidates, so wedge
    // count is bounded by the verified pair set, never the corpus.
    // r18b: x48-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8); DuckDialect drops the hint.
    q("x367_neardup_transitivity",
      s"""WITH w AS (SELECT doc_id, split(text,' ') AS w FROM (SELECT /*+ REPARTITION($hintPar, doc_id) */ doc_id, text FROM documents)),
        |sh AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |j AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS c
        |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT j.a, j.b, CAST(j.c * 10000 div (na.n + nb.n - j.c) AS BIGINT) AS jac_bp
        |        FROM j JOIN n na ON na.doc_id = j.a JOIN n nb ON nb.doc_id = j.b),
        |thr AS (SELECT * FROM VALUES (1000), (3000), (5000) AS thr(t)),
        |e AS (SELECT thr.t, jac.a, jac.b FROM jac CROSS JOIN thr WHERE jac.jac_bp >= thr.t),
        |wdg AS (SELECT e1.t, e1.a, e1.b AS mid, e2.b AS c
        |        FROM e e1 JOIN e e2 ON e1.t = e2.t AND e1.b = e2.a),
        |chk AS (SELECT wdg.t, CASE WHEN coalesce(j2.jac_bp, 0) >= wdg.t THEN 1 ELSE 0 END AS closed
        |        FROM wdg LEFT JOIN jac j2 ON j2.a = wdg.a AND j2.b = wdg.c)
        |SELECT CAST(t AS BIGINT) AS thr_bp, CAST(count(*) AS BIGINT) AS wedges,
        |       CAST(sum(closed) AS BIGINT) AS closed,
        |       CAST(sum(closed) * 10000 div count(*) AS BIGINT) AS closure_bp
        |FROM chk GROUP BY t ORDER BY thr_bp""".stripMargin),

    // Boilerplate edge census (r17): shared 8-token document PREFIXES
    // and SUFFIXES across the corpus — the chunk-boundary/boilerplate
    // signal (CCNet drops repeated leading/trailing paragraphs; a
    // shared suffix across sources is a template footer, a shared
    // prefix a scraper banner). Groups of ≥2 docs per edge hash, with
    // the source spread (n_sources > 1 = cross-source template, the
    // dedup-resistant kind). Scale: one narrow scan, hash-keyed agg —
    // no pairs at all.
    q("x368_boilerplate_edges",
      """WITH w AS (SELECT doc_id, source, split(text,' ') AS w FROM documents),
        |edges AS (
        | SELECT doc_id, source, 'prefix' AS part, md5(concat_ws(' ', slice(w, 1, 8))) AS h FROM w WHERE size(w) >= 8
        | UNION ALL
        | SELECT doc_id, source, 'suffix' AS part, md5(concat_ws(' ', slice(w, -8, 8))) AS h FROM w WHERE size(w) >= 8),
        |g AS (SELECT part, h, cast(count(*) AS BIGINT) AS n_docs,
        |             cast(count(DISTINCT source) AS BIGINT) AS n_sources,
        |             cast(min(doc_id) AS BIGINT) AS first_doc
        |      FROM edges GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part, h, n_docs, n_sources, first_doc FROM g ORDER BY part, n_docs DESC, h""".stripMargin,
      """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
        |edges AS (
        | SELECT doc_id, source, 'prefix' AS part, md5(array_to_string(w[1:8],' ')) AS h FROM w WHERE len(w) >= 8
        | UNION ALL
        | SELECT doc_id, source, 'suffix' AS part, md5(array_to_string(w[len(w)-7:len(w)],' ')) AS h FROM w WHERE len(w) >= 8),
        |g AS (SELECT part, h, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |             CAST(min(doc_id) AS BIGINT) AS first_doc
        |      FROM edges GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part, h, n_docs, n_sources, first_doc FROM g ORDER BY part, n_docs DESC, h""".stripMargin),

    // int8 rank stability (r17): does x360's per-vector max-abs int8
    // quantization CHANGE retrieval rankings, not just add numeric
    // error? For each of the 8 query vectors, overlap@10 between the
    // exact integer-dot top-10 over the corpus and the quantized-dot
    // top-10 — the serving-fidelity question an int8 ANN deployment
    // actually asks (x360 measures per-element error; this measures
    // the decision change). All dots are exact BIGINTs; the only
    // doubles are the two rounded scalings, shared verbatim with x360's
    // discipline. Scale: 8 broadcast queries × corpus — one pass, two
    // rankings, no corpus self-join.
    q("x369_int8_rank_stability",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |mx AS (SELECT vec_id, CAST(max(abs(val)) AS BIGINT) AS m FROM d GROUP BY 1),
        |q8 AS (SELECT d.vec_id, d.i, CAST(round(CAST(d.val AS DOUBLE) * 127.0 / CAST(greatest(mx.m, CAST(1 AS BIGINT)) AS DOUBLE)) AS BIGINT) AS v8
        |       FROM d JOIN mx ON mx.vec_id = d.vec_id),
        |de AS (SELECT qd.vec_id AS qid, cd.vec_id AS vid, CAST(sum(qd.val * cd.val) AS BIGINT) AS dot
        |       FROM (SELECT * FROM d WHERE vec_id < 8) qd
        |       JOIN (SELECT * FROM d WHERE vec_id >= 8) cd ON qd.i = cd.i GROUP BY 1, 2),
        |d8 AS (SELECT qd.vec_id AS qid, cd.vec_id AS vid, CAST(sum(qd.v8 * cd.v8) AS BIGINT) AS dot
        |       FROM (SELECT * FROM q8 WHERE vec_id < 8) qd
        |       JOIN (SELECT * FROM q8 WHERE vec_id >= 8) cd ON qd.i = cd.i GROUP BY 1, 2),
        |rexact AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vid) AS rn FROM de),
        |r8 AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vid) AS rn FROM d8)
        |SELECT e.qid AS qid, CAST(count(*) AS BIGINT) AS overlap10
        |FROM (SELECT qid, vid FROM rexact WHERE rn <= 10) e
        |JOIN (SELECT qid, vid FROM r8 WHERE rn <= 10) g ON e.qid = g.qid AND e.vid = g.vid
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Dedup keep-bias report (r17): does keep-first exact dedup (x47's
    // normalized key, min-doc_id keeper) systematically bias what
    // survives? Per source: docs vs keepers, and the mean length of
    // kept vs dropped docs — the selection-bias screen a dedup policy
    // review reads before trusting downstream length/quality stats
    // (dropped-longer here means replicas skew long, not that dedup
    // "prefers" short text — the report is what surfaces it). Scale:
    // x47's key shuffle + one per-source rollup; text never rides a
    // shuffle (n_chars is precomputed).
    q("x370_dedup_keep_bias",
      """WITH k AS (SELECT doc_id, source, n_chars,
        |  md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key FROM documents),
        |f AS (SELECT *, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY key) THEN 1 ELSE 0 END AS kept FROM k),
        |g AS (SELECT source,
        |             CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(kept) AS BIGINT) AS n_kept,
        |             CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        |             CAST(sum(CASE WHEN kept = 0 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
        |      FROM f GROUP BY 1)
        |SELECT source, n_docs, n_kept,
        |       CASE WHEN n_kept > 0 THEN CAST(kept_chars div n_kept AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept_mean_chars,
        |       CASE WHEN n_docs - n_kept > 0 THEN CAST(dropped_chars div (n_docs - n_kept) AS BIGINT) ELSE CAST(0 AS BIGINT) END AS dropped_mean_chars
        |FROM g ORDER BY source""".stripMargin),

    // Language × source composition matrix (r17): per (lang, source)
    // doc/char counts with the source's share of its language — the
    // mixture-design report that decides per-language sampling weights
    // BEFORE x358's temperature pass (the documents table carries a
    // lang column; x51 is the inference path for corpora that don't).
    // One grouped rollup + a language-keyed total join — census shapes.
    q("x371_lang_source_mix",
      """WITH m AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs FROM m GROUP BY 1)
        |SELECT m.lang AS lang, m.source AS source, m.n_docs AS n_docs, m.chars AS chars,
        |       CAST(m.n_docs * 10000 div t.lang_docs AS BIGINT) AS lang_share_bp
        |FROM m JOIN t ON t.lang = m.lang
        |ORDER BY lang, source""".stripMargin),

    // LSH bucket-load census (r17b): the shuffle-skew audit the banded
    // near-dup join's scale argument rests on. The production 4-band ×
    // 4-row banding over x74's 16-component signatures hashes each
    // band's 4 ordered components into a bucket key; per band this
    // reports buckets, colliding buckets, the largest bucket, and the
    // candidate-pair load sum n·(n−1)/2 — the number the 100 TB banded
    // join actually shuffles. A hot bucket here IS the skew that
    // salting/AQE would have to absorb. Scale: signature-sized
    // grouping only — no pair join anywhere (the census prices the
    // pair join without running it).
    q("x372_lsh_bucket_skew",
      """WITH w AS (SELECT doc_id, split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |hv AS (SELECT doc_id, cast(conv(substr(md5(sh),1,8),16,10) AS BIGINT) AS hv FROM sh),
        |perm AS (SELECT * FROM VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891) AS perm(i,a,b)),
        |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
        |bk AS (SELECT doc_id, CAST(i div 4 AS BIGINT) AS band,
        |              md5(listagg(CAST(mh AS STRING), ',') WITHIN GROUP (ORDER BY i)) AS bkey
        |       FROM sig GROUP BY doc_id, CAST(i div 4 AS BIGINT)),
        |b2 AS (SELECT band, bkey, CAST(count(*) AS BIGINT) AS sz FROM bk GROUP BY 1, 2)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS colliding_buckets,
        |       CAST(max(sz) AS BIGINT) AS max_bucket,
        |       CAST(sum(sz*(sz-1) div 2) AS BIGINT) AS cand_pairs
        |FROM b2 GROUP BY band ORDER BY band""".stripMargin),

    // Duplicate-group purity (r17b): of x47's normalized-key duplicate
    // groups (size ≥ 2), how many span multiple sources or multiple
    // languages — per x361 size bucket. Cross-source groups are the
    // dedup-resistant template class (x368's signal at group level);
    // cross-lang groups are usually key-collision artifacts worth
    // eyeballing. Complements x357 (pairwise source matrix) and x361
    // (size profile) with the group-level composition. Scale: x47's
    // key shuffle + a bucket rollup — census shapes only.
    q("x373_dup_group_purity",
      """WITH k AS (SELECT doc_id, source, lang,
        |  md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key FROM documents),
        |g AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(DISTINCT source) AS BIGINT) AS ns,
        |             CAST(count(DISTINCT lang) AS BIGINT) AS nl
        |      FROM k GROUP BY 1 HAVING count(*) >= 2),
        |b AS (SELECT CASE WHEN n = 2 THEN '2' WHEN n <= 4 THEN '3-4'
        |                  WHEN n <= 8 THEN '5-8' ELSE '9+' END AS bucket, n, ns, nl FROM g)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS groups,
        |       CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS cross_source,
        |       CAST(sum(CASE WHEN nl > 1 THEN 1 ELSE 0 END) AS BIGINT) AS cross_lang,
        |       CAST(sum(n) AS BIGINT) AS docs,
        |       CAST(sum(CASE WHEN ns > 1 THEN n ELSE 0 END) AS BIGINT) AS docs_cross_source
        |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Padding-waste report (r17b): the context-window utilization
    // comparison a training-prep review reads before choosing a
    // batching policy. Per source, the single-doc-per-sequence policy
    // at T=512 (pad short docs to T, truncate long ones) vs x107's
    // concat-and-chunk packing: kept/pad/truncated tokens and the
    // utilization of each policy in bp. All ceil divisions are exact
    // integer (t+511) div 512 — no floats anywhere. Scale: one narrow
    // scan + a per-source rollup.
    q("x374_padding_waste",
      """WITH t AS (SELECT source, size(split(text,' ')) AS n FROM documents),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS docs, CAST(sum(n) AS BIGINT) AS toks,
        |             CAST(sum(least(n, 512)) AS BIGINT) AS kept,
        |             CAST(sum(greatest(n - 512, 0)) AS BIGINT) AS truncated
        |      FROM t GROUP BY 1)
        |SELECT source, docs, toks, kept,
        |       CAST(docs*512 - kept AS BIGINT) AS pad, truncated,
        |       CAST(kept * 10000 div (docs * 512) AS BIGINT) AS util_single_bp,
        |       CAST((toks + 511) div 512 AS BIGINT) AS packed_windows,
        |       CAST(toks * 10000 div (((toks + 511) div 512) * 512) AS BIGINT) AS util_packed_bp
        |FROM s ORDER BY source""".stripMargin),

    // Bigram conditional entropy per source (r17b): H(w2|w1) =
    // H(bigram) − H(unigram) in nats — the redundancy/predictability
    // measure that separates template-heavy sources (low conditional
    // entropy: the next token is predictable) from diverse prose. The
    // corpus-level sibling of x232's per-doc bigram surprise and x73's
    // per-doc token entropy; x237 is the ln() dual-engine precedent
    // and the round-to-4 discipline is its. Scale: two hash-keyed
    // token censuses per source — no pairs, no windows.
    q("x375_bigram_entropy_rate",
      """WITH w AS (SELECT source, split(text,' ') AS w FROM documents),
        |u AS (SELECT source, tok, count(*) AS n
        |      FROM (SELECT source, explode(w) AS tok FROM w) GROUP BY 1, 2),
        |ut AS (SELECT source, sum(n) AS tot FROM u GROUP BY 1),
        |hu AS (SELECT u.source, -sum((n*1e0/tot) * ln(n*1e0/tot)) AS h
        |       FROM u JOIN ut ON ut.source = u.source GROUP BY u.source),
        |bg AS (SELECT source, g, count(*) AS n
        |       FROM (SELECT source, explode(transform(sequence(1, size(w)-1), i -> concat_ws(' ', slice(w, i, 2)))) AS g
        |             FROM w WHERE size(w) >= 2) GROUP BY 1, 2),
        |bt AS (SELECT source, sum(n) AS tot FROM bg GROUP BY 1),
        |hb AS (SELECT bg.source, -sum((n*1e0/tot) * ln(n*1e0/tot)) AS h
        |       FROM bg JOIN bt ON bt.source = bg.source GROUP BY bg.source)
        |SELECT hu.source AS source, cast(ut.tot AS BIGINT) AS n_toks, cast(bt.tot AS BIGINT) AS n_bigrams,
        |       round(hu.h, 4) AS h_uni, round(hb.h, 4) AS h_bi, round(hb.h - hu.h, 4) AS h_cond
        |FROM hu JOIN hb ON hb.source = hu.source
        |JOIN ut ON ut.source = hu.source JOIN bt ON bt.source = hu.source
        |ORDER BY source""".stripMargin,
      """WITH w AS (SELECT source, string_split(text,' ') AS w FROM documents),
        |u AS (SELECT source, tok, count(*) AS n
        |      FROM (SELECT source, unnest(w) AS tok FROM w) GROUP BY 1, 2),
        |ut AS (SELECT source, sum(n) AS tot FROM u GROUP BY 1),
        |hu AS (SELECT u.source, -sum((n*1e0/tot) * ln(n*1e0/tot)) AS h
        |       FROM u JOIN ut ON ut.source = u.source GROUP BY u.source),
        |bg AS (SELECT source, g, count(*) AS n
        |       FROM (SELECT source, unnest([array_to_string(w[i:i+1],' ') FOR i IN range(1, len(w))]) AS g
        |             FROM w WHERE len(w) >= 2) GROUP BY 1, 2),
        |bt AS (SELECT source, sum(n) AS tot FROM bg GROUP BY 1),
        |hb AS (SELECT bg.source, -sum((n*1e0/tot) * ln(n*1e0/tot)) AS h
        |       FROM bg JOIN bt ON bt.source = bg.source GROUP BY bg.source)
        |SELECT hu.source AS source, CAST(ut.tot AS BIGINT) AS n_toks, CAST(bt.tot AS BIGINT) AS n_bigrams,
        |       round(hu.h, 4) AS h_uni, round(hb.h, 4) AS h_bi, round(hb.h - hu.h, 4) AS h_cond
        |FROM hu JOIN hb ON hb.source = hu.source
        |JOIN ut ON ut.source = hu.source JOIN bt ON bt.source = hu.source
        |ORDER BY source""".stripMargin),

    // Quality-aware keeper uplift (r17b): what changes if x47's
    // keep-first canonical rule becomes keep-best-quality (x50's
    // quality_bp, ties → lowest doc_id)? Per source of the FIRST
    // keeper: groups, keepers that change, and the mean kept quality
    // under each policy — the measured uplift a pipeline review weighs
    // against keep-first's O(1) determinism. Both policies are
    // row_number windows over the same key shuffle; text never rides
    // a shuffle (the key and score are per-row). Scale: x47's key
    // shuffle + two windows + census rollups.
    q("x376_quality_keeper_uplift",
      """WITH w0 AS (SELECT doc_id, source, split(text,' ') AS w FROM documents),
        |k AS (SELECT doc_id, source,
        |        md5(array_join(sort_array(array_distinct(w)),' ')) AS key,
        |        cast(floor((0.4*(size(array_distinct(w))/cast(size(w) AS DOUBLE))
        |              + 0.3*(1.0 - size(filter(w, x -> x IN ('a','the')))/cast(size(w) AS DOUBLE))
        |              + 0.3*least(size(w)/100.0, 1.0))*10000.0) AS BIGINT) AS q
        |      FROM w0),
        |f AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rf,
        |             row_number() OVER (PARTITION BY key ORDER BY q DESC, doc_id) AS rq FROM k),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS kept_first, CAST(sum(q) AS BIGINT) AS q_first
        |      FROM f WHERE rf = 1 GROUP BY 1),
        |b AS (SELECT source, CAST(count(*) AS BIGINT) AS kept_best, CAST(sum(q) AS BIGINT) AS q_best
        |      FROM f WHERE rq = 1 GROUP BY 1),
        |g AS (SELECT key, max(CASE WHEN rf = 1 THEN source END) AS src_first,
        |             max(CASE WHEN rf = 1 THEN doc_id END) AS d_first,
        |             max(CASE WHEN rq = 1 THEN doc_id END) AS d_best
        |      FROM f GROUP BY 1),
        |ch AS (SELECT src_first AS source, CAST(count(*) AS BIGINT) AS n_groups,
        |              CAST(sum(CASE WHEN d_first <> d_best THEN 1 ELSE 0 END) AS BIGINT) AS changed
        |       FROM g GROUP BY 1)
        |SELECT ch.source AS source, ch.n_groups AS n_groups, ch.changed AS changed,
        |       a.kept_first AS kept_first, b.kept_best AS kept_best,
        |       CAST(a.q_first div a.kept_first AS BIGINT) AS mean_q_first,
        |       CAST(b.q_best div b.kept_best AS BIGINT) AS mean_q_best
        |FROM ch JOIN a ON a.source = ch.source JOIN b ON b.source = ch.source
        |ORDER BY source""".stripMargin),

    // Chunk-boundary context loss (r17b): x107's concat-and-chunk
    // packing splits documents at 512-token boundaries; every split
    // destroys the word 8-grams that straddle it — context a model
    // never sees intact. Per source: within-doc 8-grams, boundaries
    // landing inside docs, exactly how many 8-grams each boundary
    // destroys (clipped to the doc's own window range, so short or
    // boundary-adjacent docs count exactly), and the loss in bp — the
    // number that motivates doc-aligned or overlap-stride packing.
    // Scale: x107's running-total window (contract-scale global
    // window; the x100 two-pass tier is the scale form) + an
    // explode over boundary hits only.
    q("x377_chunk_boundary_loss",
      """WITH t AS (SELECT doc_id, source, size(split(text,' ')) AS n FROM documents),
        |c AS (SELECT doc_id, source, cast(n AS BIGINT) AS n,
        |        cast(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS start
        |      FROM t),
        |v AS (SELECT *, cast(floor(start/512.0) AS BIGINT) AS fw,
        |             cast(floor((start + n - 1)/512.0) AS BIGINT) AS lw FROM c),
        |b AS (SELECT source, n, start, explode(sequence(fw + 1, lw)) AS wb
        |      FROM v WHERE lw > fw AND n >= 8),
        |d AS (SELECT source, greatest(cast(0 AS BIGINT),
        |        least(wb*512 - 1, start + n - 8) - greatest(start, wb*512 - 7) + 1) AS destroyed FROM b),
        |g AS (SELECT source, cast(sum(CASE WHEN n >= 8 THEN n - 7 ELSE 0 END) AS BIGINT) AS grams,
        |             cast(sum(CASE WHEN n >= 8 THEN lw - fw ELSE 0 END) AS BIGINT) AS boundaries
        |      FROM v GROUP BY 1),
        |e AS (SELECT source, cast(sum(destroyed) AS BIGINT) AS destroyed FROM d GROUP BY 1)
        |SELECT g.source AS source, g.grams AS grams, g.boundaries AS boundaries,
        |       coalesce(e.destroyed, cast(0 AS BIGINT)) AS destroyed,
        |       cast(coalesce(e.destroyed, cast(0 AS BIGINT)) * 10000 div g.grams AS BIGINT) AS loss_bp
        |FROM g LEFT JOIN e ON e.source = g.source ORDER BY source""".stripMargin,
      """WITH t AS (SELECT doc_id, source, len(string_split(text,' ')) AS n FROM documents),
        |c AS (SELECT doc_id, source, CAST(n AS BIGINT) AS n,
        |        CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS start
        |      FROM t),
        |v AS (SELECT *, CAST(floor(start/512.0) AS BIGINT) AS fw,
        |             CAST(floor((start + n - 1)/512.0) AS BIGINT) AS lw FROM c),
        |b AS (SELECT source, n, start, unnest(generate_series(fw + 1, lw)) AS wb
        |      FROM v WHERE lw > fw AND n >= 8),
        |d AS (SELECT source, greatest(CAST(0 AS BIGINT),
        |        least(wb*512 - 1, start + n - 8) - greatest(start, wb*512 - 7) + 1) AS destroyed FROM b),
        |g AS (SELECT source, CAST(sum(CASE WHEN n >= 8 THEN n - 7 ELSE 0 END) AS BIGINT) AS grams,
        |             CAST(sum(CASE WHEN n >= 8 THEN lw - fw ELSE 0 END) AS BIGINT) AS boundaries
        |      FROM v GROUP BY 1),
        |e AS (SELECT source, CAST(sum(destroyed) AS BIGINT) AS destroyed FROM d GROUP BY 1)
        |SELECT g.source AS source, g.grams AS grams, g.boundaries AS boundaries,
        |       coalesce(e.destroyed, CAST(0 AS BIGINT)) AS destroyed,
        |       CAST(coalesce(e.destroyed, CAST(0 AS BIGINT)) * 10000 // g.grams AS BIGINT) AS loss_bp
        |FROM g LEFT JOIN e ON e.source = g.source ORDER BY source""".stripMargin),

    // Embedding norm outlier screen (r17b): per label, the lower-median
    // squared norm on the exact ×10000 integer grid, the MAD around it
    // (both medians positional — value at rank (n+1) div 2 with
    // vec_id tie-break, so both engines pick the identical element; no
    // percentile interpolation, no floats), and the count beyond
    // 3×MAD — the embedding-QC pass that catches collapsed or blown-up
    // vectors BEFORE they enter an ANN index (a zero vector scores
    // cosine NaN; a huge-norm one dominates IVF centroids). x188 is
    // the scalar MAD sibling; this is its vector-norm form. Scale:
    // label-keyed windows over index-sized rows.
    q("x378_embedding_norm_outliers",
      """WITH q AS (SELECT vec_id, label, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, label, element_at(qv, i) AS val FROM (SELECT vec_id, label, qv, explode(sequence(1, 64)) AS i FROM q)),
        |t AS (SELECT vec_id, label, CAST(sum(val*val) AS BIGINT) AS norm2 FROM d GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY norm2, vec_id) AS rn,
        |             count(*) OVER (PARTITION BY label) AS cnt FROM t),
        |med AS (SELECT label, norm2 AS med FROM r WHERE rn = (cnt + 1) div 2),
        |dev AS (SELECT t.label, t.vec_id, abs(t.norm2 - med.med) AS dev
        |        FROM t JOIN med ON med.label = t.label),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY dev, vec_id) AS rn,
        |              count(*) OVER (PARTITION BY label) AS cnt FROM dev),
        |mad AS (SELECT label, dev AS mad FROM r2 WHERE rn = (cnt + 1) div 2)
        |SELECT CAST(t.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(med.med) AS BIGINT) AS med_norm2, CAST(max(mad.mad) AS BIGINT) AS mad,
        |       CAST(sum(CASE WHEN abs(t.norm2 - med.med) > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM t JOIN med ON med.label = t.label JOIN mad ON mad.label = t.label
        |GROUP BY t.label ORDER BY label""".stripMargin),

    // Shingle-size sensitivity (r17b): for the PRODUCTION banded
    // candidate pairs (x74, m ≥ 8), the exact Jaccard at shingle
    // widths 3 (the production choice), 5, and 8 side by side — how
    // much the similarity measure itself moves with the width, the
    // tuning evidence behind w=3 that x364 (banding) and x365
    // (estimator) take as given. Wider shingles punish small edits
    // harder, so jac3 ≥ jac5 ≥ jac8 row-wise on edit-replica pairs.
    // Scale: candidates from the banded join only; the three gram
    // joins are per-candidate (verify-stage cost) — but the exact gram
    // sides are the audited truth, so contract-SF only by design.
    // r18b: x48-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8); DuckDialect drops the hint.
    q("x379_shingle_size_sensitivity",
      s"""WITH w AS (SELECT doc_id, split(text,' ') AS w FROM (SELECT /*+ REPARTITION($hintPar, doc_id) */ doc_id, text FROM documents)),
        |sh AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |hv AS (SELECT doc_id, cast(conv(substr(md5(sh),1,8),16,10) AS BIGINT) AS hv FROM sh),
        |perm AS (SELECT * FROM VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891) AS perm(i,a,b)),
        |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
        |pairs AS (SELECT sa.doc_id AS a, sb.doc_id AS b
        |          FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.mh = sb.mh AND sa.doc_id < sb.doc_id
        |          GROUP BY 1,2 HAVING count(*) >= 8),
        |s5 AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-4), i -> concat_ws(' ', slice(w, i, 5))))) AS sh
        |       FROM w WHERE size(w) >= 5),
        |s8 AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-7), i -> concat_ws(' ', slice(w, i, 8))))) AS sh
        |       FROM w WHERE size(w) >= 8),
        |n3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |n5 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s5 GROUP BY 1),
        |n8 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s8 GROUP BY 1),
        |i3 AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS c FROM pairs p
        |       JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b AND y.sh = x.sh GROUP BY 1,2),
        |i5 AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS c FROM pairs p
        |       JOIN s5 x ON x.doc_id = p.a JOIN s5 y ON y.doc_id = p.b AND y.sh = x.sh GROUP BY 1,2),
        |i8 AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS c FROM pairs p
        |       JOIN s8 x ON x.doc_id = p.a JOIN s8 y ON y.doc_id = p.b AND y.sh = x.sh GROUP BY 1,2)
        |SELECT p.a AS a, p.b AS b,
        |       CAST(coalesce(i3.c, CAST(0 AS BIGINT)) * 10000 div (a3.n + b3.n - coalesce(i3.c, CAST(0 AS BIGINT))) AS BIGINT) AS jac3_bp,
        |       CAST(coalesce(i5.c, CAST(0 AS BIGINT)) * 10000 div (a5.n + b5.n - coalesce(i5.c, CAST(0 AS BIGINT))) AS BIGINT) AS jac5_bp,
        |       CAST(coalesce(i8.c, CAST(0 AS BIGINT)) * 10000 div (a8.n + b8.n - coalesce(i8.c, CAST(0 AS BIGINT))) AS BIGINT) AS jac8_bp
        |FROM pairs p
        |JOIN n3 a3 ON a3.doc_id = p.a JOIN n3 b3 ON b3.doc_id = p.b
        |JOIN n5 a5 ON a5.doc_id = p.a JOIN n5 b5 ON b5.doc_id = p.b
        |JOIN n8 a8 ON a8.doc_id = p.a JOIN n8 b8 ON b8.doc_id = p.b
        |LEFT JOIN i3 ON i3.a = p.a AND i3.b = p.b
        |LEFT JOIN i5 ON i5.a = p.a AND i5.b = p.b
        |LEFT JOIN i8 ON i8.a = p.a AND i8.b = p.b
        |ORDER BY a, b""".stripMargin),

    // Dedup idempotence audit (r17b): apply x47's keep-first once,
    // re-census the keepers — pass 2 MUST find zero duplicates, the
    // fixpoint property every incremental pipeline silently assumes
    // when it unions a deduped base with fresh arrivals (a non-zero
    // pass-2 row means the key function is unstable and the base
    // needs periodic re-dedup). Two rows, one per pass. Scale: the
    // same key shuffle twice — the audit costs one extra census.
    q("x380_dedup_idempotence",
      """WITH k AS (SELECT doc_id,
        |  md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key FROM documents),
        |f AS (SELECT doc_id, key, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn FROM k),
        |p1 AS (SELECT CAST(count(*) AS BIGINT) AS docs, CAST(count(DISTINCT key) AS BIGINT) AS keys FROM k),
        |p2 AS (SELECT CAST(count(*) AS BIGINT) AS docs, CAST(count(DISTINCT key) AS BIGINT) AS keys
        |       FROM f WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS pass, docs, keys, CAST(docs - keys AS BIGINT) AS dups FROM p1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT) AS pass, docs, keys, CAST(docs - keys AS BIGINT) AS dups FROM p2
        |) ORDER BY pass""".stripMargin),

    // Novelty decay curve (r17b): per arrival decile (doc_id order —
    // the corpus's ingest order), how many docs carry a never-seen
    // x47 key, with the running cumulative novelty share — how fast
    // dedup savings grow as a corpus ages, the curve behind x348's
    // forecast (a crawl whose novelty decays fast should shift spend
    // to new sources; x337 classifies one snapshot boundary, this
    // profiles the whole history). Scale: key shuffle + one global
    // ntile (contract-scale window; x100's two-pass tier at scale).
    q("x381_novelty_decay",
      """WITH k AS (SELECT doc_id,
        |  md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key FROM documents),
        |f AS (SELECT doc_id, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY key) THEN 1 ELSE 0 END AS novel FROM k),
        |d AS (SELECT doc_id, novel, ntile(10) OVER (ORDER BY doc_id) AS decile FROM f),
        |g AS (SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS docs,
        |             CAST(sum(novel) AS BIGINT) AS novel FROM d GROUP BY 1)
        |SELECT decile, docs, novel,
        |       CAST(novel * 10000 div docs AS BIGINT) AS novel_bp,
        |       CAST(sum(novel) OVER (ORDER BY decile) * 10000
        |            div sum(docs) OVER (ORDER BY decile) AS BIGINT) AS cum_novel_bp
        |FROM g ORDER BY decile""".stripMargin),

    // PQ code utilization (r17b): after x342's one-refinement training
    // (8 subspaces × 4 codes, its arithmetic verbatim through the a1
    // assignment), per subspace: codes used, dead codes, the hottest
    // code's share, and the exact integer imbalance
    // Σ(4·n_c − n)² over all 4 codes (16× the squared deviation from
    // perfect balance; dead codes contribute n²) — dead or lopsided
    // codes are wasted quantizer capacity that x360/x369 would surface
    // later as error, this catches it at train time. Scale: the
    // encode is index-sized (points × 4 codes per subspace).
    q("x382_pq_code_balance",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |s AS (SELECT vec_id, CAST((i-1) div 8 AS BIGINT) AS sub, CAST((i-1) % 8 + 1 AS BIGINT) AS j, val FROM d),
        |c0 AS (SELECT sub, vec_id AS code, j, val AS cval FROM s WHERE vec_id < 4),
        |pts AS (SELECT vec_id, sub, j, val FROM s WHERE vec_id >= 4),
        |d0 AS (SELECT p.vec_id, p.sub, c.code, CAST(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
        |       FROM pts p JOIN c0 c ON p.sub = c.sub AND p.j = c.j GROUP BY 1, 2, 3),
        |a0 AS (SELECT vec_id, sub, code, dist FROM
        |       (SELECT vec_id, sub, code, dist, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn FROM d0)
        |       WHERE rn = 1),
        |c1 AS (SELECT a.sub, a.code, p.j,
        |         CAST(CAST(sum(p.val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000 AS cval
        |       FROM a0 a JOIN pts p ON p.vec_id = a.vec_id AND p.sub = a.sub GROUP BY 1, 2, 3),
        |d1 AS (SELECT p.vec_id, p.sub, c.code, CAST(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
        |       FROM pts p JOIN c1 c ON p.sub = c.sub AND p.j = c.j GROUP BY 1, 2, 3),
        |a1 AS (SELECT vec_id, sub, code, dist FROM
        |       (SELECT vec_id, sub, code, dist, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn FROM d1)
        |       WHERE rn = 1),
        |b AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS n FROM a1 GROUP BY 1, 2),
        |t AS (SELECT sub, CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS used,
        |             CAST(max(n) AS BIGINT) AS mx FROM b GROUP BY 1),
        |imb AS (SELECT b.sub, CAST(sum((b.n * 4 - t.tot) * (b.n * 4 - t.tot)) AS BIGINT) AS i16
        |        FROM b JOIN t ON t.sub = b.sub GROUP BY 1)
        |SELECT t.sub AS subspace, t.tot AS n_points, t.used AS codes_used,
        |       CAST(4 - t.used AS BIGINT) AS dead_codes, t.mx AS max_code_n,
        |       CAST(t.mx * 10000 div t.tot AS BIGINT) AS max_share_bp,
        |       CAST(imb.i16 + (4 - t.used) * t.tot * t.tot AS BIGINT) AS imbalance16
        |FROM t JOIN imb ON imb.sub = t.sub ORDER BY subspace""".stripMargin),

    // Epoch repetition plan (r17b, the data-constrained regime of
    // Muennighoff et al.): a uniform-mixture token budget B = 2× the
    // corpus, split equally across sources; small sources repeat (up
    // to a 4-epoch cap), large ones undershoot their share. Per
    // source: the share, epochs allocated (ceil of share/toks,
    // capped), tokens actually served, the unmet remainder, and the
    // EFFECTIVE tokens under halving per-epoch utility (10000/5000/
    // 2500/1250 bp — repeated data is worth less, the paper's
    // diminishing-returns shape) with the final partial epoch
    // pro-rated exactly. All integer arithmetic: ceil = (a+b-1) div b,
    // utility via a CASE ladder on full epochs — no pow, no floats.
    // Scale: one per-source rollup over token counts.
    q("x383_epoch_plan",
      """WITH t AS (SELECT source, CAST(sum(size(split(text,' '))) AS BIGINT) AS toks FROM documents GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_sources, CAST(sum(toks) AS BIGINT) AS total FROM t),
        |p AS (SELECT t.source, t.toks, CAST(2 * g.total div g.n_sources AS BIGINT) AS share FROM t CROSS JOIN g),
        |e AS (SELECT source, toks, share,
        |        least(CAST(4 AS BIGINT), CAST((share + toks - 1) div toks AS BIGINT)) AS epochs FROM p),
        |s AS (SELECT *, CAST(least(share, toks * epochs) AS BIGINT) AS served FROM e),
        |x AS (SELECT *, CAST(served div toks AS BIGINT) AS f, CAST(served % toks AS BIGINT) AS r FROM s)
        |SELECT source, toks, share AS target_toks, epochs,
        |       served AS served_toks,
        |       CAST(greatest(CAST(0 AS BIGINT), share - served) AS BIGINT) AS unmet_toks,
        |       CAST((CASE f WHEN 0 THEN CAST(0 AS BIGINT) WHEN 1 THEN toks*10000 WHEN 2 THEN toks*15000
        |                    WHEN 3 THEN toks*17500 ELSE toks*18750 END
        |           + CASE f WHEN 0 THEN r*10000 WHEN 1 THEN r*5000 WHEN 2 THEN r*2500
        |                    WHEN 3 THEN r*1250 ELSE CAST(0 AS BIGINT) END) div 10000 AS BIGINT) AS effective_toks
        |FROM x ORDER BY source""".stripMargin),

    // Dedup-key partition balance (r17b): the physical-layer audit —
    // how evenly x47's key hashes across 32 shuffle partitions, using
    // the portable md5-prefix hash (Spark's hash() is Murmur3, DuckDB's
    // differs — the engine-internal partitioner is EXACTLY what this
    // audits by proxy). Per bucket: distinct keys and doc rows — a hot
    // bucket here means the real dedup shuffle would strangle on one
    // reducer (x176 diagnoses value skew; this diagnoses KEY-hash
    // skew, which salting can't fix — only a better hash can). Scale:
    // one census over the key table.
    q("x384_key_partition_balance",
      """WITH k AS (SELECT doc_id,
        |  md5(array_join(sort_array(array_distinct(split(text,' '))),' ')) AS key FROM documents),
        |b AS (SELECT doc_id, key, CAST(conv(substr(key,1,8),16,10) AS BIGINT) % 32 AS bucket FROM k)
        |SELECT bucket, CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Document-frequency spectrum (r17b): how many vocabulary terms
    // appear in exactly 1 doc, 2–10, 11–100, 100+ — the IDF-health
    // census under the x113 TF-IDF / x114 BM25 tier (a spectrum
    // dominated by df=1 hapax terms inflates the inverted index for
    // no retrieval value — x231's posting lists, priced by bucket;
    // x248 counts hapax per source, this profiles the whole df
    // distribution). Scale: one distinct-terms-per-doc explode + two
    // hash aggs — census shapes.
    q("x385_doc_freq_spectrum",
      """WITH d AS (SELECT doc_id, explode(array_distinct(split(text,' '))) AS tok FROM documents),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM d GROUP BY 1),
        |b AS (SELECT CASE WHEN df = 1 THEN '1' WHEN df <= 10 THEN '2-10'
        |                  WHEN df <= 100 THEN '11-100' ELSE '100+' END AS bucket, df FROM df)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_terms, CAST(sum(df) AS BIGINT) AS postings,
        |       CAST(min(df) AS BIGINT) AS min_df, CAST(max(df) AS BIGINT) AS max_df
        |FROM b GROUP BY 1 ORDER BY min_df""".stripMargin),

    // LSH recall audit (r17b): the MEASURED complement of x364's
    // theoretical S-curve — per exact-Jaccard decile, how many pairs
    // the production 4-band × 4-row banding over x74's signatures
    // actually catches (a pair is caught iff some full band matches),
    // next to the closed-form 1−(1−s⁴)⁴ prediction at the decile
    // midpoint (squaring ladder, never libm pow; exact-dup pairs at
    // jac 1.0 clamp into decile 9 so the midpoint stays in-domain).
    // Theory says the
    // s-curve; this measures it on the production hash family — the
    // gap IS the estimator's banding loss. Scale: the exact side is
    // the all-sharing-pairs gram join, the audited truth — contract-SF
    // only (exactBaselines, x365's rule).
    // r18b: x48-class serialized-expansion fix (see hintPar /
    // history/OPTIMIZATION_r18.md §8); DuckDialect drops the hint.
    q("x386_lsh_recall_audit",
      s"""WITH w AS (SELECT doc_id, split(text,' ') AS w FROM (SELECT /*+ REPARTITION($hintPar, doc_id) */ doc_id, text FROM documents)),
        |sh AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3))))) AS sh
        |       FROM w WHERE size(w) >= 3),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |j AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS c
        |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT j.a, j.b, CAST(j.c * 10000 div (na.n + nb.n - j.c) AS BIGINT) AS jac_bp
        |        FROM j JOIN n na ON na.doc_id = j.a JOIN n nb ON nb.doc_id = j.b),
        |hv AS (SELECT doc_id, cast(conv(substr(md5(sh),1,8),16,10) AS BIGINT) AS hv FROM sh),
        |perm AS (SELECT * FROM VALUES (0,1299721,104729),(1,1299827,104743),(2,1300021,104759),
        |         (3,1300033,104761),(4,1300109,104773),(5,1300151,104779),(6,1300187,104789),
        |         (7,1300201,104801),(8,1300247,104803),(9,1300289,104827),(10,1300303,104831),
        |         (11,1300313,104849),(12,1300333,104851),(13,1300351,104869),(14,1300369,104879),
        |         (15,1300387,104891) AS perm(i,a,b)),
        |sig AS (SELECT doc_id, p.i, min(mod(p.a*hv.hv + p.b, 2147483647)) AS mh
        |        FROM hv CROSS JOIN perm p GROUP BY 1,2),
        |bk AS (SELECT doc_id, CAST(i div 4 AS BIGINT) AS band,
        |              md5(listagg(CAST(mh AS STRING), ',') WITHIN GROUP (ORDER BY i)) AS bkey
        |       FROM sig GROUP BY doc_id, CAST(i div 4 AS BIGINT)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |dec AS (SELECT jac.a, jac.b, least(CAST(jac.jac_bp div 1000 AS BIGINT), CAST(9 AS BIGINT)) AS decile,
        |               CASE WHEN cand.a IS NULL THEN 0 ELSE 1 END AS caught
        |        FROM jac LEFT JOIN cand ON cand.a = jac.a AND cand.b = jac.b),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs,
        |             CAST(sum(caught) AS BIGINT) AS caught FROM dec GROUP BY 1),
        |th AS (SELECT decile, n_pairs, caught,
        |              CAST(decile * 1000 + 500 AS DOUBLE) / 10000.0 AS s FROM g),
        |l1 AS (SELECT *, s*s AS s2 FROM th),
        |l2 AS (SELECT *, s2*s2 AS s4 FROM l1),
        |l3 AS (SELECT *, (1.0 - s4)*(1.0 - s4) AS y2 FROM l2),
        |l4 AS (SELECT *, y2*y2 AS y4 FROM l3)
        |SELECT decile AS jac_decile, n_pairs, caught,
        |       CAST(caught * 10000 div n_pairs AS BIGINT) AS recall_bp,
        |       CAST(round((1.0 - y4) * 10000) AS BIGINT) AS theory_bp
        |FROM l4 ORDER BY jac_decile""".stripMargin),

    // Top principal component by integer power iteration (r17b): the
    // embedding-spectrum screen behind x354's anisotropy number —
    // WHICH direction carries the dominant variance, and how much.
    // Exact integer covariance on a ±100 centered grid (the ×10⁴
    // values re-gridded by a positive-offset division so div and //
    // agree on negatives — the coarser grid keeps every later product
    // inside 64 bits at ANY corpus size up to ~10⁷ vectors), three
    // C·v multiplications from the all-ones start, each renormalized
    // to max-component ≈±1000 by DIVISION ONLY ((p+m) div (m div 10³
    // + 1), no p·10⁴ product — the 10× soak caught the multiplying
    // form overflowing), then the eigenvalue read off the 4th
    // multiplication: at convergence C·v = λv, so max|C·v| div
    // max|v| IS λ — no quadratic form. Output:
    // the 64-dim direction with λ and its share of total variance.
    // Scale: covariance is a (dim × dim)-keyed agg — index-sized
    // state; iterations touch 64×64 rows.
    q("x387_top_pc_power",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |m AS (SELECT i, CAST(CAST(sum(val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000 AS mv FROM d GROUP BY 1),
        |c AS (SELECT d.vec_id, d.i, CAST((d.val - m.mv + 20000) div 200 AS BIGINT) - 100 AS cv FROM d JOIN m ON m.i = d.i),
        |cov AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.cv * b.cv) AS BIGINT) AS s
        |        FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |v0 AS (SELECT i, CAST(1000 AS BIGINT) AS w FROM m),
        |p1 AS (SELECT cov.i, CAST(sum(cov.s * v0.w) AS BIGINT) AS pw FROM cov JOIN v0 ON v0.i = cov.j GROUP BY 1),
        |n1 AS (SELECT CAST(max(abs(pw)) div 1000 + 1 AS BIGINT) AS dv, CAST(max(abs(pw)) AS BIGINT) AS mx FROM p1),
        |v1 AS (SELECT i, CAST((pw + n1.mx) div n1.dv - n1.mx div n1.dv AS BIGINT) AS w FROM p1 CROSS JOIN n1),
        |p2 AS (SELECT cov.i, CAST(sum(cov.s * v1.w) AS BIGINT) AS pw FROM cov JOIN v1 ON v1.i = cov.j GROUP BY 1),
        |n2 AS (SELECT CAST(max(abs(pw)) div 1000 + 1 AS BIGINT) AS dv, CAST(max(abs(pw)) AS BIGINT) AS mx FROM p2),
        |v2 AS (SELECT i, CAST((pw + n2.mx) div n2.dv - n2.mx div n2.dv AS BIGINT) AS w FROM p2 CROSS JOIN n2),
        |p3 AS (SELECT cov.i, CAST(sum(cov.s * v2.w) AS BIGINT) AS pw FROM cov JOIN v2 ON v2.i = cov.j GROUP BY 1),
        |n3 AS (SELECT CAST(max(abs(pw)) div 1000 + 1 AS BIGINT) AS dv, CAST(max(abs(pw)) AS BIGINT) AS mx FROM p3),
        |v3 AS (SELECT i, CAST((pw + n3.mx) div n3.dv - n3.mx div n3.dv AS BIGINT) AS w FROM p3 CROSS JOIN n3),
        |p4 AS (SELECT cov.i, CAST(sum(cov.s * v3.w) AS BIGINT) AS pw FROM cov JOIN v3 ON v3.i = cov.j GROUP BY 1),
        |n4 AS (SELECT CAST(max(abs(pw)) AS BIGINT) AS mx FROM p4),
        |m3 AS (SELECT CAST(max(abs(w)) AS BIGINT) AS mw FROM v3),
        |lam AS (SELECT CAST(n4.mx div m3.mw AS BIGINT) AS lambda FROM n4 CROSS JOIN m3),
        |tr AS (SELECT CAST(sum(s) AS BIGINT) AS trace FROM cov WHERE i = j)
        |SELECT CAST(v3.i AS BIGINT) AS dim, v3.w AS weight, lam.lambda AS lambda,
        |       CAST(lam.lambda * 10000 div tr.trace AS BIGINT) AS explained_bp
        |FROM v3 CROSS JOIN lam CROSS JOIN tr ORDER BY dim""".stripMargin),

    // Template-strip savings (r17b): the APPLY of x368's boilerplate
    // census — drop the shared 8-token prefix and/or suffix from every
    // doc whose edge hash appears in ≥2 docs, report per source the
    // docs touched, tokens removed (clamped to the doc length when
    // both edges fire on a short doc), and the savings in bp — what
    // CCNet-style boilerplate removal would actually reclaim before
    // tokenization. Scale: two edge-hash censuses + flag joins, text
    // never shuffles.
    q("x388_template_strip_savings",
      """WITH w AS (SELECT doc_id, source, split(text,' ') AS w FROM documents),
        |base AS (SELECT source, cast(count(*) AS BIGINT) AS docs,
        |                cast(sum(size(w)) AS BIGINT) AS toks FROM w GROUP BY 1),
        |pe AS (SELECT doc_id, source, cast(size(w) AS BIGINT) AS n,
        |              md5(concat_ws(' ', slice(w, 1, 8))) AS ph,
        |              md5(concat_ws(' ', slice(w, -8, 8))) AS sh
        |       FROM w WHERE size(w) >= 8),
        |p2 AS (SELECT ph, cast(1 AS BIGINT) AS pf FROM pe GROUP BY ph HAVING count(*) >= 2),
        |s2 AS (SELECT sh, cast(1 AS BIGINT) AS sf FROM pe GROUP BY sh HAVING count(*) >= 2),
        |r AS (SELECT pe.source,
        |             least(pe.n, coalesce(p2.pf, cast(0 AS BIGINT))*8 + coalesce(s2.sf, cast(0 AS BIGINT))*8) AS removed
        |      FROM pe LEFT JOIN p2 ON p2.ph = pe.ph LEFT JOIN s2 ON s2.sh = pe.sh),
        |g AS (SELECT source, cast(sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_stripped,
        |             cast(sum(removed) AS BIGINT) AS removed_toks FROM r GROUP BY 1)
        |SELECT base.source AS source, base.docs AS docs, base.toks AS toks,
        |       coalesce(g.docs_stripped, cast(0 AS BIGINT)) AS docs_stripped,
        |       coalesce(g.removed_toks, cast(0 AS BIGINT)) AS removed_toks,
        |       cast(coalesce(g.removed_toks, cast(0 AS BIGINT)) * 10000 div base.toks AS BIGINT) AS savings_bp
        |FROM base LEFT JOIN g ON g.source = base.source ORDER BY source""".stripMargin,
      """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
        |base AS (SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |                CAST(sum(len(w)) AS BIGINT) AS toks FROM w GROUP BY 1),
        |pe AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n,
        |              md5(array_to_string(w[1:8],' ')) AS ph,
        |              md5(array_to_string(w[len(w)-7:len(w)],' ')) AS sh
        |       FROM w WHERE len(w) >= 8),
        |p2 AS (SELECT ph, CAST(1 AS BIGINT) AS pf FROM pe GROUP BY ph HAVING count(*) >= 2),
        |s2 AS (SELECT sh, CAST(1 AS BIGINT) AS sf FROM pe GROUP BY sh HAVING count(*) >= 2),
        |r AS (SELECT pe.source,
        |             least(pe.n, coalesce(p2.pf, CAST(0 AS BIGINT))*8 + coalesce(s2.sf, CAST(0 AS BIGINT))*8) AS removed
        |      FROM pe LEFT JOIN p2 ON p2.ph = pe.ph LEFT JOIN s2 ON s2.sh = pe.sh),
        |g AS (SELECT source, CAST(sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_stripped,
        |             CAST(sum(removed) AS BIGINT) AS removed_toks FROM r GROUP BY 1)
        |SELECT base.source AS source, base.docs AS docs, base.toks AS toks,
        |       coalesce(g.docs_stripped, CAST(0 AS BIGINT)) AS docs_stripped,
        |       coalesce(g.removed_toks, CAST(0 AS BIGINT)) AS removed_toks,
        |       CAST(coalesce(g.removed_toks, CAST(0 AS BIGINT)) * 10000 // base.toks AS BIGINT) AS savings_bp
        |FROM base LEFT JOIN g ON g.source = base.source ORDER BY source""".stripMargin),

    // Language-ID confusion matrix (r17b): the full predicted × true
    // matrix of x51's unigram naive-Bayes scorer (its arithmetic
    // verbatim through the argmax) — x51 reports per-language
    // accuracy; the OFF-diagonal here says which language pairs the
    // n-gram heuristic confuses, the report that decides whether a
    // language needs a stronger model before its mixture weight
    // (x371/x358) can be trusted. Scale: the scorer is a
    // (doc, candidate-language) agg over token joins — langs is a
    // small fixed set, so the cross join is a broadcast.
    q("x389_langid_confusion",
      """WITH wt AS (SELECT doc_id, lang, explode(split(text,' ')) AS w FROM documents),
        |counts AS (SELECT lang AS l, w, count(*) AS c FROM wt GROUP BY 1,2),
        |tot AS (SELECT l, sum(c) AS tc FROM counts GROUP BY 1),
        |dw AS (SELECT doc_id, lang, w, count(*) AS n FROM wt GROUP BY 1,2,3),
        |sc AS (SELECT d.doc_id, d.lang AS true_lang, t.l AS cand,
        |              sum(d.n * cast(floor(ln((coalesce(c.c,0)+1.0)/(t.tc+31.0))*1000000) AS BIGINT)) AS score
        |       FROM dw d CROSS JOIN tot t LEFT JOIN counts c ON c.l = t.l AND c.w = d.w
        |       GROUP BY 1,2,3),
        |pred AS (SELECT doc_id, true_lang, cand,
        |                row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        |         FROM sc)
        |SELECT true_lang, cand AS pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin),

    // Duplicated-window position profile (r17b): WHERE inside
    // documents does cross-doc duplication live — per relative
    // position decile, the share of word 8-gram windows whose hash
    // appears in ≥2 docs. Templates concentrate duplication at the
    // edges (x368/x388's prefix/suffix signal); plagiarized or
    // mirrored BODY text shows up mid-doc, where edge-stripping can't
    // reach and only x147/x332's span dedup can — this report says
    // which tool the corpus needs. Scale: window-hash census + a flag
    // join, no pairs (count(DISTINCT doc_id) ≥ 2 prices cross-doc
    // duplication without enumerating pairs).
    q("x390_dup_position_profile",
      """WITH w AS (SELECT doc_id, split(text,' ') AS w FROM documents),
        |win AS (SELECT doc_id, size(w) AS n, i, md5(concat_ws(' ', slice(w, i, 8))) AS h
        |        FROM (SELECT doc_id, w, explode(sequence(1, size(w)-7)) AS i FROM w WHERE size(w) >= 8)),
        |g AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT win.doc_id, win.n, win.i,
        |             CASE WHEN g.h IS NULL THEN 0 ELSE 1 END AS dup
        |      FROM win LEFT JOIN g ON g.h = win.h),
        |p AS (SELECT least(cast(9 AS BIGINT), cast((i - 1) * 10 div greatest(n - 7, 1) AS BIGINT)) AS pos_decile, dup FROM d)
        |SELECT pos_decile, cast(count(*) AS BIGINT) AS windows,
        |       cast(sum(dup) AS BIGINT) AS duplicated,
        |       cast(sum(dup) * 10000 div count(*) AS BIGINT) AS dup_bp
        |FROM p GROUP BY 1 ORDER BY pos_decile""".stripMargin,
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |win AS (SELECT doc_id, len(w) AS n, i, md5(array_to_string(w[i:i+7],' ')) AS h
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS i FROM w WHERE len(w) >= 8)),
        |g AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT win.doc_id, win.n, win.i,
        |             CASE WHEN g.h IS NULL THEN 0 ELSE 1 END AS dup
        |      FROM win LEFT JOIN g ON g.h = win.h),
        |p AS (SELECT least(CAST(9 AS BIGINT), CAST((i - 1) * 10 // greatest(n - 7, 1) AS BIGINT)) AS pos_decile, dup FROM d)
        |SELECT pos_decile, CAST(count(*) AS BIGINT) AS windows,
        |       CAST(sum(dup) AS BIGINT) AS duplicated,
        |       CAST(sum(dup) * 10000 // count(*) AS BIGINT) AS dup_bp
        |FROM p GROUP BY 1 ORDER BY pos_decile""".stripMargin),

    // Per-dimension variance spectrum (r17b): exact integer Σcv² per
    // embedding dimension on the ×10⁴ grid with its share of total
    // variance and variance rank — the flat/spiky read that says
    // whether x345's matryoshka truncation or x360's quantization will
    // be kind to this embedding space (x387 finds the top DIRECTION;
    // this is the axis-aligned spectrum that decides per-dim
    // treatments). Scale: one (dim)-keyed agg — 64 rows of state.
    q("x391_dim_variance_profile",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |m AS (SELECT i, CAST(CAST(sum(val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000 AS mv FROM d GROUP BY 1),
        |v AS (SELECT d.i, CAST(sum((d.val - m.mv)*(d.val - m.mv)) AS BIGINT) AS ss
        |      FROM d JOIN m ON m.i = d.i GROUP BY 1),
        |t AS (SELECT CAST(sum(ss) AS BIGINT) AS tot FROM v)
        |SELECT CAST(v.i AS BIGINT) AS dim, v.ss AS var_sum,
        |       CAST(v.ss * 10000 div t.tot AS BIGINT) AS share_bp,
        |       CAST(row_number() OVER (ORDER BY v.ss DESC, v.i) AS BIGINT) AS var_rank
        |FROM v CROSS JOIN t ORDER BY dim""".stripMargin),

    // IVF recall curve (r17b): the MEASURED recall-vs-nProbe trade the
    // x59/x103 ANN tiers promise, as an oracle-checked report — the
    // x386-for-IVF. Queries = vecs 0–7, coarse centers = vecs 8–15
    // (raw, deterministic), corpus = the rest, all on the ×10⁴ integer
    // grid: corpus vecs assign to their nearest center (exact L2²,
    // ties → lowest), each query ranks centers the same way, and for
    // nProbe ∈ {1,2,4,8} the probed top-10 by exact integer dot is
    // compared to the unpruned top-10. mean/min recall@10 per nProbe —
    // nProbe 8 probes every list, so its recall is 10000 bp BY
    // CONSTRUCTION (the self-check row). Scale: assignment and dots
    // are query-broadcast × corpus passes — linear, no self-join.
    q("x392_ivf_recall_curve",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |qd AS (SELECT * FROM d WHERE vec_id < 8),
        |ce AS (SELECT * FROM d WHERE vec_id >= 8 AND vec_id < 16),
        |co AS (SELECT * FROM d WHERE vec_id >= 16),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT c.vec_id, ctr.vec_id AS cid,
        |         row_number() OVER (PARTITION BY c.vec_id ORDER BY sum((c.val - ctr.val)*(c.val - ctr.val)), ctr.vec_id) AS rn
        |  FROM co c JOIN ce ctr ON ctr.i = c.i GROUP BY c.vec_id, ctr.vec_id) WHERE rn = 1),
        |qc AS (SELECT qid, cid, rn FROM (
        |  SELECT q.vec_id AS qid, ctr.vec_id AS cid,
        |         row_number() OVER (PARTITION BY q.vec_id ORDER BY sum((q.val - ctr.val)*(q.val - ctr.val)), ctr.vec_id) AS rn
        |  FROM qd q JOIN ce ctr ON ctr.i = q.i GROUP BY q.vec_id, ctr.vec_id)),
        |dots AS (SELECT q.vec_id AS qid, c.vec_id AS vid, CAST(sum(q.val * c.val) AS BIGINT) AS dot
        |         FROM qd q JOIN co c ON c.i = q.i GROUP BY 1, 2),
        |rex AS (SELECT qid, vid FROM (
        |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vid) AS rn FROM dots) WHERE rn <= 10),
        |np AS (SELECT * FROM VALUES (1),(2),(4),(8) AS np(p)),
        |cand AS (SELECT np.p, dots.qid, dots.vid, dots.dot
        |         FROM dots JOIN asg ON asg.vec_id = dots.vid
        |         JOIN qc ON qc.qid = dots.qid AND qc.cid = asg.cid
        |         CROSS JOIN np WHERE qc.rn <= np.p),
        |rc AS (SELECT p, qid, vid FROM (
        |  SELECT p, qid, vid, row_number() OVER (PARTITION BY p, qid ORDER BY dot DESC, vid) AS rn FROM cand) WHERE rn <= 10),
        |ov AS (SELECT rc.p, rc.qid, CAST(count(*) AS BIGINT) AS hit
        |       FROM rc JOIN rex ON rex.qid = rc.qid AND rex.vid = rc.vid GROUP BY 1, 2),
        |u AS (SELECT np.p, qv.vec_id AS qid FROM np
        |      CROSS JOIN (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 8) qv),
        |f AS (SELECT u.p, u.qid, coalesce(ov.hit, CAST(0 AS BIGINT)) AS hit
        |      FROM u LEFT JOIN ov ON ov.p = u.p AND ov.qid = u.qid)
        |SELECT CAST(p AS BIGINT) AS nprobe, CAST(count(*) AS BIGINT) AS queries,
        |       CAST(sum(hit) * 10000 div (count(*) * 10) AS BIGINT) AS mean_recall_bp,
        |       CAST(min(hit) AS BIGINT) AS min_recall10
        |FROM f GROUP BY p ORDER BY nprobe""".stripMargin),

    // Context-length ladder (r17b): per candidate context limit
    // ({32, 48, 64, 128} — sized to the synthetic corpus's doc-length
    // scale, where the mean doc is ~58 tokens; the ladder values are
    // the parameter, the shape is the operator), how many docs exceed
    // it and how many
    // tokens a truncate-at-limit policy would cut — the generalized
    // form of x374's single-T report, the table a context-window
    // decision actually reads (choosing T is a corpus-shaped tradeoff
    // between padding on short docs and truncation on long ones).
    // Scale: one token census crossed with a 4-row broadcast ladder.
    q("x393_context_ladder",
      """WITH t AS (SELECT cast(size(split(text,' ')) AS BIGINT) AS n FROM documents),
        |g AS (SELECT cast(count(*) AS BIGINT) AS docs, cast(sum(n) AS BIGINT) AS toks FROM t),
        |l AS (SELECT explode(array(32, 48, 64, 128)) AS ctx)
        |SELECT cast(l.ctx AS BIGINT) AS ctx_limit,
        |       cast(sum(CASE WHEN t.n > l.ctx THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
        |       cast(sum(greatest(t.n - l.ctx, cast(0 AS BIGINT))) AS BIGINT) AS trunc_toks,
        |       cast(sum(CASE WHEN t.n > l.ctx THEN 1 ELSE 0 END) * 10000 div max(g.docs) AS BIGINT) AS over_bp,
        |       cast(sum(greatest(t.n - l.ctx, cast(0 AS BIGINT))) * 10000 div max(g.toks) AS BIGINT) AS trunc_bp
        |FROM t CROSS JOIN l CROSS JOIN g
        |GROUP BY l.ctx ORDER BY ctx_limit""".stripMargin,
      """WITH t AS (SELECT CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS docs, CAST(sum(n) AS BIGINT) AS toks FROM t),
        |l AS (SELECT unnest([32, 48, 64, 128]) AS ctx)
        |SELECT CAST(l.ctx AS BIGINT) AS ctx_limit,
        |       CAST(sum(CASE WHEN t.n > l.ctx THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
        |       CAST(sum(greatest(t.n - l.ctx, CAST(0 AS BIGINT))) AS BIGINT) AS trunc_toks,
        |       CAST(sum(CASE WHEN t.n > l.ctx THEN 1 ELSE 0 END) * 10000 // max(g.docs) AS BIGINT) AS over_bp,
        |       CAST(sum(greatest(t.n - l.ctx, CAST(0 AS BIGINT))) * 10000 // max(g.toks) AS BIGINT) AS trunc_bp
        |FROM t CROSS JOIN l CROSS JOIN g
        |GROUP BY l.ctx ORDER BY ctx_limit""".stripMargin),

    // IVF list balance (r17b): the x372-for-IVF — per coarse center
    // (x392's deterministic raw-vector centers, assignment arithmetic
    // verbatim), the list population, its share, and the exact integer
    // deviation (8·n − total)² from perfect balance. A hot list is
    // probe-cost skew: every query probing it scans that fraction of
    // the corpus (the list-partitioned serving layout's task skew, the
    // IVF analog of x384's reducer skew). Scale: assignment is a
    // center-broadcast × corpus pass; the census is 8 rows.
    q("x394_ivf_list_balance",
      """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
        |d AS (SELECT vec_id, i, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
        |ce AS (SELECT * FROM d WHERE vec_id >= 8 AND vec_id < 16),
        |co AS (SELECT * FROM d WHERE vec_id >= 16),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT c.vec_id, ctr.vec_id AS cid,
        |         row_number() OVER (PARTITION BY c.vec_id ORDER BY sum((c.val - ctr.val)*(c.val - ctr.val)), ctr.vec_id) AS rn
        |  FROM co c JOIN ce ctr ON ctr.i = c.i GROUP BY c.vec_id, ctr.vec_id) WHERE rn = 1),
        |b AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM b),
        |k AS (SELECT DISTINCT vec_id AS cid FROM embeddings WHERE vec_id >= 8 AND vec_id < 16)
        |SELECT CAST(k.cid AS BIGINT) AS center,
        |       coalesce(b.n, CAST(0 AS BIGINT)) AS n_vecs,
        |       CAST(coalesce(b.n, CAST(0 AS BIGINT)) * 10000 div t.tot AS BIGINT) AS share_bp,
        |       CAST((coalesce(b.n, CAST(0 AS BIGINT)) * 8 - t.tot) * (coalesce(b.n, CAST(0 AS BIGINT)) * 8 - t.tot) AS BIGINT) AS deviation64
        |FROM k LEFT JOIN b ON b.cid = k.cid CROSS JOIN t ORDER BY center""".stripMargin),

    // Intra-doc code-switch screen (r17b): docs whose first and second
    // halves classify as DIFFERENT languages under x51's scorer (its
    // smoothing and argmax verbatim, applied per half) — mixed-language
    // documents poison both the x51 corpus-level model and any
    // per-language mixture weight (x371/x358); this counts them per
    // source. The language model stays the x51 full-corpus unigram
    // table (the halves are scored against it, not against
    // half-trained models). Scale: token joins against the broadcast
    // language table, halves keyed per doc — no pairs.
    q("x395_code_switch_screen",
      """WITH w AS (SELECT doc_id, source, split(text,' ') AS w FROM documents),
        |wt AS (SELECT doc_id, source, CAST(size(w) AS BIGINT) AS n, i, element_at(w, i) AS tok
        |       FROM (SELECT doc_id, source, w, explode(sequence(1, size(w))) AS i FROM w)),
        |full0 AS (SELECT d.lang, x.tok, count(*) AS c
        |          FROM (SELECT doc_id, lang FROM documents) d
        |          JOIN (SELECT doc_id, tok FROM wt) x ON x.doc_id = d.doc_id GROUP BY 1, 2),
        |tot AS (SELECT lang AS l, sum(c) AS tc FROM full0 GROUP BY 1),
        |h AS (SELECT doc_id, source, CASE WHEN i * 2 <= n THEN 0 ELSE 1 END AS half, tok FROM wt),
        |hw AS (SELECT doc_id, source, half, tok, count(*) AS n FROM h GROUP BY 1, 2, 3, 4),
        |sc AS (SELECT hw.doc_id, hw.source, hw.half, t.l AS cand,
        |              sum(hw.n * CAST(floor(ln((coalesce(f.c,0)+1.0)/(t.tc+31.0))*1000000) AS BIGINT)) AS score
        |       FROM hw CROSS JOIN tot t
        |       LEFT JOIN full0 f ON f.lang = t.l AND f.tok = hw.tok
        |       GROUP BY 1, 2, 3, 4),
        |pred AS (SELECT doc_id, source, half, cand FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id, half ORDER BY score DESC, cand) AS rn FROM sc) WHERE rn = 1),
        |dd AS (SELECT p0.doc_id, p0.source,
        |              CASE WHEN p0.cand <> p1.cand THEN 1 ELSE 0 END AS switched
        |       FROM (SELECT * FROM pred WHERE half = 0) p0
        |       JOIN (SELECT * FROM pred WHERE half = 1) p1 ON p1.doc_id = p0.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(sum(switched) AS BIGINT) AS switched,
        |       CAST(sum(switched) * 10000 div count(*) AS BIGINT) AS switch_bp
        |FROM dd GROUP BY 1 ORDER BY source""".stripMargin)
  )

  /** Generator for the x340 unrolled 3-round k-means train (one text
    * template, so the three structurally-identical round blocks can
    * never drift apart the way hand-copied SQL can; x329's permValues
    * interpolation is the precedent for generated contract text).
    * Semantics per round r (x333's arithmetic verbatim):
    * c_r = integer-mean centroids from assignment a_{r-1}
    * (a_0 = assignment under the k-lowest-vec_id initial centroids),
    * a_r = nearest-centroid reassignment under c_r (ties → lowest cid),
    * s_r = per-cluster census (n, exact BIGINT inertia) of a_r.
    * Output: (rk, cluster_id, n, inertia) — one block per round, the
    * convergence trace a training loop reads. The iterative scale form
    * is llm/KMeans.scala (x341, same oracle — the x148/x149 policy). */
  private def kmeansTrain3: String = {
    def round(r: Int) =
      s"""c$r AS (SELECT a.cid, p.dim,
         |         cast(cast(sum(p.val + 10000) AS BIGINT) div count(*) AS BIGINT) - 10000 AS cval
         |       FROM a${r - 1} a JOIN pts p ON p.vec_id = a.vec_id GROUP BY 1, 2),
         |d$r AS (SELECT p.vec_id, c.cid, cast(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
         |       FROM pts p JOIN c$r c ON p.dim = c.dim GROUP BY 1, 2),
         |a$r AS (SELECT vec_id, cid, dist FROM
         |       (SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$r)
         |       WHERE rn = 1),
         |s$r AS (SELECT cid, cast(count(*) AS BIGINT) AS n, cast(sum(dist) AS BIGINT) AS inertia FROM a$r GROUP BY 1)"""
    def sel(r: Int) =
      s"""SELECT cast($r AS BIGINT) AS rk, k.cid AS cluster_id,
         |         coalesce(s$r.n, cast(0 AS BIGINT)) AS n,
         |         coalesce(s$r.inertia, cast(0 AS BIGINT)) AS inertia
         |  FROM k LEFT JOIN s$r ON s$r.cid = k.cid"""
    s"""WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
       |d AS (SELECT vec_id, i AS dim, element_at(qv, i) AS val FROM (SELECT vec_id, qv, explode(sequence(1, 64)) AS i FROM q)),
       |c0 AS (SELECT vec_id AS cid, dim, val AS cval FROM d WHERE vec_id < 8),
       |pts AS (SELECT vec_id, dim, val FROM d WHERE vec_id >= 8),
       |d0 AS (SELECT p.vec_id, c.cid, cast(sum((p.val - c.cval)*(p.val - c.cval)) AS BIGINT) AS dist
       |       FROM pts p JOIN c0 c ON p.dim = c.dim GROUP BY 1, 2),
       |a0 AS (SELECT vec_id, cid, dist FROM
       |       (SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d0)
       |       WHERE rn = 1),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |k AS (SELECT DISTINCT vec_id AS cid FROM embeddings WHERE vec_id < 8)
       |SELECT * FROM (
       |${sel(1)}
       |  UNION ALL ${sel(2)}
       |  UNION ALL ${sel(3)}
       |) ORDER BY rk, cluster_id""".stripMargin
  }

  /** name → Spark SQL, insertion-ordered. */
  val sparkSql: ListMap[String, String] =
    ListMap(all.map(x => x.name -> x.spark): _*)

  /** name → DuckDB oracle SQL, insertion-ordered. */
  val oracleSql: ListMap[String, String] =
    ListMap(all.map(x => x.name -> x.oracle): _*)
}
