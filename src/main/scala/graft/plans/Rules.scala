package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

/** Fuses the portable-family content-hash SQL composition
  * `cast(conv(substr(md5(s),1,8),16,10) AS BIGINT)` into the codegen'd
  * [[graft.functions.Md5Prefix32Expr]] primitive (r18, VERDICT r17 #1;
  * guide: expressions/codegen — eliminate the interpreted/alloc-heavy
  * chain in the hottest projection).
  *
  * The SQL form pays, PER CALL: a 32-char hex-string render inside
  * `md5`, a substring copy, a base-16 `conv` parse, and a string→long
  * cast. The fused expression hashes the UTF-8 bytes in place with a
  * thread-local digest — Md5Prefix32Spec pins the two bit-identical on
  * the edge classes (empty/NULL/multi-byte/long), and the r17 kernel
  * swaps measured the same fusion at 6.1× on HOF-heavy scans.
  *
  * 21 declared queries state this composition (x80's per-character-
  * position hash is the 63.7 s / 21%-of-the-xops-wall case VERDICT r17
  * names); rewriting the PLAN rather than 21 SQL texts keeps every
  * declared query text — and every DuckDB oracle — byte-identical while
  * routing all of them through the fused kernel.
  *
  * Match conditions (all required, else leave the tree alone):
  *  - the md5 argument is a STRING cast to binary (what SQL `md5(s)`
  *    analyzes to) — Md5Prefix32Expr hashes UTF-8 bytes, which is
  *    exactly Cast(string AS binary)'s encoding;
  *  - substr(_, 1, 8), conv(_, 16, 10), cast to BIGINT — the first 8
  *    hex digits parse to [0, 2³²), so overflow/ANSI eval-mode
  *    differences in the replaced Cast/Conv cannot be observed.
  * Idempotent: the rewritten tree contains no Conv, so it cannot
  * re-match. Subquery plans are walked too (transformUpWithSubqueries):
  * several inventory queries hash inside CTEs referenced from scalar
  * subqueries. */
object FuseMd5Prefix32 extends Rule[LogicalPlan] {
  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _                            => None
    }
  }

  private val fuse: PartialFunction[Expression, Expression] = {
    case Cast(
          Conv(Substring(Md5(Cast(s, BinaryType, _, _)), IntLit(1), IntLit(8)),
               IntLit(16), IntLit(10), _),
          LongType, _, _) if s.dataType == StringType =>
      graft.functions.Md5Prefix32Expr(s)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case p => p.transformExpressionsUp(fuse)
    }
}

/** Defers expensive deterministic projections past a top-k (Sort + Limit).
  *
  * Catalyst plans `SELECT f(x) ... ORDER BY k LIMIT n` as
  * `TakeOrderedAndProject(Project(f(x), scan))` — computing f over EVERY
  * input row before the limit. When the sort keys reference only the
  * projection's input, the projection can run after the limit instead —
  * f over ≤ n rows.
  *
  * Emitted shape is STATS-HYBRID (round 9, SCALE.md §25):
  *
  *  - input ≤ the broadcast threshold → `Limit(Project(f(x), Sort))`:
  *    one terminal `TakeOrderedAndProjectExec`, f(x) on the ≤ n
  *    survivors after a driver-side merge — saves a whole scheduling
  *    wave on small inputs (q37, 150k-row orders: 122 → 72 ms);
  *  - larger input → `Project(f(x), Limit(Sort))`: per-partition top-k
  *    with an EXECUTOR-side singleton merge, f(x) in a tiny second
  *    stage — the doExecute top-k path measures much cheaper at row
  *    count (q38, 600k-row lineitem: 51 ms vs 207 ms single-stage on a
  *    quiet VM), and at cluster scale it also keeps the P×k merge off
  *    the driver. The threshold reuses autoBroadcastJoinThreshold —
  *    the session's existing "small enough to centralize" knob.
  *
  * Measured effect vs NO rule either way: q38 (4× BigDecimal `round` +
  * sqrt/ln/power over 600k rows, top-500) drops from ~950ms to
  * scan+sort cost (no-defer A/B at sf0.1, SCALE.md §25).
  *
  * Safety: requires (a) every sort key resolves against the projection's
  * child, (b) all projections deterministic, (c) no window/agg in between
  * (pattern only matches Project directly under global Sort under Limit).
  * Idempotent: the rewritten shape re-matches arm 1 but its inner
  * projection is no longer cheap-only, so the guard blocks a second fire.
  */
object DeferProjectionPastTopK extends Rule[LogicalPlan] {
  private def isCheap(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal => true
    case a: Alias                  => isCheap(a.child)
    case _                         => false
  }

  /** Compose `outer ∘ projList`: outer is cheap (attributes / aliases of
    * attributes / literals), so composition is exprId substitution that
    * PRESERVES each output's name and exprId. */
  private def compose(outer: Seq[NamedExpression],
                      projList: Seq[NamedExpression]): Seq[NamedExpression] = {
    val byId = projList.map(ne => ne.exprId -> ne).toMap
    outer.map {
      case attr: Attribute => byId.getOrElse(attr.exprId, attr)
      case al @ Alias(attr: Attribute, name) =>
        byId.get(attr.exprId) match {
          case Some(inner: Alias) => Alias(inner.child, name)(al.exprId, al.qualifier)
          case Some(other)        => Alias(other.toAttribute, name)(al.exprId, al.qualifier)
          case None               => al
        }
      case other => other // literal aliases and the like — already self-contained
    }
  }

  /** Single-stage shape: projection INSIDE the limit, planned as one
    * terminal TakeOrderedAndProjectExec (f(x) on ≤ n survivors, driver
    * merge). Right when the input is small — it saves a whole
    * scheduling wave. */
  private def deferSingleStage(gle: Expression, lle: Expression,
                    finalProj: Seq[NamedExpression], order: Seq[SortOrder],
                    child: LogicalPlan, hint: Option[SortHint]): LogicalPlan = {
    // Keep column pruning: scan only what the projection + sort need.
    val needed = AttributeSet(finalProj.flatMap(_.references)) ++
      AttributeSet(order.flatMap(_.references))
    GlobalLimit(gle,
      LocalLimit(lle,
        Project(finalProj,
          Sort(order, global = true,
            Project(child.output.filter(needed.contains), child), hint))))
  }

  /** Two-stage shape: projection ABOVE the limit — per-partition top-k,
    * EXECUTOR-side singleton merge, then f(x) over the k survivors in a
    * tiny second stage. Right when the input is large: the per-row
    * top-k path is measurably cheaper (quiet-VM A/B at sf0.1: q38 over
    * 600k rows ran 51 ms here vs 207 ms single-stage, while 150k-row
    * q37 prefers single-stage 72 ms vs 122 ms), and at cluster scale it
    * also keeps the P×k merge off the driver. */
  private def deferTwoStage(gle: Expression, lle: Expression,
                    finalProj: Seq[NamedExpression], order: Seq[SortOrder],
                    child: LogicalPlan, hint: Option[SortHint]): LogicalPlan = {
    val needed = AttributeSet(finalProj.flatMap(_.references)) ++
      AttributeSet(order.flatMap(_.references))
    Project(finalProj,
      GlobalLimit(gle,
        LocalLimit(lle,
          Sort(order, global = true,
            Project(child.output.filter(needed.contains), child), hint))))
  }

  /** Small inputs take the single-stage driver-merge form; anything
    * bigger than the broadcast threshold (the session's existing
    * "small enough to centralize" knob) keeps the executor-side merge.
    *
    * The single-stage shape only pays off when SpecialLimits plans it as
    * TakeOrderedAndProjectExec; past topKSortFallbackThreshold the
    * planner falls back to a full global sort that would run the
    * expensive projection on EVERY sorted row before the limit (ADVICE
    * r9 #3) — so the limit literal must also sit under that threshold,
    * else keep the two-stage form (whose outer Project stays above the
    * limit either way). */
  private def defer(gle: Expression, lle: Expression,
                    finalProj: Seq[NamedExpression], order: Seq[SortOrder],
                    child: LogicalPlan, hint: Option[SortHint]): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    val limitOk = gle match {
      case Literal(n: Int, _) => n < conf.topKSortFallbackThreshold
      case _                  => false
    }
    if (threshold > 0 && limitOk && child.stats.sizeInBytes <= threshold)
      deferSingleStage(gle, lle, finalProj, order, child, hint)
    else
      deferTwoStage(gle, lle, finalProj, order, child, hint)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // SELECT f(x) ... ORDER BY k LIMIT n  ⇒  optimizer shape:
    //   GlobalLimit(LocalLimit(Project[out](Sort(Project[f(x)+sortcols](c)))))
    case GlobalLimit(gle,
           LocalLimit(lle,
             Project(outer,
               Sort(order, true, Project(projList, child), hint))))
        if outer.forall(isCheap) &&
           projList.exists(e => !isCheap(e)) &&
           projList.forall(_.deterministic) &&
           order.forall(_.references.subsetOf(child.outputSet)) =>
      defer(gle, lle, compose(outer, projList), order, child, hint)

    // Same, without the outer column-selection Project above the Sort.
    case GlobalLimit(gle,
           LocalLimit(lle,
             Sort(order, true, Project(projList, child), hint)))
        if projList.exists(e => !isCheap(e)) &&
           projList.forall(_.deterministic) &&
           order.forall(_.references.subsetOf(child.outputSet)) =>
      defer(gle, lle, projList, order, child, hint)
  }
}
