package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join: for each left row, the single latest right row of
  * the same group with right.ts <= left.ts (ties on ts resolved toward
  * the largest tie-break key — matching DuckDB `ASOF LEFT JOIN` with
  * `>=`, and q23's window emulation).
  *
  * Why a custom operator (SURVEY.md §7.4 — the one real gap): the
  * union+window emulation scans and shuffles BOTH event branches into one
  * window, sorts the union, and filters; this operator hash-partitions
  * each side by the group key once and does a streaming per-partition
  * merge — no union materialization, no window state, each side sorted
  * independently (map-side if already bucketed that way).
  *
  * Physical contract (mirrors SortMergeJoin's):
  *  - requiredChildDistribution: ClusteredDistribution on the group key,
  *    both sides → EnsureRequirements co-partitions them.
  *  - requiredChildOrdering: (group, ts, tieBreak) ascending → sorts are
  *    injected only when the child isn't already sorted.
  *  - doExecute: zipPartitions merge with O(1) state (the current
  *    candidate right row).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftOn: Expression, rightOn: Expression,
                    leftTs: Expression, rightTs: Expression,
                    rightTieBreak: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lo, ro, lts, rts, tb) =>
      AsOfJoinExec(planLater(l), planLater(r), lo, ro, lts, rts, tb) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftOn: Expression, rightOn: Expression,
                        leftTs: Expression, rightTs: Expression,
                        rightTieBreak: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftOn)), ClusteredDistribution(Seq(rightOn)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftOn, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightOn, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightTieBreak, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftOn, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lOn = leftOn; val rOn = rightOn
    val lTs = leftTs; val rTs = rightTs
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lKeyGen = UnsafeProjection.create(Seq(lOn), lOut)
      val rKeyGen = UnsafeProjection.create(Seq(rOn), rOut)
      val lTsGen = UnsafeProjection.create(Seq(lTs), lOut)
      val rTsGen = UnsafeProjection.create(Seq(rTs), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lOn.dataType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTs.dataType))
      // project against NULLABLE right attrs: the unmatched-row nulls must
      // survive even when the right child's schema says non-nullable
      val rOutN = rOut.map(_.withNullability(true))
      val resultProj = UnsafeProjection.create(lOut ++ rOutN, lOut ++ rOutN)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rCand: InternalRow = _          // latest usable right row (copied)
        private var rCandKey: UnsafeRow = _
        private var rCandTs: UnsafeRow = _
        private var rNext: InternalRow =
          if (ri.hasNext) ri.next() else null

        override def hasNext: Boolean = li.hasNext
        override def next(): InternalRow = {
          val l = li.next()
          val lk = lKeyGen(l).copy()
          val lt = lTsGen(l).copy()
          // SQL comparison with NULL is never true (probe-confirmed on
          // DuckDB's ASOF LEFT JOIN, whose semantics this node claims):
          // a NULL left key/ts matches nothing, and a NULL right key/ts
          // can be nobody's match. RowOrdering alone would instead sort
          // nulls FIRST and happily consume them as candidates.
          val lNull = lk.isNullAt(0) || lt.isNullAt(0)
          // consume right rows that are at-or-before this left row (or of
          // earlier groups); the last consumed of the same group is the
          // as-of match candidate
          var advance = true
          while (advance && rNext != null) {
            val rk = rKeyGen(rNext)
            if (rk.isNullAt(0) || rTsGen(rNext).isNullAt(0)) {
              // unusable as a candidate; nulls-first ordering puts these
              // ahead of real rows, so skipping keeps the merge aligned
              rNext = if (ri.hasNext) ri.next() else null
            } else {
              val cmp = keyOrd.compare(rk, lk)
              if (cmp < 0 || (cmp == 0 && tsOrd.compare(rTsGen(rNext), lt) <= 0)) {
                rCand = rNext.copy()
                rCandKey = rKeyGen(rCand).copy()
                rCandTs = rTsGen(rCand).copy()
                rNext = if (ri.hasNext) ri.next() else null
              } else advance = false
            }
          }
          val matched = !lNull && rCand != null &&
            keyOrd.compare(rCandKey, lk) == 0 &&
            tsOrd.compare(rCandTs, lt) <= 0
          resultProj(joined(l, if (matched) rCand else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level builder. */
object AsOf {
  /** left asof-join right: latest `right` row per `on` group with
    * rightTs <= leftTs; right columns null when no such row. Columns are
    * named (not Column exprs): Spark 4 Columns carry unresolved
    * ColumnNodes that only the analyzer can resolve, and this node plugs
    * in below the analyzer. */
  def join(left: DataFrame, right: DataFrame,
           leftOn: String, rightOn: String,
           leftTs: String, rightTs: String,
           rightTieBreak: String): DataFrame = {
    val spark = left.sparkSession
    graft.GraftExtensions.install(spark)
    val lp = GraftBridge.plan(left)
    val rp = GraftBridge.plan(right)
    def resolve(name: String, p: LogicalPlan): Expression =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name)}"))
    val (lo, ro) = (resolve(leftOn, lp), resolve(rightOn, rp))
    val (lt, rt) = (resolve(leftTs, lp), resolve(rightTs, rp))
    // the exec compares right-side UnsafeRows with orderings built from
    // the LEFT side's types; a type mismatch would not error — it would
    // compare garbage bytes and return silently wrong matches
    require(org.apache.spark.sql.types.DataType.equalsStructurally(
        lo.dataType, ro.dataType, ignoreNullability = true),
      s"as-of join key types differ: ${lo.dataType} vs ${ro.dataType}")
    require(org.apache.spark.sql.types.DataType.equalsStructurally(
        lt.dataType, rt.dataType, ignoreNullability = true),
      s"as-of join timestamp types differ: ${lt.dataType} vs ${rt.dataType}")
    GraftBridge.ofRows(spark, AsOfJoin(lp, rp,
      lo, ro, lt, rt, resolve(rightTieBreak, rp)))
  }
}
