package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Descending, Expression,
  GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** Logical as-of join — the whole-operator Catalyst route (SURVEY.md §7.3
  * preference (c)): a first-class plan node + planner strategy + physical
  * operator, built by `ext.AsofJoin.backward` / `forward`.
  *
  * Semantics (pandas `merge_asof` / DuckDB `ASOF LEFT JOIN`): for every
  * left row, attach the payload of the single right row with the latest
  * right.ts ≤ left.ts (backward) or earliest right.ts ≥ left.ts (forward)
  * for the same key; ties at equal ts match; optional tolerance gates
  * stale matches to NULL; among same-(key, ts) right rows the highest
  * non-NULL `tie` wins (no tie: any of them).
  *
  * All of `leftKey/rightKey/leftTs/rightTs/payload/tie` are resolved
  * attributes of the respective child (the `AsofJoin` builder re-aliases
  * the right side first, so the two sides never share expr ids even in a
  * self-join). Output = left columns ++ payload columns (nullable —
  * unmatched left rows survive with NULL payload).
  *
  * Null handling: a NULL key equals nothing, as in SQL and DuckDB — a
  * NULL-key left row gets the NULL payload and a NULL-key right row is
  * never matched. NULL timestamps are out of scope: the merge reads one
  * as epoch 0, and what it matches is unspecified.
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute],
    forward: Boolean, toleranceMicros: Option[Long],
    tie: Option[Attribute]) extends BinaryNode {

  require(AsofJoinNode.sameType(leftKey.dataType, rightKey.dataType),
    s"key type mismatch: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(AsofJoinNode.sameType(leftTs.dataType, rightTs.dataType) &&
    AsofJoinNode.tsType(leftTs.dataType),
    s"ts must be timestamp/long on both sides: ${leftTs.dataType} vs ${rightTs.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsofJoinNode {
  private[plans] def sameType(a: DataType, b: DataType): Boolean =
    DataType.equalsStructurally(a, b, ignoreNullability = true)
  private[plans] def tsType(t: DataType): Boolean =
    t == TimestampType || t == LongType
}

/** Planner strategy: `AsofJoinNode` → `AsofJoinExec`. Injected via
  * `GraftExtensions` (`injectPlannerStrategy`) and, belt-and-braces, by
  * `ext.AsofJoin` through `session.experimental.extraStrategies`.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.rightKey, n.leftTs, n.rightTs,
        n.payload, n.forward, n.toleranceMicros, n.tie) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: co-partitioned single-pass streaming merge.
  *
  * `requiredChildDistribution` (hash on the key, both sides) +
  * `requiredChildOrdering` ((key, ts) ascending, both sides) make
  * EnsureRequirements insert exactly one exchange + one sort per side;
  * the merge itself is then a per-partition two-iterator walk carrying
  * O(1) state (the current as-of candidate), never a buffered frame.
  *
  * The tie is a third right sort key and costs the merge no code: backward
  * carries the last row passed (ascending, NULLs first), forward takes the
  * first (descending, NULLs last).
  *
  * Output preserves the left side's (key, ts) ordering, so a downstream
  * window/as-of on the same key re-uses both the partitioning and the
  * sort.
  */
case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute],
    forward: Boolean, toleranceMicros: Option[Long],
    tie: Option[Attribute])
  extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
    ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
      tie.map(SortOrder(_, if (forward) Descending else Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val payloadExprs: Seq[Expression] = payload
    val outAttrs = output
    val lOut = left.output
    val rOut = right.output
    val (lk, rk, lt, rt) = (leftKey, rightKey, leftTs, rightTs)
    val (fwd, tol) = (forward, toleranceMicros)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (!lIter.hasNext) Iterator.empty
      else {
        val lKeyProj = UnsafeProjection.create(Seq(lk: Expression), lOut)
        val rKeyProj = UnsafeProjection.create(Seq(rk: Expression), rOut)
        val payloadProj = UnsafeProjection.create(payloadExprs, rOut)
        val lTsBound = BindReferences.bindReference(lt: Expression, lOut)
        val rTsBound = BindReferences.bindReference(rt: Expression, rOut)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lk.dataType))
        // bind with FORCED-nullable payload attrs: the joined row's right
        // side is the all-null row for unmatched lefts, and a non-nullable
        // source attr (e.g. straight from toDF) would otherwise bind a
        // no-null-check BoundReference that reads garbage zeros
        val outProj = UnsafeProjection.create(outAttrs: Seq[Expression],
          lOut ++ payload.map(_.withNullability(true)))
        val nullPayload = new GenericInternalRow(payloadExprs.size)
        val joined = new JoinedRow
        val rBuf = rIter.buffered

        def ts(bound: Expression, row: InternalRow): Long = {
          val v = bound.eval(row)
          if (v == null) 0L else v.asInstanceOf[Long]
        }

        // Per-row cost discipline (this loop runs once per left row at
        // 100 TB): the right head's key/ts are projected ONCE per head
        // change and cached — not re-projected on every left-row
        // comparison — and the backward carry state avoids copies where
        // the projection buffer provably isn't overwritten before use:
        //  - carryPayload holds the payloadProj buffer uncopied; the next
        //    payloadProj call is the next consume, which replaces the
        //    carry anyway (outProj copies values out before that);
        //  - carryKey is copied only when the consumed key differs from
        //    the current carry (one copy per distinct key, not per row).
        var headKey: UnsafeRow = null   // rKeyProj buffer; valid until next head projection
        var headTs = 0L
        var headStale = true
        def refreshHead(): Unit = {
          headKey = rKeyProj(rBuf.head)
          headTs = ts(rTsBound, rBuf.head)
          headStale = false
        }

        // backward carries the latest consumed right row (O(1) state);
        // forward only ever needs the right head, so it carries nothing.
        var carryKey: UnsafeRow = null
        var carryTs = 0L
        var carryPayload: UnsafeRow = null

        lIter.map { lRow =>
          val lKey = lKeyProj(lRow)
          // NULL = anything is never true: a NULL-key left row takes the
          // NULL payload and leaves the right side where it is
          val payload = if (lKey.isNullAt(0)) nullPayload else {
            val lTs = ts(lTsBound, lRow)
            // pass every right row ordered before (lKey, lTs); backward
            // also passes the row AT lTs (ties match) and carries the last
            // non-NULL-key row it passed, forward only ever needs the head
            var advancing = true
            while (advancing && rBuf.hasNext) {
              if (headStale) refreshHead()
              val c = keyOrd.compare(headKey, lKey)
              if (c < 0 || (c == 0 && (headTs < lTs || (!fwd && headTs == lTs)))) {
                val r = rBuf.next()
                if (!fwd && !headKey.isNullAt(0)) {
                  if (carryKey == null || keyOrd.compare(carryKey, headKey) != 0)
                    carryKey = headKey.copy()
                  carryTs = headTs
                  carryPayload = payloadProj(r)
                }
                headStale = true
              } else advancing = false
            }
            val matched =
              if (!fwd) carryKey != null &&
                keyOrd.compare(carryKey, lKey) == 0 &&
                tol.forall(t => lTs - carryTs <= t)
              else rBuf.hasNext && {
                if (headStale) refreshHead()
                keyOrd.compare(headKey, lKey) == 0 &&
                  tol.forall(t => headTs - lTs <= t)
              }
            if (!matched) nullPayload
            else if (fwd) payloadProj(rBuf.head)
            else carryPayload
          }
          outProj(joined(lRow, payload))
        }
      }
    }
  }
}
