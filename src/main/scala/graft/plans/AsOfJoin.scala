package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF join — the whole-operator extension level (logical
  * node → strategy → physical operator) for the one relational shape
  * Spark has no first-class operator for.
  *
  * Semantics: for each left row (key, time), attach the right row
  * with the same key and the greatest (rightTime, rightTie) such that
  * rightTime <= time; right columns are null when no such row exists
  * (a left outer as-of match, `q_asof`'s union-and-window semantics).
  * With `forward = true` the direction flips: the right row with the
  * SMALLEST (rightTime, rightTie) such that rightTime >= time —
  * `q_asof_fwd`'s semantics (inclusive bound, min tie).
  * `tolerance >= 0` bounds the match's staleness (pandas
  * merge_asof's `tolerance`): a directed match further than
  * `tolerance` from the left time emits the null arm instead — the
  * BEST match is bounded, never replaced by an older in-bound one.
  *
  * Physical shape: both sides hash-cluster on their key and sort
  * within partitions ((key, t) left / (key, t, tie) right) — declared
  * via requiredChildDistribution/Ordering so EnsureRequirements
  * plans the exchanges, AQE coalesces them, and an already-bucketed
  * input skips the shuffle entirely. The merge itself is one
  * streaming pass per partition holding ONE buffered right row —
  * against the union-and-window formulation ([[graft.relational.Queries.qAsof]])
  * this avoids unioning the two frames into one wide null-padded
  * shuffle and never materializes a window frame; against a
  * point-in-interval bucketed join it needs no interval bound.
  * State is O(1) per partition regardless of key skew; neither side
  * is ever collected or broadcast, so both sides scale to 100 TB.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression, rightTie: Expression,
    forward: Boolean = false, tolerance: Long = -1L)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Maps the logical [[AsOfJoin]] to [[AsOfJoinExec]] — injected via
  * [[graft.GraftExtensions]], the only place it is installed.
  *
  * The exec reads keys/times via `UnsafeRow.getLong`, which silently
  * yields 0 for a null slot — a null key would become a real (0, 0)
  * row and corrupt the join with no error. The strategy therefore
  * ENFORCES the LongType half of the operator's contract at plan time
  * (planning fails loudly otherwise); the null half is enforced at
  * runtime by the exec, whose eval projections wrap any nullable
  * expression in [[AssertNotNull]] — in the projection only, NOT in
  * the declared distribution/ordering, so a bucketed layout's
  * hashpartitioning(key) still satisfies the requirement and the
  * Exchange-free read-back is preserved.
  */
object AsOfJoinStrategy extends SparkStrategy {
  private def typed(e: Expression, role: String): Expression = {
    require(e.dataType == org.apache.spark.sql.types.LongType,
      s"graft AsOfJoin: $role must be LongType, got ${e.dataType.simpleString} ($e)")
    e
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, tie, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r),
        typed(lk, "leftKey"), typed(lt, "leftTime"),
        typed(rk, "rightKey"), typed(rt, "rightTime"), typed(tie, "rightTie"),
        fwd, tol) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join: one forward pass over the two co-partitioned
  * sorted streams. All key/time expressions must be non-null LongType
  * (the caller projects them; nulls upstream should be filtered).
  */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression, rightTie: Expression,
    forward: Boolean = false, tolerance: Long = -1L)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  /** A null key/time would read back from the UnsafeRow as a real 0
    * and silently corrupt the join — guard nullable inputs so the
    * query FAILS on a null instead. Applied only inside the eval
    * projections (never in the declared distribution/ordering, which
    * must stay semantically equal to a bucketed child's partitioning).
    */
  private def notNull(e: Expression, role: String): Expression =
    if (e.nullable)
      AssertNotNull(e, Seq(s"graft AsOfJoin $role — filter null keys/times upstream"))
    else e

  override protected def doExecute(): RDD[InternalRow] = {
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lEval = UnsafeProjection.create(
        Seq(notNull(leftKey, "leftKey"), notNull(leftTime, "leftTime")), left.output)
      val rEval = UnsafeProjection.create(
        Seq(notNull(rightKey, "rightKey"), notNull(rightTime, "rightTime")), right.output)
      // bind against the node's OWN output: the right attributes are
      // nullable there, so the projection null-checks the null-row
      // fields even when the child schema declares them non-nullable
      val outProj = UnsafeProjection.create(output, output)
      val nullRight = new GenericInternalRow(right.output.length)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        private var rKey = 0L
        private var rTime = 0L
        private var rRow: InternalRow = _
        private var haveR = advanceR()
        // the ONE buffered row: the best match seen for matchKey so far
        private var matchRow: InternalRow = _
        private var matchKey = 0L
        private var matchTime = 0L

        private def advanceR(): Boolean = {
          if (rIter.hasNext) {
            rRow = rIter.next()
            val kv = rEval(rRow)
            rKey = kv.getLong(0); rTime = kv.getLong(1)
            true
          } else { rRow = null; false }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val kv = lEval(l)
          val lk = kv.getLong(0); val lt = kv.getLong(1)
          if (forward) {
            // discard right rows strictly before (lk, lt): left times
            // ascend, so a passed row can never match a later left row
            // either. The cursor then SITS on the first right row with
            // rTime >= lt — the forward match (min (time, tie): the
            // sort order) — and is NOT consumed: it may also be the
            // match of the next left row. Zero buffered rows.
            while (haveR && (rKey < lk || (rKey == lk && rTime < lt)))
              haveR = advanceR()
            if (haveR && rKey == lk &&
                (tolerance < 0L || rTime - lt <= tolerance))
              outProj(joined(l, rRow))
            else outProj(joined(l, nullRight))
          } else {
            // consume right rows at or before (lk, lt); the last one with
            // key == lk is the as-of match (right is sorted by tie within
            // equal times, so "last" is the greatest (time, tie))
            while (haveR && (rKey < lk || (rKey == lk && rTime <= lt))) {
              if (rKey == lk) {
                // copy: the sorter reuses its output row buffer
                matchRow = rRow.copy(); matchKey = lk; matchTime = rTime
              }
              haveR = advanceR()
            }
            // the tolerance bounds the BEST (latest) match's staleness;
            // a stale best is a null arm, never an older in-bound row
            if (matchRow != null && matchKey == lk &&
                (tolerance < 0L || lt - matchTime <= tolerance))
              outProj(joined(l, matchRow))
            else outProj(joined(l, nullRight))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
