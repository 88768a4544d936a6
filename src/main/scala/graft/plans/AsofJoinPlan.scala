package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator ladder step (c) for the operator
  * Spark lacks (SPARK-22947): logical node + strategy + physical merge.
  *
  * Semantics (identical to `graft.ops.AsofJoin.asofJoin`): every left row,
  * enriched with `rightValues` from the latest right row of the same key
  * whose time is at-or-before the left row's time; null when no right row
  * precedes. The physical operator demands hash clustering on the key and
  * (key, time) ordering from BOTH children — Catalyst's EnsureRequirements
  * inserts the exchanges and sorts — and then streams each co-partition
  * pair through a single forward merge: O(|L|+|R|) per partition, one
  * buffered right row, no window state, no union blowup.
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightValues: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]]; [[graft.ops.AsofJoin]]
  * installs it into `spark.experimental.extraStrategies`.
  */
object AsofJoinStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, rv) =>
      AsofJoinExec(lk, rk, lt, rt, rv, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightValues: Seq[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.asInstanceOf[Attribute].withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // left rows pass through in their sorted order, one output row each
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val numValues = rightValues.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeBound = BindReferences.bindReference(leftTime, left.output)
      val rTimeBound = BindReferences.bindReference(rightTime, right.output)
      val valProj = UnsafeProjection.create(rightValues, right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
      val joined = new JoinedRow
      val nullRow = new GenericInternalRow(numValues)
      // the merge state: the last right row applied (key + projected
      // values, both copied out of the iterators' reused buffers) and one
      // buffered not-yet-applicable right row
      var lastKey: UnsafeRow = null
      var lastVals: UnsafeRow = null
      var pendingRight: InternalRow = null

      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lT = lTimeBound.eval(lRow)
          var done = false
          while (!done) {
            if (pendingRight == null) {
              if (rIter.hasNext) pendingRight = rIter.next().copy() else done = true
            }
            if (pendingRight != null) {
              val rKey = rKeyProj(pendingRight)
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) {
                // right key already behind this (ascending) left cursor:
                // no current or future left row can use it
                pendingRight = null
              } else if (cmp > 0) {
                done = true
              } else {
                val rT = rTimeBound.eval(pendingRight)
                if (rT == null) {
                  // null-time right rows match nothing (the asof predicate
                  // rT <= lT is never true). Ascending order puts them at
                  // the HEAD of their key group — they must be discarded,
                  // not buffered, or they'd block every later right row of
                  // the key.
                  pendingRight = null
                } else if (lT != null && timeOrd.lteq(rT, lT)) {
                  lastKey = rKey.copy()
                  lastVals = valProj(pendingRight).copy()
                  pendingRight = null
                } else {
                  done = true
                }
              }
            }
          }
          // null-time left rows match nothing (DuckDB ASOF: a null probe
          // time satisfies no inequality); the sort already puts them
          // before any right application for their key, the guard makes
          // the semantics explicit
          if (lT != null && lastKey != null && keyOrd.compare(lastKey, lKey) == 0) {
            joined(lRow, lastVals)
          } else joined(lRow, nullRow)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
