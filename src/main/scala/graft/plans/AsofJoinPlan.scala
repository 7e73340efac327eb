package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Native as-of join — the whole-operator extension path of the design
  * brief (custom LogicalPlan + planner Strategy + SparkPlan), for the one
  * join type Spark has no built-in operator for. The composed formulation
  * ([[graft.operators.AsofJoin]]: union + ordered carry-forward window)
  * already expresses the semantics with built-ins; this operator exists to
  * exercise the deeper seam and to drop the union/window machinery: both
  * sides hash-cluster on the key and sort by (key, ts) — requirements the
  * planner satisfies with ONE exchange + sort per side, exactly like a
  * sort-merge join — and a per-partition two-pointer merge carries the
  * latest right row at most once per input row. O(|L|+|R|) per partition,
  * no join fanout, no window state. Both formulations are gated against
  * the SAME DuckDB native ASOF JOIN oracle (asof_join / asof_join_native):
  * three independent algorithms, one hash.
  *
  * Semantics: ASOF LEFT — every left row, joined to the value columns of
  * the single latest right row with an EQUAL key and rightTs <= leftTs
  * (inclusive); nulls when none. NULL left keys/timestamps match nothing
  * (SQL join semantics — note the composed window formulation instead
  * groups NULL keys together like Window.partitionBy; the two agree on
  * NULL-free keys, which the uniqueness precondition of both requires).
  * Right rows must be unique per (key, ts), as in the composed operator.
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightValues: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinNode]] as [[AsofJoinExec]]; inject via
  * [[graft.GraftFunctions.installStrategy]] or SparkSessionExtensions. */
object AsofJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsofJoinNode =>
      AsofJoinExec(j.leftKey, j.rightKey, j.leftTs, j.rightTs, j.rightValues,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightValues: Seq[Attribute],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  // One hash exchange per side (co-partitioned by EnsureRequirements, the
  // sort-merge-join contract) + one sort per side. At 100 TB this is the
  // same cost envelope as any key-clustered join of the two tables.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  // Left rows pass through in their sorted order.
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyOrd = lOut.indexWhere(_.exprId == leftKey.exprId)
    val lTsOrd = lOut.indexWhere(_.exprId == leftTs.exprId)
    val keyType = leftKey.dataType
    val tsType = leftTs.dataType
    val keyOrdering = PhysicalDataType.ordering(keyType).asInstanceOf[Ordering[Any]]
    val tsOrdering = PhysicalDataType.ordering(tsType).asInstanceOf[Ordering[Any]]
    val rightKeyTs = Seq(rightKey, rightTs)
    val rightVals = rightValues
    // The result projection's input binds to (left ++ values) where the
    // values row is all-null for unmatched left rows — bind against
    // NULLABLE value attributes (same exprIds) or a non-nullable right
    // column's bound reference would skip its null check and read garbage
    // (a null double surfaced as 0.0).
    val nullableVals = rightValues.map(_.withNullability(true))
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // Projections are per-partition (UnsafeProjection is not shareable).
      val keyTsProj = UnsafeProjection.create(rightKeyTs, rOut)
      val valsProj = UnsafeProjection.create(rightVals, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ nullableVals)
      val nullVals: InternalRow = new GenericInternalRow(rightVals.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // Current un-consumed right row, held across left rows as small
        // COPIED projections (sorter iterators reuse row objects).
        private var rKeyTs: InternalRow = _
        private var rVals: InternalRow = _
        private var rDone = false
        // Latest consumed right row: its key and its copied value columns.
        private var matchKey: Any = _
        private var matchVals: InternalRow = _

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            val raw = rIter.next()
            rKeyTs = keyTsProj(raw).copy()
            rVals = valsProj(raw).copy()
          } else { rDone = true; rKeyTs = null; rVals = null }

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = if (l.isNullAt(lKeyOrd)) null else l.get(lKeyOrd, keyType)
          val lt = if (l.isNullAt(lTsOrd)) null else l.get(lTsOrd, tsType)
          if (lk == null || lt == null) return resultProj(joined(l, nullVals))
          // Consume right rows with (key, ts) <=_lex (lk, lt); the last
          // equal-key one consumed is the as-of match (largest ts <= lt).
          var advancing = !rDone
          while (advancing) {
            if (rDone) advancing = false
            else {
              val rk = if (rKeyTs.isNullAt(0)) null else rKeyTs.get(0, keyType)
              val rt = if (rKeyTs.isNullAt(1)) null else rKeyTs.get(1, tsType)
              if (rk == null) advanceRight() // null keys sort first; skip
              else {
                val c = keyOrdering.compare(rk, lk)
                if (c < 0) advanceRight() // earlier key: discard
                else if (c == 0 && rt == null) advanceRight() // null ts sorts first, never matches
                else if (c == 0 && tsOrdering.lteq(rt, lt)) {
                  matchKey = rk
                  matchVals = rVals
                  advanceRight()
                } else advancing = false // future key or future ts: stop
              }
            }
          }
          val vals =
            if (matchVals != null && matchKey != null && keyOrdering.equiv(matchKey, lk))
              matchVals
            else nullVals
          resultProj(joined(l, vals))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
