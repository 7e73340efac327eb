package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Appends `out` = running sum of `value` (1 per row: a row number) under
  * `order`, restarting at each new key of the first `groups` sort columns.
  * The input is range-partitioned and sorted on `order`; one job returns each
  * partition's first group, last group and that group's sum, which the driver
  * folds into offsets for the first group, the only one spanning partitions. */
case class RowNumberNode(order: Seq[SortOrder], groups: Int, value: Expression,
                         out: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(c: LogicalPlan): RowNumberNode = copy(child = c)
}

object RowNumberStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RowNumberNode(o, g, v, out, c) => RowNumberExec(o, g, v, out, planLater(c)) :: Nil
    case _ => Nil
  }
}

case class RowNumberExec(order: Seq[SortOrder], groups: Int, value: Expression,
                         out: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  // `out` rises with the partition index within a group: range-partitioned on (groups, out).
  override def outputOrdering: Seq[SortOrder] = order.take(groups) :+ SortOrder(out, Ascending)
  override def outputPartitioning: Partitioning =
    RangePartitioning(outputOrdering, child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val (rows, in, v, outAttrs) = (child.execute(), child.output, value, output)
    val keys = order.take(groups).map(_.child)
    val edges = if (rows.getNumPartitions < 2) Array.empty[(UnsafeRow, UnsafeRow, Long)]
      else rows.mapPartitions { it =>
        val run = new RowRun(keys, v, in, 0L)
        it.foreach(run(_))
        Iterator((run.first, run.key, run.acc))
      }.collect()
    var (key, carry) = (null: UnsafeRow, 0L) // the group run entering the next partition
    val offsets = edges.map {
      case (null, _, _) => 0L // empty: the run passes through
      case (first, last, sum) =>
        val off = if (first == key) carry else 0L
        carry = (if (first == last) off else 0L) + sum; key = last; off
    }
    rows.mapPartitionsWithIndex { (p, it) =>
      val run = new RowRun(keys, v, in, if (p < offsets.length) offsets(p) else 0L)
      val (n, joined) = (new SpecificInternalRow(Seq(LongType)), new JoinedRow)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      it.map { r => n.setLong(0, run(r)); proj(joined(r, n)) }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): RowNumberExec = copy(child = c)
}

/** Per row of a sorted partition: its group's running sum of `value` (NULL adds 0). */
private class RowRun(keys: Seq[Expression], value: Expression, in: Seq[Attribute], var acc: Long) {
  private val keyOf = UnsafeProjection.create(keys, in)
  private val v = BindReferences.bindReference(value, in)
  var first, key: UnsafeRow = _
  def apply(r: InternalRow): Long = {
    val k = keyOf(r)
    if (key == null) { key = k.copy(); first = key }
    else if (k != key) { key = k.copy(); acc = 0L }
    acc += v.eval(r).asInstanceOf[Long]
    acc
  }
}
