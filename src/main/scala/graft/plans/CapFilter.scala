package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** The skew-cap filter as one operator: over a frame of one row per
  * group with its size in `size`, it keeps the groups of size
  * `min..cap` and COUNTS the groups above `cap` (and their summed
  * size) in its own `SQLMetric`s, in the job that filters. Groups
  * below `min` (a singleton bucket holds no pair) drop uncounted; a
  * null size drops uncounted. Built by [[graft.util.Metrics.capped]],
  * read by [[graft.util.Metrics.drops]]. */
case class CapFilter(size: Expression, cap: Long, min: Long,
                     child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(
      newChild: LogicalPlan): CapFilter = copy(child = newChild)
}

/** Planner rule: CapFilter → CapFilterExec. Registered per session by
  * [[graft.util.Metrics.capped]]. */
object CapFilterStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CapFilter(size, cap, min, child) =>
      CapFilterExec(size, cap, min, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class CapFilterExec(size: Expression, cap: Long, min: Long,
                         child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  // a filter: the child's clustering and order still hold, so a join
  // on the group key needs no new exchange
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics = Map(
    "droppedGroups" -> SQLMetrics.createMetric(sparkContext,
      "dropped groups"),
    "droppedMembers" -> SQLMetrics.createMetric(sparkContext,
      "dropped members"))

  override protected def doExecute(): RDD[InternalRow] = {
    val groups = longMetric("droppedGroups")
    val members = longMetric("droppedMembers")
    val bound = BindReferences.bindReference(size, child.output)
    val (cap, min) = (this.cap, this.min)
    child.execute().mapPartitions(_.filter { row =>
      bound.eval(row) match {
        case null => false
        case n: java.lang.Long =>
          if (n > cap) { groups += 1; members += n; false }
          else n >= min
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): CapFilterExec = copy(child = newChild)
}
