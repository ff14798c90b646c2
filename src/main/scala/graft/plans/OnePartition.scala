package graft.plans

import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{JoinHint, LocalRelation, LogicalPlan, NO_BROADCAST_AND_REPLICATION, RebalancePartitions}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.internal.SQLConf

/** The bound under which the engine plans an input as one partition
  * with no exchange: the plan's `stats.sizeInBytes` is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MiB by
  * default), the size below which AQE would coalesce a shuffle's output
  * into one partition anyway. A plan whose size Spark cannot estimate
  * (a scan that reports no statistics) has the default size,
  * `Long.MaxValue`, and never fits. [[SmallLocalRebalance]] and
  * [[SmallFullOuterJoin]] check it through [[fits]].
  */
object OnePartition {

  /** whether `plan` is within the bound above */
  def fits(plan: LogicalPlan): Boolean =
    plan.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
}

/** Plans a `RebalancePartitions` over a small driver-local relation as
  * one partition with no exchange: `CoalesceExec(1, LocalTableScanExec)`.
  *
  * A DSv2 write that asks for a clustered distribution without requiring
  * it strictly (the lake catalog's append: all rows of a partition value
  * in one task) gets a rebalance over its input. For a few hundred rows
  * built on the driver that is a shuffle stage of `shuffle.partitions`
  * tasks, which AQE then coalesces back into the one write task the
  * data needed. One partition holds every partition value's rows in one
  * task, so the write still makes one file per partition value, in one
  * job instead of two.
  *
  * Bound: the relation is within [[OnePartition.fits]]. A larger
  * relation, a non-local input, or a rebalance with an explicit
  * partition count keeps Spark's rebalance shuffle, and
  * `RepartitionByExpression` is never touched.
  */
object SmallLocalRebalance extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RebalancePartitions(_, local: LocalRelation, None, _) if OnePartition.fits(local) =>
      CoalesceExec(1, planLater(local)) :: Nil
    case _ => Nil
  }
}

/** Plans a full outer equi-join of two small inputs as one partition per
  * side with no exchange: a sort-merge join over `CoalesceExec(1, _)` of
  * each side, which needs only a sort of each side.
  *
  * Spark's `RewriteMergeIntoTable` plans a copy-on-write MERGE that has a
  * NOT MATCHED clause as target ⋈ source, full outer. For a 50-row upsert
  * into a small lake table that is two shuffle stages of
  * `shuffle.partitions` tasks, which AQE coalesces back into one. Here
  * it runs in the write's one task. The MERGE's cardinality check still
  * holds: it marks the target `NO_BROADCAST_AND_REPLICATION` so that all
  * matches of a target row meet in one task, and one partition
  * replicates nothing.
  *
  * Bound: both sides are within [[OnePartition.fits]], and the join
  * keys are orderable. A larger side, a side of unknown size, a
  * non-equi join, or a join that carries a join strategy hint other
  * than `NO_BROADCAST_AND_REPLICATION` keeps Spark's plan.
  */
object SmallFullOuterJoin extends SparkStrategy {

  /** no side asks for a join strategy of its own */
  private def unhinted(hint: JoinHint): Boolean =
    (hint.leftHint ++ hint.rightHint).flatMap(_.strategy).forall(_ == NO_BROADCAST_AND_REPLICATION)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExtractEquiJoinKeys(FullOuter, leftKeys, rightKeys, condition, _, left, right, hint)
        if unhinted(hint) && RowOrdering.isOrderable(leftKeys) &&
          OnePartition.fits(left) && OnePartition.fits(right) =>
      SortMergeJoinExec(leftKeys, rightKeys, FullOuter, condition,
        CoalesceExec(1, planLater(left)), CoalesceExec(1, planLater(right))) :: Nil
    case _ => Nil
  }
}
