package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, RebalancePartitions}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

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
  * Bound: the relation's `stats.sizeInBytes` is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MiB by
  * default), the size below which AQE would coalesce the shuffle's
  * output into one partition anyway; [[fits]] checks it. A larger
  * relation, a non-local input, or a rebalance with an explicit
  * partition count keeps Spark's rebalance shuffle, and
  * `RepartitionByExpression` is never touched.
  */
object SmallLocalRebalance extends SparkStrategy {

  /** whether a local relation is within the bound above */
  def fits(local: LocalRelation, conf: SQLConf): Boolean =
    local.stats.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RebalancePartitions(_, local: LocalRelation, None, _) if fits(local, SQLConf.get) =>
      CoalesceExec(1, planLater(local)) :: Nil
    case _ => Nil
  }
}
