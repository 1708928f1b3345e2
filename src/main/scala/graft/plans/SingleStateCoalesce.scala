package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, DeduplicateWithinWatermark, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a streaming dedup whose state store has ONE partition
  * reads its input through `coalesce(1)` instead of a one-partition hash
  * shuffle.
  *
  * A stateful operator needs its input clustered on its keys into as
  * many partitions as its state has, and the planner meets that with an
  * `Exchange hashpartitioning(keys, n)`. For n = 1 the exchange only
  * gathers every row into one partition, at the price of a second stage
  * per micro-batch: a shuffle write and read, one more task set and one
  * more broadcast of its closure. A `Repartition(1, shuffle = false)`
  * plans as `CoalesceExec`, whose single partition already satisfies the
  * requirement, so the planner adds no exchange and the micro-batch runs
  * as one stage. The trade: one task reads and cleans the whole
  * micro-batch, where the exchange let one task per input split do it.
  *
  * The state has one partition when `spark.sql.shuffle.partitions` is 1
  * in the executing session; on restart Spark pins that setting from the
  * offset log, so a checkpoint written with 1 keeps it. With any other
  * count, and in batch plans, the rule changes nothing. Should the count
  * ever disagree with the state, the planner still enforces the state's
  * clustering with an exchange after the coalesce: slower, never wrong.
  */
object SingleStateCoalesce extends Rule[LogicalPlan] {

  private def coalesce(child: LogicalPlan): LogicalPlan = child match {
    case Repartition(1, false, _) => child
    case _ => Repartition(1, shuffle = false, child)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.isStreaming || conf.numShufflePartitions != 1) plan
    else plan.transformUp {
      case d @ Deduplicate(_, child) if child.isStreaming =>
        d.copy(child = coalesce(child))
      case d @ DeduplicateWithinWatermark(_, child) if child.isStreaming =>
        d.copy(child = coalesce(child))
    }
}
