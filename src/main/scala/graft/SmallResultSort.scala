package graft

import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, LogicalQueryStage, Project, Sort, Window}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort over a measured-small input as one task.
  *
  * Spark plans every `ORDER BY` as a range exchange: a `RangePartitioner`
  * sampling job, then the exchange's map stage, then a per-partition sort.
  * When the sorted input is a small result, e.g. a grouped aggregate's
  * few rows, AQE then coalesces that exchange to one partition anyway, so
  * both jobs are pure driver round-trips. Once AQE has measured the
  * sort's input (the input reaches a materialised query stage only
  * through operators that never add rows) and it is no larger than
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, AQE's own
  * "too small to stand alone" size, this strategy plans
  * `SortExec(global, CoalesceExec(1, child))`: `SinglePartition`
  * satisfies the sort's ordered distribution, so no exchange is added,
  * and AQE adopts the re-planned stage because it has one exchange fewer.
  *
  * It never fires before a stage has been measured, so every initial
  * plan, every plan with AQE off and every sort over a larger or
  * unmeasured input (a scan, a join, an `explode`) keeps Spark's range
  * exchange. `Tables.setup` installs it on every session that reads a
  * table or an artifact.
  */
object SmallResultSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if measured(child) &&
        child.stats.sizeInBytes <=
          SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** `p` reaches a materialised stage only through operators that never
    * add rows, so its size estimate is bounded by a measured size (a
    * `Generate` or a join can multiply rows past their estimate). */
  private def measured(p: LogicalPlan): Boolean = p match {
    case s: LogicalQueryStage => s.isMaterialized
    case _: Project | _: Filter | _: Aggregate | _: Window => measured(p.children.head)
    case _ => false
  }
}
