package graft.plans

import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{
  CoalesceExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter,
  ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec
}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Small global sorts in one partition: an AQE query-stage preparation
  * rule, injected by [[GraftExtensions]].
  *
  * A global sort plans a range exchange below it. Spark's
  * `RangePartitioner` first SAMPLES the exchange's child in a job of its
  * own, then the exchange runs as a shuffle stage, then the sort reads
  * it. Over a few KB that is two jobs and a stage that touch almost no
  * rows, while the executors idle: at these sizes an action's cost is
  * its jobs, not its rows. When the sorted relation is known to be
  * below [[MaxBytes]], the rule replaces that exchange with
  * `CoalesceExec(1, child)`. `SinglePartition` satisfies the sort's
  * `OrderedDistribution`, so the sort orders every row in one task, with
  * no sampling job and no range-shuffle stage.
  *
  * It runs after [[SmallQueryRule]], which plans a query whose file
  * scans sum to under [[MaxBytes]] with no exchange at all, so this
  * rule sees the other plans: inputs above the bound, or leaves that are
  * not file scans. Here only the sorted relation itself is sized, never
  * the query's input: explodes and joins multiply rows far past their
  * input bytes, and this rule keeps every other stage of the plan, so
  * it must not pull a large relation into one task ([[SmallQueryRule]]'s
  * doc gives the sf0.1 sweep of what one task costs just under the
  * bound). Its bytes are known in two cases, reached from the exchange
  * through only Project, Filter, aggregate, window, local-sort, codegen,
  * columnar transition and AQE-read nodes, none of which adds rows:
  *  - a materialized shuffle query stage: its runtime bytes;
  *  - a file scan: its file index's bytes.
  * A left semi or anti join also passes, to its left side only: it
  * emits a subset of the left rows, as they are (`q_cluster_dedup` and
  * `q_decontaminated` end in one). Anything else (any other join, a
  * generator, an exchange that has not run, an RDD or cached scan, a
  * DSv2 or custom exec) keeps the range exchange.
  * Only exchanges that `EnsureRequirements` inserted for the sort are
  * rewritten: a user's `repartitionByRange(n, ...)` (origin
  * `REPARTITION_BY_NUM`) always keeps its n partitions.
  *
  * The bound is a constant, not an option: it is far below what one
  * task sorts in milliseconds, and far above the relations whose
  * sampling job costs more than the sort. Without AQE
  * (`spark.sql.adaptive.enabled=false`) the rule does not run and sorts
  * plan as Spark plans them.
  */
object SmallSortRule extends Rule[SparkPlan] {

  /** Sorted relations below this many bytes are sorted in one task. */
  val MaxBytes: Long = 1L << 20

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case sort @ SortExec(_, true,
        ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
        if knownBytes(child).exists(_ < MaxBytes) =>
      sort.withNewChildren(Seq(CoalesceExec(1, child)))
  }

  /** The bytes `plan` produces, when they are known without running it. */
  private def knownBytes(plan: SparkPlan): Option[BigInt] = plan match {
    case stage: ShuffleQueryStageExec =>
      if (stage.isMaterialized) Some(stage.getRuntimeStatistics.sizeInBytes) else None
    case scan: FileSourceScanExec => Some(BigInt(scan.relation.location.sizeInBytes))
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec |
        _: WindowGroupLimitExec | _: SortExec | _: WholeStageCodegenExec |
        _: InputAdapter | _: ColumnarToRowExec | _: AQEShuffleReadExec =>
      knownBytes(plan.children.head)
    case j: BaseJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti =>
      knownBytes(j.left)
    case _ => None
  }

  /** The file index bytes under a scan-side logical plan (one file
    * relation under only Project, Filter and alias nodes), the size the
    * rule reads off the same scan once it is planned; None for any
    * other plan. Reads no data and starts no job. */
  def scanBytes(plan: LogicalPlan): Option[Long] = plan match {
    case Project(_, c) => scanBytes(c)
    case Filter(_, c) => scanBytes(c)
    case SubqueryAlias(_, c) => scanBytes(c)
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
      case _ => None
    }
    case _ => None
  }
}
