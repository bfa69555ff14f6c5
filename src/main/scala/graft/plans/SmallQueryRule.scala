package graft.plans

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.JoinType
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{
  BroadcastExchangeExec, ENSURE_REQUIREMENTS, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}

/** Small queries in one stage: an AQE query-stage preparation rule,
  * injected by [[GraftExtensions]] ahead of [[SmallSortRule]].
  *
  * Under AQE every exchange is a stage, and every stage costs a Spark
  * job and a re-plan. Over a few hundred KB those jobs are the action's
  * whole cost: the executors idle while the driver schedules work that
  * moves almost no rows. The rule plans such a query with no exchange at
  * all, so it runs as one job of one stage.
  *
  * It fires on a physical plan when both hold:
  *  - every leaf is a `FileSourceScanExec`, and their file indexes sum
  *    to fewer than [[SmallSortRule.MaxBytes]] bytes;
  *  - every expression is deterministic: `spark_partition_id`, `rand`
  *    and `monotonically_increasing_id` read the partition layout that
  *    the rewrite changes.
  * It then rewrites:
  *  - every exchange that `EnsureRequirements` inserted into
  *    `CoalesceExec(1, child)`, or into its child when that is already
  *    one partition. `SinglePartition` satisfies every distribution but
  *    a broadcast;
  *  - every `BroadcastHashJoinExec` into a `ShuffledHashJoinExec` over
  *    one-partition children. Its build side is one Spark had already
  *    chosen to broadcast, so building it in one task holds no more
  *    than the broadcast did. A null-aware anti join (`NOT IN`), which a
  *    shuffled hash join cannot run, keeps its broadcast.
  * It keeps user repartitions (`repartition`, `repartitionByRange`,
  * rebalance hints), `BroadcastNestedLoopJoin`, and every plan with any
  * other leaf: an RDD, cached, DSv2, local or range scan, or a query
  * stage. A rewrite that leaves some node's required distribution or
  * ordering unmet is dropped, and the plan runs as Spark planned it.
  *
  * [[SmallSortRule]] sizes the sorted relation, never the input, and
  * keeps every other stage: it only removes a sort's sampling job. This
  * rule sizes the input, and those bytes bound the rows of every
  * operator only up to the explodes and joins above them, which one task
  * then runs. The trade is jobs for parallelism: at 40 documents an
  * action runs one job instead of up to ten, but just under the bound
  * work that ran on the shuffle partitions runs in one task. On sf0.1,
  * where `documents` is 594 KB, a 4-core sweep of 23 document-heavy
  * queries read one slower than its run-to-run spread (`q_minhash_lsh`,
  * 1.21x), one faster (`q_vocab`, 0.70x), and medians summing 7.5%
  * higher (CHANGES.md records the sweep). Without AQE
  * (`spark.sql.adaptive.enabled=false`) the rule does not run.
  */
object SmallQueryRule extends Rule[SparkPlan] with JoinSelectionHelper {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!small(plan)) plan
    else {
      val rewritten = plan.transformUp {
        case ShuffleExchangeExec(_, child, ENSURE_REQUIREMENTS, _) => single(child)
        case j @ BroadcastHashJoinExec(_, _, joinType, side, _, left, right, false)
            if shuffledBuildable(side, joinType, left, right) =>
          ShuffledHashJoinExec(j.leftKeys, j.rightKeys, joinType, side, j.condition,
            single(unbroadcast(left)), single(unbroadcast(right)))
      }
      if (ValidateRequirements.validate(rewritten)) rewritten else plan
    }

  /** Only file scans under the byte bound, and no expression that reads
    * the partition layout. */
  private def small(plan: SparkPlan): Boolean = {
    val scans = plan.collectLeaves().map {
      case scan: FileSourceScanExec => Some(BigInt(scan.relation.location.sizeInBytes))
      case _ => None
    }
    scans.forall(_.isDefined) && scans.flatten.sum < SmallSortRule.MaxBytes &&
      !plan.exists(_.expressions.exists(!_.deterministic))
  }

  /** The build side is a broadcast exchange of a relation that a
    * shuffled hash join can build for this join type. */
  private def shuffledBuildable(side: BuildSide, joinType: JoinType,
      left: SparkPlan, right: SparkPlan): Boolean = side match {
    case BuildLeft => left.isInstanceOf[BroadcastExchangeExec] &&
      canBuildShuffledHashJoinLeft(joinType)
    case BuildRight => right.isInstanceOf[BroadcastExchangeExec] &&
      canBuildShuffledHashJoinRight(joinType)
  }

  private def unbroadcast(plan: SparkPlan): SparkPlan = plan match {
    case b: BroadcastExchangeExec => b.child
    case other => other
  }

  private def single(plan: SparkPlan): SparkPlan =
    if (plan.outputPartitioning == SinglePartition) plan else CoalesceExec(1, plan)
}
