package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Expression,
  GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning
}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** As-of join as a first-class Catalyst operator.
  *
  * Spark's join zoo has no ASOF JOIN (the reference surface doesn't
  * either — this is part of graft's time-series extension, alongside the
  * composed form in [[graft.operators.AsOfJoin]]). Rather than emulate it
  * with a union + window ([[graft.operators.AsOfJoin.asofWindowed]]), this
  * is the real thing: a logical node, a planner strategy, and a physical
  * sort-merge operator, injected via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or
  * `experimental.extraStrategies`.
  *
  * Scale story: EnsureRequirements gives both children a hash shuffle on
  * the keys plus an in-partition sort by (keys, time) — the same price as
  * a plain sort-merge join — and the merge itself is a single forward
  * pass holding ONE buffered right row, so memory is O(1) per partition
  * regardless of group size. The union+window form pays the same shuffle
  * but then runs every right row through the window state machine and
  * filters it back out; here right rows never materialize in the output
  * stream at all.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightValues: Seq[Expression],
    outputValues: Seq[AttributeReference],
    isInner: Boolean)
    extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ outputValues

  // outputValues are minted here, not consumed from the children — without
  // this, CheckAnalysis would flag them as missing inputs
  override def producedAttributes: AttributeSet = AttributeSet(outputValues)

  /** Output cardinality is exactly the left side's (≤ for inner), each row
    * widened by the attached values — bounded by left + right. The stats
    * visitor's default for a foreign binary node is the PRODUCT of child
    * sizes, which would make this node's output look join-exploded and
    * veto every downstream broadcast it should qualify for. */
  override def stats: Statistics =
    Statistics(sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans graft's logical operators — [[AsOfJoinPlan]] to
  * [[AsOfJoinExec]], [[ConnectedComponents]] to [[ConnectedComponentsExec]];
  * everything else falls through to Spark's built-in strategies. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTime, p.rightTime,
        p.rightValues, p.outputValues, p.isInner,
        planLater(p.left), planLater(p.right)) :: Nil
    case p: ConnectedComponents =>
      ConnectedComponentsExec(planLater(p.child), p.a, p.b, p.node, p.label) :: Nil
    case _ => Nil
  }
}

/** Entry point for `spark.sql.extensions` / `builder.withExtensions`.
  * It registers the planner strategy ([[GraftStrategy]]), the optimizer
  * rule ([[RangeJoinRule]]) and two AQE query-stage preparation rules,
  * in this order: [[SmallQueryRule]], which plans a query over file
  * scans under [[SmallSortRule.MaxBytes]] with no exchange or broadcast,
  * as one stage; then [[SmallSortRule]], which sorts the small global
  * sorts of the other plans in one partition instead of sampling them
  * into a range shuffle. The codegen'd vector
  * and shingle expressions register as SQL functions, so a pure-SQL user
  * gets the same hot paths the DataFrame operators use. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

  private def fn(
      name: String, clazz: Class[_], arity: Int)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (es: Seq[Expression]) => {
        require(es.size == arity, s"$name expects $arity arguments, got ${es.size}")
        build(es)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => GraftStrategy)
    ext.injectOptimizerRule(_ => RangeJoinRule)
    ext.injectQueryStagePrepRule(_ => SmallQueryRule)
    ext.injectQueryStagePrepRule(_ => SmallSortRule)
    ext.injectFunction(fn("graft_dot", classOf[ArrayDotProduct], 2)(es =>
      ArrayDotProduct(es(0), es(1))))
    ext.injectFunction(fn("graft_cosine", classOf[ArrayCosineSimilarity], 2)(es =>
      ArrayCosineSimilarity(es(0), es(1))))
    ext.injectFunction(fn("graft_shingles", classOf[WordShingles], 2)(es =>
      es(1) match {
        case Literal(k: Int, _) => WordShingles(es(0), k)
        case other => throw new IllegalArgumentException(
          s"graft_shingles(text, k): k must be an integer literal, got $other")
      }))
  }
}

/** Physical backward as-of join: co-partition both sides on the keys,
  * sort each partition by (keys, time), then merge. For every left row,
  * attach the latest right row with the same key and time ≤ the left
  * row's time (`isInner=false` keeps unmatched left rows with nulls).
  *
  * The right child is expected to be pre-projected to exactly the
  * columns the operator reads (the API layer does this), since Catalyst's
  * column pruning does not descend into foreign nodes.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightValues: Seq[Expression],
    outputValues: Seq[AttributeReference],
    isInner: Boolean,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ outputValues
  override def producedAttributes: AttributeSet = AttributeSet(outputValues)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // one hash shuffle per side; EnsureRequirements makes them co-partitioned
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def sideOrdering(keys: Seq[Expression], time: Expression): Seq[SortOrder] =
    (keys :+ time).map(SortOrder(_, Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(sideOrdering(leftKeys, leftTime), sideOrdering(rightKeys, rightTime))

  // left rows pass through in order, so both properties survive the merge
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = sideOrdering(leftKeys, leftTime)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val ktTypes = leftKeys.map(_.dataType) :+ leftTime.dataType

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKtProj = UnsafeProjection.create(leftKeys :+ leftTime, left.output)
      val rKtProj = UnsafeProjection.create(rightKeys :+ rightTime, right.output)
      val valueProj = UnsafeProjection.create(rightValues, right.output)
      val resultProj = UnsafeProjection.create(output, output)
      val ktOrdering = RowOrdering.createNaturalAscendingOrdering(ktTypes)
      // keys are the leading fields of the kt rows, so a keys-only
      // ordering applied to kt rows compares exactly the key prefix —
      // no separate key projections in the per-row path
      val keyOrdering = RowOrdering.createNaturalAscendingOrdering(ktTypes.dropRight(1))
      val nullValues = new GenericInternalRow(outputValues.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // head of the right stream, not yet merged past. Sort execs reuse
        // row buffers, so both the head and its projected (key, time) are
        // copied before the next fetch; per LEFT row the merge then does
        // one projection and 1-2 comparisons, nothing else.
        private var rHead: InternalRow = _
        private var rHeadKt: InternalRow = _
        // the backward-join candidate: latest right row (and its kt) with
        // (key, time) <= the current left row's (key, time)
        private var lastRight: InternalRow = _
        private var lastRightKt: InternalRow = _
        private var lastValues: InternalRow = _
        private var pending: InternalRow = _
        fetchRight()

        private def fetchRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKt = rKtProj(rHead).copy()
          } else { rHead = null; rHeadKt = null }

        private def advance(): Unit = {
          while (pending == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lKt = lKtProj(lRow)
            while (rHead != null && ktOrdering.compare(rHeadKt, lKt) <= 0) {
              lastRight = rHead.copy()
              lastRightKt = rHeadKt
              lastValues = null
              fetchRight()
            }
            val matched = lastRight != null && keyOrdering.compare(lastRightKt, lKt) == 0
            if (matched || !isInner) {
              if (matched && lastValues == null) {
                lastValues = valueProj(lastRight).copy()
              }
              joined(lRow, if (matched) lastValues else nullValues)
              pending = resultProj(joined)
            }
          }
        }

        override def hasNext: Boolean = { advance(); pending != null }

        override def next(): InternalRow = {
          advance()
          val out = pending
          pending = null
          numOutputRows += 1
          out
        }
      }
    }
  }
}
