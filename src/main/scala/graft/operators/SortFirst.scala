package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import graft.plans.SmallSortRule

/** Sort-first projection — the plan shape for `scan → heavy row-local
  * exprs → total ORDER BY` queries.
  *
  * Written naturally (`select(heavy).orderBy(keys)`), that shape pays the
  * heavy projection TWICE: a range exchange derives its partition bounds
  * by SAMPLING its child, and the sampling pass executes the whole
  * map-side segment — scan plus the heavy projection — before the real
  * pass runs it again (ShuffleExchangeExec builds its RangePartitioner
  * from child.execute()). On top of that, the heavy work runs at the
  * SCAN's parallelism, which for a compacted single-row-group file is one
  * task no matter how many cores the session has.
  *
  * [[project]] flips the order: range-partition and sort by the
  * (scan-resident) keys FIRST, then apply the heavy projection above the
  * sort. Catalyst has no project-below-sort pushdown, so the projection
  * stays above the exchange where it
  *  - executes exactly once (the sampler now samples only scan columns),
  *  - runs at the exchange's parallelism instead of the scan's.
  * `repartitionByRange(p, …)` + `sortWithinPartitions` is row-for-row the
  * same total order as `orderBy` (identical range partitioning + local
  * sort); stating `p` explicitly marks the shuffle REPARTITION_BY_NUM so
  * AQE does not coalesce the tiny-bytes-in / heavy-compute-above stage
  * back down to one task (bytes are all AQE can see — it cannot know the
  * projection above is the expensive part). `p` comes from
  * spark.sql.shuffle.partitions, so it scales with the session's
  * configuration, not with this machine.
  *
  * The explicit `p` applies only to scans of at least
  * [[SmallSortRule.MaxBytes]]. Below it, the order is stated as a plain
  * global sort, which [[SmallSortRule]] plans in one partition: the
  * sampling job and the range-shuffle stage cost more than running the
  * heavy projection over a few hundred KB in one task (`q_textstats`
  * went from 4 Spark jobs per action to 1). Both forms are the same
  * total order, with AQE on or off.
  *
  * Scale trade, stated honestly: the exchange now carries the projection
  * INPUTS (for text analytics, the document text) instead of its usually
  * narrower outputs. That is the right trade for expression chains that
  * re-scan the text many times (regex/split/array passes cost far more
  * than moving the bytes once); it is the wrong trade for a cheap
  * projection that collapses a wide payload — leave those in the natural
  * order (the range sampler re-runs only cheap work there).
  */
object SortFirst {

  /** `heavy(df sorted by keys)` ≡ `heavy-projection(df).orderBy(keys)`
    * for any order-preserving row-local `heavy` (Project/Filter — both
    * keep their child's row order). Keys must be total (unique) for the
    * output order to be deterministic — same requirement the trailing
    * ORDER BY had. */
  def project(df: DataFrame, keys: Seq[Column])(
      heavy: DataFrame => DataFrame): DataFrame =
    heavy(rangeOrdered(df, keys).sortWithinPartitions(keys: _*))

  /** The expansion variant: for a row-local `expand` (explode / stack /
    * chunk) whose final ORDER BY keys extend the pre-expansion keys,
    * range-partition the INPUT by the `prefix` keys, expand, then sort
    * each partition by the `full` key list. Equivalent to a trailing
    * global ORDER BY on `full`: every output row inherits its input
    * row's prefix keys, so the input's range partitions still tile the
    * final total order and only a local sort is missing. The expansion
    * itself is never sampled by a range partitioner (input rows are),
    * never re-executed, and its multiplied output is never shuffled —
    * the `explode-before-exchange multiplies the shuffle` trap, avoided
    * structurally. `prefix` must be unique per input row for the output
    * order to be deterministic. */
  def expandLocalSort(
      df: DataFrame, prefix: Seq[Column], full: Seq[Column])(
      expand: DataFrame => DataFrame): DataFrame =
    expand(rangeOrdered(df, prefix)).sortWithinPartitions(full: _*)

  /** `df` split into partitions that tile the total order of `keys`: a
    * global sort, planned in one partition by [[SmallSortRule]], when
    * `df` scans fewer than [[SmallSortRule.MaxBytes]]; otherwise
    * range-partitioned into the session's shuffle partitions (see the
    * object doc). Rows within a partition are sorted only in the first
    * case; callers sort them locally. */
  private def rangeOrdered(df: DataFrame, keys: Seq[Column]): DataFrame = {
    val scanned = SmallSortRule.scanBytes(df.queryExecution.analyzed)
    if (scanned.exists(_ < SmallSortRule.MaxBytes)) df.orderBy(keys: _*)
    else df.repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
  }

  /** Round-robin `df` up to the session's shuffle parallelism when its
    * current plan yields FEWER partitions — the compacted-small-file
    * case, where a single-row-group parquet file is one unsplittable
    * scan task no matter how many cores the session has, and every
    * row-local operator above it runs serially until the first
    * exchange. A no-op whenever the input is already at least that
    * wide, so at scale (scans of many files/row groups) the guard
    * short-circuits and no corpus-wide shuffle is injected. Use below
    * heavy per-row compute that would otherwise inherit a narrow scan's
    * parallelism. */
  def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** [[widen]] restricted to SCAN-SIDE inputs (a single relation under
    * only Project/Filter/alias), applied from inside operators whose
    * caller may pass an arbitrary frame. The restriction is what keeps
    * the partition-count probe lazy: `df.rdd.getNumPartitions` finalizes
    * the physical plan, and under AQE that MATERIALIZES any upstream
    * shuffle stages at compose time — a compose-time job, which the
    * library's laziness contract (LazinessSpec) forbids. A scan-side
    * plan has no exchange, so finalizing it schedules nothing. Inputs
    * with joins/aggregates/repartitions pass through unchanged: their
    * downstream parallelism already comes from an exchange, so widening
    * buys nothing there anyway. A streaming frame passes through
    * unchanged: its relation is a leaf too, but `df.rdd` on it throws,
    * and a stream's parallelism is the source's to set. */
  def widenScanSide(df: DataFrame): DataFrame = {
    def scanSide(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => scanSide(c)
      case Filter(_, c) => scanSide(c)
      case SubqueryAlias(_, c) => scanSide(c)
      case leaf if leaf.children.isEmpty => true
      case _ => false
    }
    if (!df.isStreaming && scanSide(df.queryExecution.analyzed)) widen(df)
    else df
  }
}
