package graft.plans

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.storage.StorageLevel

/** Connected components of the pair relation `child` (one edge per row,
  * endpoints `a` and `b`) as one logical operator: a `(node, label)` row
  * for every node that appears in a pair with a non-null partner, label
  * = the min node id of its component.
  *
  * Composing it starts no job and its plan has the same size whatever the
  * graph's diameter: the iteration lives in [[ConnectedComponentsExec]],
  * planned by [[GraftStrategy]]. The child is expected to be projected to
  * exactly `(a, b)`, since column pruning does not descend into foreign
  * nodes. */
case class ConnectedComponents(
    child: LogicalPlan,
    a: Attribute,
    b: Attribute,
    node: AttributeReference,
    label: AttributeReference)
    extends UnaryNode {

  override def output: Seq[Attribute] = Seq(node, label)

  // node and label are minted here, not consumed from the child
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): ConnectedComponents =
    copy(child = newChild)
}

object ConnectedComponents {

  /** The node over `child`, with fresh output attributes typed like the
    * endpoints. */
  def apply(child: LogicalPlan, a: Attribute, b: Attribute): ConnectedComponents = {
    require(a.dataType == b.dataType,
      s"component endpoints must share one type, got ${a.dataType} and ${b.dataType}")
    // ids are hash keys and min-compared: byte arrays hash by identity
    require(a.dataType != BinaryType, "component endpoints cannot be binary")
    ConnectedComponents(child, a, b,
      AttributeReference("node", a.dataType)(), AttributeReference("label", a.dataType)())
  }
}

/** Iterative min-label propagation — the standard MapReduce-style
  * formulation (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14: label-propagation family): every node starts
  * labeled with itself, each round every node takes the min label over
  * itself and its neighbors, and the fixpoint labels each node with its
  * component's min id. No graph is collected into one process and
  * nothing assumes the edge set fits anywhere.
  *
  * The loop runs to convergence with no round cap: labels only decrease
  * over a finite node set, so it always terminates, after as many rounds
  * as the largest component's diameter (near-dup clusters: 2-3).
  *
  * The loop is written on keyed RDDs, not DataFrames: a round is then
  * one narrow join (edges and labels share one hash partitioner) and one
  * min-reduce shuffle, run as ONE job together with its changed-count,
  * and it plans no query. A DataFrame round would analyze, optimize and
  * plan a fresh query under AQE every round and run three jobs.
  *
  * State held: the symmetrized edges, persisted for the loop and
  * unpersisted before the result is returned, plus one round of labels —
  * each round is `localCheckpoint`ed and the previous round's blocks are
  * freed at once. The final round's checkpoint backs the returned RDD; it
  * is O(V) and released by Spark's ContextCleaner with that RDD.
  *
  * 100 TB posture: state per round is one (node, label) pair per node —
  * O(V) not O(E); the edges shuffle once per action, the labels once per
  * round. A celebrity node with millions of edges makes one skewed task
  * (AQE's skew split does not reach RDD shuffles), not a broken
  * algorithm.
  *
  * A child of ONE partition skips the loop: its pairs are already in
  * one task, so that task labels them by union-find, each root being its
  * component's minimum under the ids' ordering. That path runs no
  * shuffle, no checkpoint and no round, and adds no job to the query's
  * own. [[SmallQueryRule]] plans small queries that way. */
case class ConnectedComponentsExec(
    child: SparkPlan,
    a: Attribute,
    b: Attribute,
    node: AttributeReference,
    label: AttributeReference)
    extends UnaryExecNode {
  import ConnectedComponentsExec._

  override def output: Seq[Attribute] = Seq(node, label)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def withNewChildInternal(newChild: SparkPlan): ConnectedComponentsExec =
    copy(child = newChild)

  // The loop runs Spark jobs of its own: run it once per exec instance,
  // however often the instance is asked for its RDD.
  @transient private lazy val labels: RDD[InternalRow] = {
    val dt = a.dataType
    val Seq(ia, ib) = Seq(a, b).map(x => child.output.indexWhere(_.exprId == x.exprId))
    val rows = child.execute()
    val min = smaller(dt)
    val fixpoint =
      if (rows.getNumPartitions == 1) rows.mapPartitions(unionFind(_, ia, ib, dt, min))
      else {
        val edges = symmetrized(rows, ia, ib, dt,
          new HashPartitioner(conf.numShufflePartitions))
        try converge(edges, min) finally edges.unpersist(blocking = true)
      }
    fixpoint.mapPartitions { pairs =>
      val row = new GenericInternalRow(2)
      val unsafe = UnsafeProjection.create(Array[DataType](dt, dt))
      pairs.map { case (n, l) => row.update(0, n); row.update(1, l); unsafe(row) }
    }
  }

  override protected def doExecute(): RDD[InternalRow] = labels
}

object ConnectedComponentsExec {

  /** The smaller of two ids under the type's ordering. */
  private def smaller(dt: DataType): (Any, Any) => Any = {
    val ord = PhysicalDataType.ordering(dt)
    (x, y) => if (ord.lteq(x, y)) x else y
  }

  /** `(node, label)` for every node of the pair rows, by union-find in
    * one task: a pair with a null endpoint is no edge, as in
    * [[symmetrized]], and the root of every component is its minimum
    * under `min`, so a node's root is its label. */
  private def unionFind(rows: Iterator[InternalRow], ia: Int, ib: Int, dt: DataType,
      min: (Any, Any) => Any): Iterator[(Any, Any)] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var n = x
      while (n != root) { val up = parent.get(n); parent.put(n, root); n = up }
      root
    }
    rows.foreach { r =>
      if (!r.isNullAt(ia) && !r.isNullAt(ib)) {
        // the row may be a reused buffer: copy string ids out of it
        val s = InternalRow.copyValue(r.get(ia, dt))
        val d = InternalRow.copyValue(r.get(ib, dt))
        parent.putIfAbsent(s, s)
        parent.putIfAbsent(d, d)
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) {
          if (min(rs, rd) == rs) parent.put(rd, rs) else parent.put(rs, rd)
        }
      }
    }
    // path compression only rewrites values: no structural change while
    // the key set is walked
    parent.keySet.iterator.asScala.map(n => n -> find(n))
  }

  /** Symmetrized edge list src -> dst WITH self-loops, from one pass over
    * the pair rows; a pair with a null endpoint is no edge (a null id
    * names no node). The self-loop makes "min over own + neighbors'
    * labels" a min over a node's edges alone. Self-loops are emitted per
    * endpoint, duplicates and all: every consumer min-reduces over them,
    * so no distinct pass over the node set is needed.
    *
    * Hash-partitioned by src and persisted for the loop: every round
    * joins these edges on src with labels under the same partitioner, so
    * the edges shuffle once, here, and never again. The partition count
    * is spark.sql.shuffle.partitions, the session's scale knob. */
  private def symmetrized(rows: RDD[InternalRow], ia: Int, ib: Int, dt: DataType,
      partitioner: Partitioner): RDD[(Any, Any)] =
    rows.flatMap { r =>
      if (r.isNullAt(ia) || r.isNullAt(ib)) Nil
      else {
        // the row may be a reused buffer: copy string ids out of it
        val s = InternalRow.copyValue(r.get(ia, dt))
        val d = InternalRow.copyValue(r.get(ib, dt))
        Seq(s -> d, d -> s, s -> s, d -> d)
      }
    }.partitionBy(partitioner).persist(StorageLevel.MEMORY_AND_DISK)

  /** Round 1 and then one step per round until no label changes.
    *
    * Round 1, algebraically collapsed: with labels initialized to
    * identity, a node's first label is the min over its edges' far ends,
    * a reduce of the edges by src — under their own partitioner, so no
    * shuffle. A step sends each label along the edges (the narrow join on
    * src) and min-reduces it by dst.
    *
    * Each round is `localCheckpoint`ed, and the changed-count, a narrow
    * join of the round with the one before, is the job that materializes
    * it: one job per round. Per-round lineage truncation is load-bearing:
    * an un-truncated round's lineage nests every earlier round. */
  private def converge(edges: RDD[(Any, Any)], min: (Any, Any) => Any): RDD[(Any, Any)] = {
    val partitioner = edges.partitioner.get
    var labels = edges.reduceByKey(partitioner, min).localCheckpoint()
    try {
      var changed = 1L
      while (changed > 0) {
        val next = edges.join(labels, partitioner).values
          .reduceByKey(partitioner, min).localCheckpoint()
        changed = next.join(labels, partitioner).filter { case (_, (l, p)) => l != p }.count()
        GraftPlanBridge.freeCheckpoint(labels)
        labels = next
      }
    } catch {
      case NonFatal(e) => GraftPlanBridge.freeCheckpoint(labels); throw e
    }
    labels
  }
}
