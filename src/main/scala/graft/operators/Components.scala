package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.functions._

import graft.plans.{ConnectedComponents, GraftStrategy}

/** Connected components over a duplicate-pair relation — the step that
  * turns near-dup PAIRS ([[Dedup.minhashLsh]], [[Dedup.jaccardPairs]],
  * [[Dedup.simhashPairs]]) into duplicate CLUSTERS, so a pipeline can keep
  * exactly one survivor per group. Transitive closure matters: if A~B and
  * B~C, keeping "one of each pair" independently can drop all three or
  * keep two; the correct unit of dedup is the component {A,B,C}.
  *
  * Not in the reference (its dedup surface ends at `drop_duplicates`,
  * pandasql/core.py:1221-1244); designed Spark-first as one lazy plan
  * node, [[graft.plans.ConnectedComponents]], whose exec iterates
  * min-label propagation to convergence (see
  * [[graft.plans.ConnectedComponentsExec]]). One face, exact at any
  * diameter: composing it starts no job, its plan does not grow with the
  * graph, and every action runs the loop afresh over the pairs' current
  * rows. A caller that needs the labels materialized once for several
  * actions adds `.localCheckpoint()`.
  */
object Components {

  /** Component labels: (node, label) for every node that appears in a
    * pair with a non-null partner, label = the min node id of its
    * component. Lazy. */
  def clusterLabels(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    val spark = pairs.sparkSession
    // deployment convenience: sessions built without
    // spark.sql.extensions=graft.plans.GraftExtensions still plan the node
    GraftPlanBridge.ensureStrategy(spark, GraftStrategy)
    // project to the two endpoints: column pruning does not descend into
    // foreign nodes
    val child = GraftPlanBridge.analyzed(pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    GraftPlanBridge.ofRows(spark,
      ConnectedComponents(child, child.output(0), child.output(1)))
  }

  /** Keep one survivor per duplicate cluster: drops every doc whose
    * component label is not itself (the min-id member survives; docs in
    * no pair are untouched). Lazy — uses [[clusterLabels]]. */
  def dedupByCluster(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    val losers = clusterLabels(pairs, aCol, bCol)
      .filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }
}
