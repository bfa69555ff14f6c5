package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a duplicate-pair relation — the step that
  * turns near-dup PAIRS ([[Dedup.minhashLsh]], [[Dedup.jaccardPairs]],
  * [[Dedup.simhashPairs]]) into duplicate CLUSTERS, so a pipeline can keep
  * exactly one survivor per group. Transitive closure matters: if A~B and
  * B~C, keeping "one of each pair" independently can drop all three or
  * keep two; the correct unit of dedup is the component {A,B,C}.
  *
  * Not in the reference (its dedup surface ends at `drop_duplicates`,
  * pandasql/core.py:1221-1244); designed Spark-first as iterative
  * min-label propagation — the standard MapReduce-style formulation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14: label-propagation family): every node starts labeled with
  * itself, each round every node takes the min label over itself and its
  * neighbors, fixpoint = each node labeled with its component's min id.
  * Each round is ONE keyed shuffle join plus ONE partial-agg min groupBy —
  * no driver-side graph, no assumption the edge set fits anywhere.
  *
  * Two faces, one step function:
  *  - [[clusterLabels]]: a FIXED number of unrolled rounds, pure lazy
  *    transformations (composable, plan-cacheable, safe to hold in a
  *    query registry that must not launch jobs). Correct when the
  *    component diameter is <= rounds — true for near-dup clusters,
  *    which are dense (every member pairs with most others, diameter
  *    2-3); the default 6 rounds covers diameter-6 chains.
  *  - [[connectedComponents]]: iterates the same step TO CONVERGENCE,
  *    one job per round (the changed-label count doubles as the action
  *    materializing that round's persisted labels), unpersisting the
  *    previous round's blocks as it goes so state held is one round of
  *    labels plus the edges. Use this when diameters are unknown
  *    (general graphs, web-link components).
  *
  * 100 TB posture: state per round is one (node, label) row per node —
  * O(V) not O(E); labels only ever decrease, so convergence is monotone;
  * rounds needed = component diameter (near-dup graphs: ~2-3). The
  * shuffles are plain hash-partitioned equi-joins AQE can coalesce and
  * skew-split (a celebrity node with millions of edges is a skewed join
  * key, not a broken algorithm).
  */
object Components {

  /** Symmetrized edge list (src, dst) WITH self-loops. The self-loop is
    * load-bearing for plan shape: "min over own + neighbors' labels" as a
    * join + union would reference the previous round's labels TWICE, so
    * an unrolled r-round lazy plan duplicates the upstream DAG 2^r times
    * (ComponentsProbe measured the 2-reference form at 549 s for r=6 on a
    * 250k-pair corpus vs ~3 s eager). With self-loops the whole round is
    * ONE join + ONE min groupBy over a single labels reference — plan
    * growth is linear in rounds.
    *
    * The base edge projection is `persist`-marked (lazily — no job runs
    * until an action, so this composes into job-free query registries):
    * `e` appears 4 times inside this plan (forward, reversed, and twice
    * under the node distinct) and the WHOLE sym output is referenced once
    * per propagation round, so without a cache the upstream pair plan —
    * typically an expensive LSH/shingle dedup — executes ~4·(rounds+1)
    * times per action. At 100 TB the pair relation is the small output of
    * the dedup stage (O(duplicate pairs), not O(corpus)); MEMORY_AND_DISK
    * spills rather than evicts, and recompute-from-lineage remains the
    * correctness fallback if blocks are lost.
    *
    * The persisted pair is memoized in [[PersistedPlans]] per input
    * plan, so rebuilding the same clusterLabels query reuses ONE pair of
    * cache entries. Eager callers release their entry when done; lazy
    * faces can call [[PersistedPlans.clear]] between pipeline stages. */
  private def sym(pairs: DataFrame, aCol: String, bCol: String)
      : (PersistedPlans.Key, DataFrame) = {
    // A null id names no node: a pair with a null endpoint is no edge.
    // Dropped here, before symmetrizing, so both faces agree — otherwise
    // the lazy face labels a phantom null node the eager face's
    // join-back to the previous round silently loses.
    val proj = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val (key, Seq(_, s)) = PersistedPlans(proj) {
      val e = proj.persist(StorageLevel.MEMORY_AND_DISK)
      // Self-loops are emitted per ENDPOINT (duplicates and all) instead
      // of via a distinct() over the node set: every consumer of the
      // symmetrized edges either min-aggregates over them (step) or
      // re-distincts (connectedComponents init), so duplicate self-loops
      // are invisible — and dropping the distinct removes a whole
      // shuffle+agg pass from the cache materialization.
      //
      // The union is then hash-REPARTITIONED by src before the persist:
      // (a) every propagation round joins these edges on src, so the
      // cached partitioning satisfies the join's distribution and the
      // per-round exchange of the edge side disappears (the labels side
      // still shuffles — it is the round's output and must regroup);
      // (b) a plain union of four projections of e would cache 4×|e's
      // partitions| slices, and every round's scan would relaunch that
      // many tasks (measured: 96-task stages per round on a 3-leg union,
      // pure dispatch overhead at bench scale). Partition count comes
      // from spark.sql.shuffle.partitions — the session's scale knob,
      // not a constant.
      val p = pairs.sparkSession.sessionState.conf.numShufflePartitions
      val s = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .union(e.select(col("src"), col("src").as("dst")))
        .union(e.select(col("dst").as("src"), col("dst").as("dst")))
        .repartition(p, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Seq(e, s)
    }
    (key, s)
  }

  /** One min-label round: every node takes min over its in-edges'
    * source labels (self-loops carry the node's own label). The labels
    * side is the hash-join BUILD side (shuffle_hash hint): it is one row
    * per node — far smaller than the edge side — and a sort-merge join
    * here would re-SORT the persisted edges every round for no benefit
    * (the min-agg above is order-insensitive). */
  private def step(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .select(col("dst").as("node"), col("label"))
      .groupBy("node").agg(min("label").as("label"))

  /** Round 1 of min-label propagation, algebraically collapsed: with
    * labels initialized to identity (label(v)=v), the first step's join
    * just renames edge sources, so round 1 is a bare min-aggregation
    * over the symmetrized edges — no init node-set, no identity join.
    * Self-loops guarantee every node appears and its own id competes in
    * the min. */
  private def round1(sym: DataFrame): DataFrame =
    sym.select(col("dst").as("node"), col("src").as("label"))
      .groupBy("node").agg(min("label").as("label"))

  /** Lazy fixed-round component labels: (node, label) for every node that
    * appears in `pairs`, label = min node id reachable within `rounds`
    * hops (= the component's min id when diameter <= rounds). */
  def clusterLabels(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // sym's output is joined once per round plus once for init; both it
    // and the base edge projection are persist-marked (lazily) so each
    // action materializes the symmetrized edges exactly once instead of
    // rounds+1 times, and the upstream pair plan runs once instead of
    // ~4·(rounds+1) times (measured on q_dedup_clusters at sf0.1:
    // 17.2 s -> see SCALEPROBE.md round-8 section). The cache entries
    // stay registered — this face is a pure lazy composition with no
    // completion hook — but they are memoized per input plan, so
    // repeated builds of the same query share ONE pair of entries;
    // footprint is bounded by the (small) pair relation per DISTINCT
    // input. PersistedPlans.clear() releases them between pipeline stages.
    val (_, s) = sym(pairs, aCol, bCol)
    (2 to rounds).foldLeft(round1(s))((labels, _) => step(s, labels))
  }

  /** Explicitly drop the cache blocks behind a `localCheckpoint`-backed
    * frame. Spark only frees them when the ContextCleaner GCs the RDD
    * reference; an iterative loop that checkpoints every round would
    * otherwise accumulate one round of blocks per iteration
    * (block-manager storage ~rounds·|V| until GC). The checkpointed
    * plan's leaf IS the persisted RDD ([[org.apache.spark.sql.execution.LogicalRDD]]),
    * so unpersisting it is exactly the cleaner's eventual action, done
    * eagerly. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Eager converged component labels. Runs [[clusterLabels]]' step until
    * no label changes (or maxRounds). Each round localCheckpoints ONE
    * frame — the step output joined back to the previous labels so it
    * carries (node, label, prev) — and the convergence signal is a
    * filter-count over those just-materialized local blocks (no second
    * join re-running the step; the pre-fix version paid a separate
    * changed-count join per round). The previous round's checkpoint
    * blocks are freed via [[freeCheckpoint]] as soon as the new round is
    * materialized, so state held is one round of labels plus the edges.
    *
    * Per-round lineage truncation (localCheckpoint, NOT persist) is
    * load-bearing: labels is referenced twice per round, and with an
    * un-truncated plan that doubles the logical tree every round —
    * 2^rounds blowup, which `Dataset.persist` hits at registration time
    * because building an InMemoryRelation stringifies the physical plan
    * for its cache name (measured: a 10-round run hung for minutes in
    * TreeNode.treeString). A checkpointed frame's plan is a flat
    * LogicalRDD leaf, so referencing it any number of times is free.
    *
    * Returns a localCheckpoint-backed frame — already materialized,
    * independent of the edge caches this method cleans up on exit. */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxRounds: Int = 50): DataFrame = {
    val (symK, s) = sym(pairs, aCol, bCol) // cached; reused every round
    // Seed with the collapsed round 1 (see [[round1]]): one aggregation
    // replaces the old identity-label init (a distinct over the node
    // set) PLUS the first join round. `round` starts at 1 so maxRounds
    // still bounds total step applications.
    var labels = round1(s).localCheckpoint()
    var round = 1
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val next = step(s, labels)
        .join(labels.withColumnRenamed("label", "prev"), "node")
        .localCheckpoint() // job 1: materialize the round
      changed = next.filter(col("label") =!= col("prev")).count() // local scan
      freeCheckpoint(labels) // old round's blocks, freed deterministically
      labels = next.select("node", "label")
      round += 1
    }
    val converged = changed == 0
    // release (not just unpersist): removing the memo entry lets the next
    // caller re-register a fresh cache instead of reusing an unpersisted one
    PersistedPlans.release(symK)
    if (!converged) freeCheckpoint(labels) // don't leak the last round on failure
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds")
    labels
  }

  /** Keep one survivor per duplicate cluster: drops every doc whose
    * component label is not itself (the min-id member survives; docs in
    * no pair are untouched). Lazy — uses [[clusterLabels]]. */
  def dedupByCluster(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String = "a_id",
      bCol: String = "b_id",
      rounds: Int = 6): DataFrame = {
    val losers = clusterLabels(pairs, aCol, bCol, rounds)
      .filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }
}
