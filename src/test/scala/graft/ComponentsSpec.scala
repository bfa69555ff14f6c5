package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup, PersistedPlans, Sampling}

class ComponentsSpec extends AnyFunSuite with SparkFixture {

  /** Driver-side union-find oracle: node -> min id in its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("fixed shapes: chain, triangle, disjoint pair, shared-min merge") {
    val s = spark
    import s.implicits._
    val edges = Seq( // {1,2,3,4} chain, {10,11,12} triangle, {20,21} pair,
      (1L, 2L), (2L, 3L), (3L, 4L), // {30,31,32} via two pairs sharing 30
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (31L, 30L), (30L, 32L))
    val pairs = edges.toDF("a_id", "b_id")
    val expected = unionFind(edges)
    assert(labelsOf(Components.clusterLabels(pairs)) == expected)
    assert(labelsOf(Components.connectedComponents(pairs)) == expected)
  }

  test("null endpoints name no node: both faces return the same labels") {
    val s = spark
    import s.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (Some(5L), Some(6L)))
      .toDF("a_id", "b_id")
    def labels(df: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
      df.collect().map(r => (r.get(0), r.get(1))).toSet
    val expected = Set[(Any, Any)]((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
    assert(labels(Components.clusterLabels(pairs)) == expected)
    assert(labels(Components.connectedComponents(pairs)) == expected)
    val docs = Seq(1L, 2L, 3L, 5L, 6L).toDF("id")
    assert(Components.dedupByCluster(docs, pairs, "id").as[Long].collect()
      .toSet == Set(1L, 3L, 5L))
    PersistedPlans.clear()
  }

  test("random graph: lazy and eager faces both match union-find") {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    // 150 edges over 120 nodes: several mid-size components + singleton
    // pairs; diameters stay small, in range for the lazy default rounds
    val edges = Seq.fill(150)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("a_id", "b_id")
    val expected = unionFind(edges)
    assert(labelsOf(Components.clusterLabels(pairs, rounds = 10)) == expected)
    assert(labelsOf(Components.connectedComponents(pairs)) == expected)
  }

  test("long chain: eager converges past the lazy round horizon") {
    val s = spark
    import s.implicits._
    val edges = (0L until 30L).map(i => (i, i + 1)) // diameter 30
    val pairs = edges.toDF("a_id", "b_id")
    // lazy with rounds=6 only propagates 6 hops — far end NOT labeled 0
    val lazySix = labelsOf(Components.clusterLabels(pairs, rounds = 6))
    assert(lazySix(30L) != 0L)
    // eager iterates to the true fixpoint
    val eager = labelsOf(Components.connectedComponents(pairs))
    assert(eager == unionFind(edges))
    assert(eager.values.forall(_ == 0L))
  }

  test("connectedComponents frees per-round state: one checkpoint survives") {
    val s = spark
    import s.implicits._
    // long chain -> many rounds -> many intermediate checkpoints to leak
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = Components.connectedComponents(pairs)
    assert(labels.count() == 21)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // every per-round checkpoint and both edge caches must be freed by
    // the time the call returns; only the returned frame's checkpoint
    // RDD may remain registered
    assert(added.size <= 1,
      s"connectedComponents leaked ${added.size} persistent RDDs")
  }

  test("sym cache is memoized per input plan and releasable") {
    val s = spark
    import s.implicits._
    PersistedPlans.clear()
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // N rebuilds of the same lazy query must register ONE pair of cache
    // entries, not 2N (the round-8 per-call accumulation)
    (1 to 5).foreach { _ =>
      assert(Components.clusterLabels(Seq((1L, 2L), (2L, 3L))
        .toDF("a_id", "b_id")).count() == 3)
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 2,
      s"5 identical clusterLabels builds registered ${added.size} caches")
    // a DIFFERENT pair relation gets its own entry
    assert(Components.clusterLabels(Seq((7L, 8L)).toDF("a_id", "b_id"))
      .count() == 2)
    val added2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added2.size > added.size)
    // a budget ranking lives in the same memo
    val docs = (1L to 50L).map(i => (i, 1, 10L)).toDF("id", "score", "toks")
    assert(Sampling.selectByBudget(docs, "score", "id", "toks", 100L, 3)
      .count() == 10)
    val added3 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added3.size > added2.size)
    // one explicit release drops every memoized entry's blocks
    PersistedPlans.clear()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"PersistedPlans.clear left ${after.size} persistent RDDs registered")
    // released plans remain correct (lineage recompute)
    assert(labelsOf(Components.clusterLabels(pairs)) ==
      unionFind(Seq((1L, 2L), (2L, 3L))))
    PersistedPlans.clear()
  }

  test("persisted plans: one LRU of 8 entries, shared by both operators") {
    val s = spark
    import s.implicits._
    PersistedPlans.clear()
    def registered = spark.sparkContext.getPersistentRDDs.keySet
    // 8 distinct edge relations fill the memo, oldest first
    val edgeRdds = (1L to 8L).map { i =>
      val before = registered
      assert(Components.clusterLabels(Seq((i, 100L + i)).toDF("a_id", "b_id"))
        .count() == 2)
      registered -- before
    }
    assert(edgeRdds.forall(_.nonEmpty))
    // a ninth entry, from the other operator, evicts the oldest edge entry
    val docs = (1L to 50L).map(i => (i, 1, 10L)).toDF("id", "score", "toks")
    assert(Sampling.selectByBudget(docs, "score", "id", "toks", 100L, 3)
      .count() == 10)
    val live = registered
    assert(edgeRdds.head.intersect(live).isEmpty,
      "the least recently used edge entry is still persisted")
    assert(edgeRdds.tail.forall(_.subsetOf(live)),
      "a more recently used edge entry was unpersisted")
    PersistedPlans.clear()
  }

  test("sym cache survives an external clearCache: hit path re-persists") {
    val s = spark
    import s.implicits._
    PersistedPlans.clear()
    def pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    assert(Components.clusterLabels(pairs).count() == 5)
    // an EXTERNAL clearCache (bench hygiene, ops memory pressure) strips
    // the persist out from under the memo entry without touching the map
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the next compose of the SAME plan hits the memo; pre-fix it served
    // the now-unpersisted frames and every action silently recomputed
    // the pair plan ~4*(rounds+1) times — the hit path must detect
    // storageLevel == NONE and re-register the persists
    val labels = Components.clusterLabels(pairs)
    assert(labels.count() == 5)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "post-clearCache hit served an unpersisted sym cache entry")
    assert(labelsOf(labels) ==
      unionFind(Seq((1L, 2L), (2L, 3L), (5L, 6L))))
    PersistedPlans.clear()
  }

  test("dedupByCluster keeps exactly the min-id member of each cluster") {
    val s = spark
    import s.implicits._
    val docs = (1L to 20L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 5L), (5L, 9L), (11L, 12L)).toDF("a_id", "b_id")
    val kept = Components.dedupByCluster(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // {2,5,9} -> keep 2; {11,12} -> keep 11; everything unpaired stays
    assert(kept == (1L to 20L).toSet -- Set(5L, 9L, 12L))
  }

  test("clusters over real minhash pairs: every pair ends up co-labeled") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text")
    val labels = Components.clusterLabels(pairs)
    val lmap = labelsOf(labels.select("node", "label"))
    val ps = pairs.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) =>
      assert(lmap(a) == lmap(b), s"pair ($a,$b) split across clusters")
    }
    // labels are component minima: every label is itself a member node
    // labeled with itself
    assert(lmap.values.toSet.forall(l => lmap(l) == l))
  }

  test("edge cache: overwriting the pair source directory is not served stale") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-snap").toString + "/pairs"
    Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
      .write.mode("overwrite").parquet(dir)
    def components() =
      labelsOf(Components.clusterLabels(s.read.parquet(dir)).select("node", "label"))
        .values.toSet.size
    assert(components() == 1) // {1,2,3}
    // overwrite the SAME path with a disjoint pair set; the plan is
    // identical (file sources canonicalize by root path), so only the
    // input-file snapshot in the cache key can see the change —
    // without it the stale persisted edges of the old corpus are served
    Seq((10L, 11L), (20L, 21L), (30L, 31L)).toDF("a_id", "b_id")
      .write.mode("overwrite").parquet(dir)
    assert(components() == 3,
      "cluster labels after overwrite must reflect the new pair relation")
    PersistedPlans.clear()
  }

  test("edge cache: an EXTERNAL (out-of-session) overwrite is not served stale") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Path, Paths}
    val root = Files.createTempDirectory("graft-cc-ext")
    val dir = root.resolve("pairs").toString
    Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id").write.parquet(dir)
    def components() =
      labelsOf(Components.clusterLabels(s.read.parquet(dir)).select("node", "label"))
        .values.toSet.size
    assert(components() == 1) // {1,2,3}
    // Rewrite the directory with PURE FILE OPERATIONS (stage + swap):
    // the session's write path never runs, so Spark's own refreshByPath
    // cache invalidation never fires — the scenario where another
    // process rewrites the corpus. Without the stale-collider eviction
    // in Components.sym, the CacheManager would substitute the OLD
    // persisted InMemoryRelation into the new, canonically-equal plan
    // (file indexes compare by root path) and serve stale edges.
    val stage = root.resolve("stage").toString
    Seq((10L, 11L), (20L, 21L), (30L, 31L)).toDF("a_id", "b_id")
      .write.parquet(stage)
    def rmTree(p: Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).forEach(c => rmTree(c))
      Files.delete(p)
    }
    rmTree(Paths.get(dir))
    Files.move(Paths.get(stage), Paths.get(dir))
    assert(components() == 3,
      "labels after an out-of-session rewrite must reflect the new relation")
    PersistedPlans.clear()
  }

  test("edge cache: an external overwrite after memo hits is not served stale") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Path, Paths}
    PersistedPlans.clear()
    val root = Files.createTempDirectory("graft-cc-hits")
    val dir = root.resolve("pairs").toString
    Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id").write.parquet(dir)
    def components() =
      labelsOf(Components.clusterLabels(s.read.parquet(dir)).select("node", "label"))
        .values.toSet.size
    // Built, then hit twice: the edge plan is now persisted, so the
    // optimized plan of every rebuild reads the InMemoryRelation, not
    // the files. A snapshot taken there (`Dataset.inputFiles`) sees no
    // files before or after the rewrite and serves the old edges.
    (1 to 3).foreach(_ => assert(components() == 1))
    val stage = root.resolve("stage").toString
    Seq((10L, 11L), (20L, 21L), (30L, 31L)).toDF("a_id", "b_id")
      .write.parquet(stage)
    def rmTree(p: Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).forEach(c => rmTree(c))
      Files.delete(p)
    }
    rmTree(Paths.get(dir))
    Files.move(Paths.get(stage), Paths.get(dir))
    assert(components() == 3,
      "labels after an out-of-session rewrite must reflect the new relation")
    PersistedPlans.clear()
  }
}
