package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup, PersistedPlans, Sampling}
import graft.plans.ConnectedComponentsExec

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
    assert(labelsOf(Components.clusterLabels(pairs)) == unionFind(edges))
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
    val docs = Seq(1L, 2L, 3L, 5L, 6L).toDF("id")
    assert(Components.dedupByCluster(docs, pairs, "id").as[Long].collect()
      .toSet == Set(1L, 3L, 5L))
  }

  test("string ids: labels are the min id of each component") {
    val s = spark
    import s.implicits._
    val pairs = Seq(("d", "c"), ("c", "b"), ("x", "y"), ("b", "e")).toDF("a_id", "b_id")
    val labels = Components.clusterLabels(pairs).as[(String, String)].collect().toMap
    assert(labels == Map("b" -> "b", "c" -> "b", "d" -> "b", "e" -> "b", "x" -> "x", "y" -> "x"))
  }

  test("random graph: lazy and eager faces both match union-find") {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    // 150 edges over 120 nodes: several mid-size components + singleton
    // pairs
    val edges = Seq.fill(150)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("a_id", "b_id")
    assert(labelsOf(Components.clusterLabels(pairs)) == unionFind(edges))
  }

  test("long chain: eager converges past the lazy round horizon") {
    val s = spark
    import s.implicits._
    val edges = (0L until 30L).map(i => (i, i + 1)) // diameter 30
    val labels = labelsOf(Components.clusterLabels(edges.toDF("a_id", "b_id")))
    assert(labels == unionFind(edges))
    assert(labels.values.forall(_ == 0L))
  }

  test("a diameter-11 chain is one cluster on every face") {
    val s = spark
    import s.implicits._
    // 12 nodes 1..12 in a path: exact labels need 11 propagation rounds,
    // more than the 6 a fixed-depth unroll gives
    val edges = (1L until 12L).map(i => (i, i + 1))
    val pairs = edges.toDF("a_id", "b_id")
    val labels = labelsOf(Components.clusterLabels(pairs))
    assert(labels == unionFind(edges))
    assert(labels.values.toSet == Set(1L), s"chain got labels ${labels.values.toSet}")
    val docs = (1L to 20L).map(i => (i, s"doc $i")).toDF("id", "text")
    assert(Components.dedupByCluster(docs, pairs, "id")
      .select("id").as[Long].collect().toSet == Set(1L) ++ (13L to 20L))
    val split = Sampling.leakageSafeSplit(docs, "id", pairs,
        Seq("train" -> 0.5, "test" -> 0.5))
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 12L).map(split).toSet.size == 1, s"chain split apart: $split")
  }

  test("differential: one-partition union-find, the 4-partition loop and a model agree") {
    import org.scalacheck.{Gen, rng}
    val s = spark
    import s.implicits._
    // ids from a small range so components merge; a null endpoint is no
    // edge; self-loops, duplicate and reversed edges and chains of 13 to
    // 30 nodes (more rounds than a short graph's diameter) mixed in
    val id = Gen.chooseNum(0L, 40L)
    val end = Gen.frequency(9 -> id.map(Option(_)), 1 -> Gen.const(Option.empty[Long]))
    val edge = Gen.frequency(8 -> Gen.zip(end, end), 1 -> id.map(i => (Some(i), Some(i))))
    val chain = for {
      start <- Gen.chooseNum(1L, 9L).map(_ * 100)
      n <- Gen.chooseNum(13, 30)
    } yield (0 until n).map(i => (Option(start + i), Option(start + i + 1)))
    val graph = for {
      edges <- Gen.chooseNum(0, 60).flatMap(Gen.listOfN(_, edge))
      chains <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, chain))
      dups <- Gen.chooseNum(0, 5)
    } yield {
      val all = edges ++ chains.flatten
      all ++ all.take(dups) ++ all.take(dups).map(_.swap)
    }
    /** node -> min id of its component, over the non-null pairs. */
    def model[T](pairs: Seq[(Option[T], Option[T])])(implicit ord: Ordering[T]): Set[(T, T)] = {
      val parent = scala.collection.mutable.Map[T, T]()
      def find(x: T): T = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.collect { case (Some(a), Some(b)) => (a, b) }.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
      parent.keys.map(n => n -> find(n)).toSet
    }
    def labels(pairs: org.apache.spark.sql.DataFrame, partitions: Int): Set[(Any, Any)] = {
      val df = Components.clusterLabels(pairs)
      val ccs = TestSpark.ranNodes(df).collect { case c: ConnectedComponentsExec => c }
      assert(ccs.map(_.child.execute().getNumPartitions) == Seq(partitions))
      df.collect().map(r => (r.get(0), r.get(1))).toSet
    }
    val cases = Gen.listOfN(12, graph).apply(Gen.Parameters.default, rng.Seed(13L)).get
    cases.foreach { longs =>
      val strings = longs.map { case (a, b) => (a.map(i => s"n$i"), b.map(i => s"n$i")) }
      Seq[(org.apache.spark.sql.DataFrame, Set[(Any, Any)])](
        longs.toDF("a_id", "b_id") -> model(longs).map(p => (p._1: Any, p._2: Any)),
        strings.toDF("a_id", "b_id") -> model(strings).map(p => (p._1: Any, p._2: Any))
      ).foreach { case (pairs, want) =>
        val got = labels(pairs.coalesce(1), 1)
        assert(got == labels(pairs.repartition(4), 4), s"edges: $longs")
        assert(got.map { case (n, l) => (n.toString, l.toString) } ==
          want.map { case (n, l) => (n.toString, l.toString) }, s"edges: $longs")
      }
    }
  }

  test("clusterLabels frees per-round state: one checkpoint survives an action") {
    val s = spark
    import s.implicits._
    // long chain -> many rounds -> many intermediate checkpoints to leak
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Components.clusterLabels(pairs).count() == 21)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // every per-round checkpoint and the edge cache must be freed by the
    // time the action returns; only the final round's checkpoint, which
    // backs the action's input, may remain registered
    assert(added.size <= 1, s"clusterLabels leaked ${added.size} persistent RDDs")
  }

  test("a persisted frame over clusterLabels materializes (no cache-lock deadlock)") {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // Building a persisted frame holds the lock of the cache it fills while
    // the plan under it runs, and AQE runs the exchange above the components
    // node on another thread. Releasing the loop's edges through the
    // CacheManager from there waited on that same lock forever.
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val sizes = Components.clusterLabels(pairs).groupBy("label").count().persist()
    val n = Await.result(Future(sizes.count()), 120.seconds)
    sizes.unpersist()
    assert(n == 2)
  }

  test("clusterLabels composes with no job and runs a pinned job count per action") {
    val s = spark
    import s.implicits._
    // a pair and a 4-node chain: diameter 3, so round 1, 2 steps that
    // change labels and one that confirms the fixpoint. One job a step
    // (its changed-count materializes the round; the first also runs the
    // edge shuffle and round 1), 2 for the count. The same action ran 19
    // jobs as a 6-round unroll.
    val pairs = Seq((1L, 2L), (10L, 11L), (11L, 12L), (12L, 13L)).toDF("a_id", "b_id")
    var labels: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsStartedBy { labels = Components.clusterLabels(pairs) } == 0)
    val jobs = TestSpark.jobsStartedBy(assert(labels.count() == 6))
    info(s"jobs per action: $jobs")
    assert(jobs == 5, s"clusterLabels(...).count() ran $jobs jobs")
  }

  test("sym cache is memoized per input plan and releasable") {
    val s = spark
    import s.implicits._
    PersistedPlans.clear()
    def registered = spark.sparkContext.getPersistentRDDs.keySet
    def pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    // the symmetrized edges live for one action and are released before
    // the exec returns: rebuilding the same query N times holds no edge
    // blocks, each action leaves at most its final round's checkpoint
    (1 to 5).foreach { _ =>
      val prior = registered
      assert(Components.clusterLabels(pairs).count() == 3)
      val added = registered -- prior
      assert(added.size <= 1, s"a clusterLabels action left ${added.size} persistent RDDs")
    }
    // the persisted-plan memo keeps ONE ranking per input plan: five
    // rebuilds of the same budget query register one entry, not five
    def ranking(score: Int) = {
      val prior = registered
      val docs = (1L to 50L).map(i => (i, score, 10L)).toDF("id", "score", "toks")
      assert(Sampling.selectByBudget(docs, "score", "id", "toks", 100L, 3)
        .count() == 10)
      registered -- prior
    }
    val rebuilds = (1 to 5).map(_ => ranking(1))
    assert(rebuilds.head.nonEmpty && rebuilds.tail.forall(_.isEmpty),
      s"5 identical selectByBudget builds registered ${rebuilds.map(_.size)}")
    // a DIFFERENT input plan gets its own entry
    val other = ranking(2)
    assert(other.nonEmpty)
    // one explicit release drops every memoized entry's blocks
    PersistedPlans.clear()
    val left = (rebuilds.head ++ other).intersect(registered)
    assert(left.isEmpty, s"PersistedPlans.clear left ${left.size} persistent RDDs registered")
    // released plans remain correct (lineage recompute)
    val docs = (1L to 50L).map(i => (i, 1, 10L)).toDF("id", "score", "toks")
    assert(Sampling.selectByBudget(docs, "score", "id", "toks", 100L, 3).count() == 10)
    assert(labelsOf(Components.clusterLabels(pairs)) ==
      unionFind(Seq((1L, 2L), (2L, 3L))))
    PersistedPlans.clear()
  }

  test("persisted plans: one LRU of 8 entries, shared by both operators") {
    val s = spark
    import s.implicits._
    PersistedPlans.clear()
    def registered = spark.sparkContext.getPersistentRDDs.keySet
    def ranking(score: Int) = {
      val prior = registered
      val docs = (1L to 50L).map(i => (i, score, 10L)).toDF("id", "score", "toks")
      assert(Sampling.selectByBudget(docs, "score", "id", "toks", 100L, 3)
        .count() == 10)
      registered -- prior
    }
    // 8 distinct rankings fill the memo, oldest first
    val rankings = (1 to 8).map(ranking)
    assert(rankings.forall(_.nonEmpty))
    // clusterLabels runs in the same session but takes no slot (its edges
    // are per-action state), so it evicts no ranking
    assert(Components.clusterLabels(Seq((1L, 2L)).toDF("a_id", "b_id")).count() == 2)
    val afterLabels = registered
    assert(rankings.forall(_.subsetOf(afterLabels)),
      "a clusterLabels action evicted a memoized ranking")
    // a ninth ranking evicts the least recently used one
    assert(ranking(9).nonEmpty)
    val live = registered
    assert(rankings.head.intersect(live).isEmpty,
      "the least recently used ranking is still persisted")
    assert(rankings.tail.forall(_.subsetOf(live)),
      "a more recently used ranking was unpersisted")
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
