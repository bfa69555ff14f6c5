package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{
  BroadcastExchangeExec, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{
  BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.PsDataFrame
import graft.operators.{Components, Dedup}
import graft.plans.{ConnectedComponentsExec, SmallSortRule}
import graft.sources.PsIO

/** Plan-shape regression guards for the scale claims the docs make:
  * operators that PROMISE a bounded plan must keep planning it. A silent
  * fall-back (e.g. a full sort where TakeOrderedAndProject belongs, or a
  * whole-group window where the group-limit applies) stays correct on
  * test data and only shows up as a melted cluster at scale — so the
  * plan itself is the asserted artifact.
  */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  private def lineitem =
    PsIO.readParquet(spark, "/root/testdata/sf0.001/lineitem.parquet")

  private def documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // sf0.001's rows padded to 2 MiB: above SmallQueryRule's bound, so the
  // cases written for the distributed path still plan it
  private lazy val bigDocuments = TestSpark.paddedCopy(documents, 2L << 20)
  private lazy val bigLineitem = TestSpark.paddedCopy(lineitem.df, 2L << 20)
  private lazy val bigOrders = TestSpark.paddedCopy(
    PsIO.parquet(spark, "/root/testdata/sf0.001/orders.parquet"), 2L << 20)

  private def shuffles(nodes: Seq[SparkPlan]) =
    nodes.collect { case e: ShuffleExchangeExec => e }

  private def broadcastHashJoins(nodes: Seq[SparkPlan]) =
    nodes.collect { case j: BroadcastHashJoinExec => j }

  test("nlargest plans TakeOrderedAndProject, never a global sort") {
    val plan = lineitem.nlargest(15, Seq("l_extendedprice"))
      .df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    assert(!plan.contains("Sort "), s"global sort crept in: ${plan.take(500)}")
  }

  test("keyed exact dedup plans WindowGroupLimit (map-side keep-1)") {
    val d = lineitem.df
    val plan = Dedup.exact(d, Seq("l_orderkey"), Seq(col("l_linenumber")))
      .queryExecution.executedPlan.toString
    // Spark inserts partial + final WindowGroupLimit around the exchange:
    // each map task keeps one row per key before the shuffle, so the
    // shuffle carries at most one row per (partition, key), not the corpus
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("headPerGroup plans WindowGroupLimit and keeps exactly n per group") {
    val li = lineitem
    val top = li.headPerGroup(2, Seq("l_returnflag"),
      Seq(li("l_extendedprice").desc, li("l_orderkey").asc))
    val plan = top.df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    val counts = top.df.groupBy("l_returnflag").count()
      .collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ == 2L))
    // the grouped-frame sugar is the same operator
    val viaGroup = li.groupby("l_returnflag")
      .head(2, Seq(li("l_extendedprice").desc, li("l_orderkey").asc))
    assert(viaGroup.df.collect().toSet == top.df.collect().toSet)
  }

  test("grouped aggregation partial-aggregates before its exchange") {
    val agged = lineitem.df.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"))
    val plan = agged.queryExecution.executedPlan.toString
    val aggNodes = "HashAggregate".r.findAllIn(plan).length
    assert(aggNodes >= 2, s"expected partial+final HashAggregate:\n${plan.take(800)}")
    assert(plan.contains("partial_sum"), plan.take(800))
  }

  test("aggOrdered partial-aggregates before its exchange, no window") {
    val o = PsIO.readParquet(spark, "/root/testdata/sf0.001/orders.parquet")
    val plan = o.groupby("o_custkey").aggOrdered("o_orderkey",
        ("o_totalprice", "idxmax") -> "best",
        ("o_totalprice", "first") -> "fp")
      .df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"idxmax must not plan a window:\n${plan.take(600)}")
    // struct buffers are not hash-aggregable, so this is a SortAggregate
    // pair (map-side sort by group key) — the scale property that matters
    // is the PARTIAL side: the exchange carries one pre-reduced row per
    // (partition, key), never the corpus
    assert(plan.contains("partial_max"), s"no map-side partial agg:\n${plan.take(600)}")
  }

  test("mode plans aggregation passes, never a per-group ordering window") {
    val d = PsIO.readParquet(spark, "/root/testdata/sf0.001/documents.parquet")
    val plan = d.groupby("source").mode("lang", "m")
      .df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(600))
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"no map-side partial agg:\n${plan.take(600)}")
  }

  test("getDummies stays a shuffle-free codegen'd projection") {
    val c = PsIO.readParquet(spark, "/root/testdata/sf0.001/customer.parquet")
    val plan = c.getDummies("c_mktsegment", Seq("BUILDING", "MACHINERY"))
      .df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"one-hot must not shuffle:\n${plan.take(600)}")
    assert(plan.contains("*(1) Project"), // the whole-stage-codegen marker
      s"one-hot projection fell out of codegen:\n${plan.take(600)}")
  }

  test("mixCorpora pushes each source's hash filter to its own scan") {
    val d = PsIO.readParquet(spark, "/root/testdata/sf0.001/documents.parquet").df
    val mixed = graft.operators.Sampling.mixCorpora(Seq(
      ("a", d.filter(col("lang") === "en"), 0.5),
      ("b", d.filter(col("lang") =!= "en"), 1.0)), "doc_id")
    val plan = mixed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mixing must not shuffle:\n${plan.take(600)}")
  }

  test("stripCommonLines: anti-join against the hot set, never a per-doc cross") {
    val d = PsIO.readParquet(spark, "/root/testdata/sf0.001/documents.parquet").df
    val cleaned = graft.operators.Dedup.stripCommonLines(d, "doc_id", "text", maxDf = 10)
    val plan = cleaned.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"hot-set removal must be an anti-join:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"),
      s"no cross product anywhere in the boilerplate strip:\n${plan.take(600)}")
  }

  test("applyChanges plans one anti-join + union, no full outer join") {
    val s = spark
    import s.implicits._
    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    val changes = (50L to 120L).map(k => (k, s"V$k", k % 7 == 0)).toDF("k", "v", "del")
    val plan = graft.operators.Snapshot.applyChanges(base, changes, Seq("k"), "del")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(800))
    assert(plan.contains("Union"), plan.take(800))
    // an upsert must never plan the diff's full-outer shape — it only
    // needs to know WHICH keys changed, not both sides' payloads
    assert(!plan.contains("FullOuter"), s"full outer crept in: ${plan.take(800)}")
  }

  test("int8TopK shortlist reduces via the bounded partial top-k, no Window") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val d = (1L to 200L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val q = d.filter(col("vec_id") < 5)
    val plan = graft.operators.Similarity
      .int8TopK(d, q, "vec_id", "embedding", k = 3, shortlist = 10)
      .queryExecution.executedPlan.toString
    // both the shortlist and the re-rank ride TopKAgg partial
    // aggregation; a rank window would shuffle the full scored volume
    assert(!plan.contains("Window"), s"window crept in: ${plan.take(800)}")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      plan.take(800))
  }

  test("selectByBudget windows are partitioned by pid; offsets broadcast back") {
    val s = spark
    import s.implicits._
    val docs = (1L to 500L).map(i => (i, (i % 97).toInt, 10L)).toDF("id", "score", "toks")
    val plan = graft.operators.Sampling
      .selectByBudget(docs, "score", "id", "toks", budget = 1000L, partitions = 7)
      .queryExecution.executedPlan.toString
    // the corpus-sized running sum (the one ordered by the score) must
    // be keyed by __pid (parallel); the only unpartitioned window is
    // over the 7-row offsets relation (ordered by __pid itself)
    val corpusWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("score")).toSeq
    assert(corpusWindows.nonEmpty &&
      corpusWindows.forall(_.contains("windowspecdefinition(__pid")),
      s"corpus window not pid-partitioned: ${corpusWindows.mkString(" | ")}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"offsets should broadcast back: ${plan.take(800)}")
  }

  test("pipeline and binning queries prune their scans to the used columns") {
    val dir = "/root/testdata/sf0.001"
    def readSchemas(q: String): Seq[String] = {
      val p = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    }
    // a 2-column projection must not read the whole documents/orders row
    // (the edges-aggregate scan legitimately reads o_totalprice alone)
    assert(readSchemas("q_pipeline").forall(s =>
      s.contains("doc_id") && s.contains("text") && !s.contains("lang")))
    val qs = readSchemas("q_qcut")
    assert(qs.nonEmpty && qs.forall(!_.contains("o_custkey")), qs.mkString("\n"))
    assert(qs.exists(_.contains("o_orderkey")))
  }

  test("runtime bloom filter prunes the big side of a selective join") {
    // 100 TB posture: a selective dim filter should reach the fact scan
    // as a runtime bloom filter (row-group pruning before the shuffle),
    // not be discovered after shuffling the whole fact side
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // production default gates injection on a >=10GB application-side
    // scan; drop it so the sf0.001 fixture can demonstrate the shape
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // a broadcast-able creation side suppresses injection (the BHJ already
    // prunes); force the shuffle-join regime the 100 TB case lives in
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      // no broadcast -> the selective side can only reach the fact scan
      // via an injected runtime filter
      val j = li.hint("SHUFFLE_MERGE").join(o, li("l_orderkey") === o("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("BloomFilter"),
        s"expected a runtime bloom filter on the fact side:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("tfIdf vocab join is AQE-chosen, not hint-forced") {
    // the df side is the distinct-token relation — web-scale it is too big
    // to broadcast, so the join must NOT carry an unconditional hint. Two
    // sides of the same assertion: (a) under default conf the small sf
    // vocab still ends up broadcast (AQE/stats pick it); (b) with the
    // broadcast threshold disabled the join degrades to a shuffle join —
    // impossible if a hint were forcing it.
    val d = spark.read.parquet(bigDocuments)
    val ti = graft.functions.TextAnalysis.tfIdf(d, "doc_id", "text")
    assert(ti.count() > 0)
    val adaptive = ti.queryExecution.executedPlan.toString
    assert(adaptive.contains("BroadcastHashJoin"),
      s"small vocab should broadcast under default conf:\n${adaptive.take(800)}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forcedOff = graft.functions.TextAnalysis.tfIdf(d, "doc_id", "text")
      assert(forcedOff.count() > 0)
      val plan = forcedOff.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"vocab join still broadcasts with threshold=-1 — a forced hint is back:\n${plan.take(800)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("below MaxBytes, the tfIdf vocab join runs in one task: no shuffle, no broadcast hash join") {
    val small = graft.functions.TextAnalysis.tfIdf(documents, "doc_id", "text")
    val nodes = TestSpark.ranNodes(small)
    assert(shuffles(nodes).isEmpty && broadcastHashJoins(nodes).isEmpty, nodes.head.treeString)
    val big = graft.functions.TextAnalysis.tfIdf(spark.read.parquet(bigDocuments), "doc_id", "text")
    assert(small.collect().toSet == big.collect().toSet)
  }

  test("valueCounts(normalize) computes its total without a window funnel") {
    // the input to the total is the distinct-value relation; a
    // Window.partitionBy() there funnels every distinct value through one
    // partition. The shape must be: partial-agg -> 1-row broadcast ->
    // crossJoin (the SinglePartition exchange that remains carries one
    // pre-reduced row per input partition, which is the pattern's point)
    val c = PsIO.readParquet(spark, "/root/testdata/sf0.001/customer.parquet")
    val vc = c.valueCounts("c_mktsegment", normalize = true)
    val plan = vc.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"normalize total must not be a window:\n${plan.take(800)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast 1-row total:\n${plan.take(800)}")
  }

  test("crossJaccardPairs: postings-only candidates, semi-join prune on the train side") {
    // the decontamination scan must not pair the corpora with an inner or
    // nested-loop join: candidates come from exploding side-separated
    // posting lists. The only join allowed is the LeftSemi prune of the
    // training explode against the distinct eval shingles — the shape
    // that keeps the postings shuffle proportional to the MATCHING
    // shingles at scale, not the training corpus.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = graft.operators.Dedup.crossJaccardPairs(
      d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", k = 3, threshold = 0.6)
    assert(pairs.count() >= 0) // force AQE final plan
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains(", Inner"),
      s"cross-corpus pairs must come from postings, not a corpus join:\n${plan.take(800)}")
    assert(plan.contains("LeftSemi"),
      s"train explode should be semi-join pruned to eval shingles:\n${plan.take(800)}")
    assert(plan.contains("HashAggregate"), plan.take(300))
  }

  test("dedupAgainstCorpus anti-join: AQE broadcast when small, shuffle when not") {
    // the corpus side reduces to DISTINCT 8-byte fingerprints before the
    // anti-join; with a small corpus AQE must pick a broadcast, and with
    // the threshold disabled the same plan must degrade to a shuffled
    // join (proving no unconditional hint forces it)
    val d = spark.read.parquet(bigDocuments)
    def anti = graft.operators.Dedup.dedupAgainstCorpus(
      d.filter(col("doc_id") % 5 === 0), d.filter(col("doc_id") % 2 === 0), "text")
    assert(anti.count() > 0)
    val adaptive = anti.queryExecution.executedPlan.toString
    assert(adaptive.contains("BroadcastHashJoin") && adaptive.contains("LeftAnti"),
      s"small corpus fingerprints should broadcast:\n${adaptive.take(800)}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forcedOff = anti
      assert(forcedOff.count() > 0)
      val plan = forcedOff.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"anti-join must degrade without broadcast, not be hint-forced:\n${plan.take(800)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("below MaxBytes, the dedupAgainstCorpus anti-join runs in one task, unbroadcast") {
    def anti(d: DataFrame) = graft.operators.Dedup.dedupAgainstCorpus(
      d.filter(col("doc_id") % 5 === 0), d.filter(col("doc_id") % 2 === 0), "text")
    val nodes = TestSpark.ranNodes(anti(documents))
    assert(shuffles(nodes).isEmpty && broadcastHashJoins(nodes).isEmpty, nodes.head.treeString)
    assert(nodes.exists {
      case j: ShuffledHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, nodes.head.treeString)
    assert(anti(documents).collect().toSet ==
      anti(spark.read.parquet(bigDocuments)).drop("pad").collect().toSet)
  }

  test("AQE splits a skewed join partition (the runtime skew answer)") {
    // Salting (operators/Skew.scala) covers aggregations; for JOINS the
    // engine answer is AQE's OptimizeSkewedJoin: the hot key's oversized
    // shuffle partition is split into advisory-sized sub-reads at
    // runtime, each joined against a replicated copy of the other side.
    // This pins that the engine we configure actually does it: a 1000x
    // hot key under thresholds scaled to test data must yield a
    // SortMergeJoin marked skew=true in the final adaptive plan.
    val s = spark
    import s.implicits._
    val hot = (0 until 60000).map(i => (1L, s"payload-$i-${i * 2654435761L}")) ++
      (0 until 60).map(i => (2L + i, s"p$i"))
    val left = hot.toDF("k", "payload")
    val right = (1L to 64L).map(k => (k, s"v$k")).toDF("k", "tag")
    Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "4KB"
    ).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = left.join(right, "k")
      // collect() (NOT count(), which plans its own agg query) finalizes
      // THIS DataFrame's adaptive plan
      assert(joined.collect().length == 60060)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(200))
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n${plan.take(1000)}")
    } finally Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ).foreach(spark.conf.unset)
  }

  test("local-data frames stay broadcast-joinable against big tables") {
    val s = spark
    val small = PsDataFrame.fromLocal(s,
      Seq((1, "N"), (2, "R"))).rename(Map("_1" -> "code", "_2" -> "flag"))
    val li = lineitem.df
    val joined = li.join(small.df, li("l_linenumber") === small.df("code"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("clusterLabels plans one ConnectedComponentsExec whatever the diameter") {
    val s = spark
    import s.implicits._
    // joins above the node in dedupByCluster's plan: the rounds run
    // inside the node, so only the anti-join against the docs remains
    def joinsAbove(n: Long) = {
      val pairs = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val docs = (1L to n).map(i => (i, s"doc $i")).toDF("id", "text")
      val plan = Components.dedupByCluster(docs, pairs, "id").queryExecution.sparkPlan
      val ccs = plan.collect { case c: ConnectedComponentsExec => c }
      assert(ccs.size == 1, plan.treeString)
      plan.collect {
        case j: BaseJoinExec if j.exists(_.isInstanceOf[ConnectedComponentsExec]) => j
      }.size
    }
    assert(joinsAbove(3) == 1)
    assert(joinsAbove(30) == 1, "the plan grew with the graph's diameter")
  }

  // ---- SmallSortRule: small global sorts in one partition -----------

  private def rangeExchanges(nodes: Seq[SparkPlan]) = nodes.collect {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  private def coalesces(nodes: Seq[SparkPlan]) =
    nodes.collect { case c: CoalesceExec => c.numPartitions }

  test("a small grouped sort runs in one partition: no range exchange, no sampling") {
    val q = lineitem.df.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n")).orderBy("l_orderkey")
    val nodes = TestSpark.ranNodes(q)
    assert(coalesces(nodes) == Seq(1), nodes.head.treeString)
    assert(rangeExchanges(nodes).isEmpty, nodes.head.treeString)
    val keys = q.collect().map(_.getLong(0)).toSeq
    assert(keys.nonEmpty && keys == keys.sorted)
  }

  test("a grouped sort above SmallSortRule.MaxBytes keeps its RangePartitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bigsort").toString + "/t"
    // 60k distinct keys with 64-char payloads: the aggregate's shuffle
    // carries several MiB, above the rule's bound
    spark.range(60000).select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      .write.parquet(dir)
    val q = PsIO.parquet(spark, dir).groupBy("id").agg(max("h").as("h")).orderBy("id")
    val nodes = TestSpark.ranNodes(q)
    assert(rangeExchanges(nodes).nonEmpty, nodes.head.treeString)
    assert(coalesces(nodes).isEmpty, nodes.head.treeString)
  }

  private def sortedJoin(li: DataFrame, orders: DataFrame) =
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_totalprice")
      .orderBy("l_orderkey", "l_linenumber")

  private def sortedExplode(li: DataFrame) =
    li.select(col("l_orderkey"), col("l_linenumber"), explode(array(lit(1), lit(2))).as("x"))
      .orderBy("l_orderkey", "l_linenumber", "x")

  private def sortedAnti(li: DataFrame, orders: DataFrame) = {
    val third = orders.filter(col("o_orderkey") % 3 === 0)
    li.join(third, li("l_orderkey") === third("o_orderkey"), "left_anti")
      .select("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber")
  }

  private def smallOrders = PsIO.parquet(spark, "/root/testdata/sf0.001/orders.parquet")

  test("a sort over an inner join or an explode keeps its RangePartitioning") {
    val li = spark.read.parquet(bigLineitem)
    Seq(sortedJoin(li, smallOrders), sortedExplode(li)).foreach { q =>
      val nodes = TestSpark.ranNodes(q)
      assert(rangeExchanges(nodes).nonEmpty, nodes.head.treeString)
      assert(coalesces(nodes).isEmpty, nodes.head.treeString)
    }
  }

  test("a sort over a left anti join is sized by its left side") {
    // the right side is above MaxBytes, the sorted left side far below it
    val q = sortedAnti(lineitem.df, spark.read.parquet(bigOrders))
    val nodes = TestSpark.ranNodes(q)
    assert(coalesces(nodes) == Seq(1), nodes.head.treeString)
    assert(rangeExchanges(nodes).isEmpty, nodes.head.treeString)
  }

  test("below MaxBytes, a sort over a join, an explode or an anti join runs in one stage") {
    val li = lineitem.df
    val bigLi = spark.read.parquet(bigLineitem)
    Seq(
      sortedJoin(li, smallOrders) -> sortedJoin(bigLi, smallOrders),
      sortedExplode(li) -> sortedExplode(bigLi),
      sortedAnti(li, smallOrders) -> sortedAnti(bigLi, smallOrders)
    ).foreach { case (q, distributed) =>
      val nodes = TestSpark.ranNodes(q)
      assert(shuffles(nodes).isEmpty && broadcastHashJoins(nodes).isEmpty,
        nodes.head.treeString)
      assert(q.collect().toSeq == distributed.collect().toSeq)
    }
  }

  test("repartitionByRange(4, k) keeps its 4 partitions") {
    val q = lineitem.df.repartitionByRange(4, col("l_orderkey"))
      .select(spark_partition_id().as("p"))
    val nodes = TestSpark.ranNodes(q)
    assert(rangeExchanges(nodes).map(_.outputPartitioning.numPartitions) == Seq(4),
      nodes.head.treeString)
    assert(q.distinct().collect().length == 4)
  }

  // ---- SmallQueryRule: sub-MiB file-scan queries in one stage -------

  private def flagSums(df: DataFrame) =
    df.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))

  test("SmallQueryRule: a small plan that reads the partition layout keeps its exchanges") {
    val li = lineitem.df
    Seq(
      flagSums(li).withColumn("p", spark_partition_id()),
      flagSums(li.filter(rand(1) < 0.5)),
      flagSums(li).withColumn("m", monotonically_increasing_id())
    ).foreach { q =>
      val nodes = TestSpark.ranNodes(q)
      assert(shuffles(nodes).nonEmpty && coalesces(nodes).isEmpty, nodes.head.treeString)
    }
    val nodes = TestSpark.ranNodes(flagSums(li))
    assert(shuffles(nodes).isEmpty && coalesces(nodes) == Seq(1), nodes.head.treeString)
  }

  test("SmallQueryRule: repartition(n) and repartitionByRange(n, k) keep n partitions") {
    val li = lineitem.df
    Seq(li.repartition(4), li.repartitionByRange(4, col("l_orderkey"))).foreach { q =>
      val sizes = q.rdd.mapPartitions(rows => Iterator(rows.size)).collect()
      assert(sizes.length == 4 && sizes.forall(_ > 0), sizes.mkString(", "))
      // an aggregation above it loses its own exchange, never the user's
      val nodes = TestSpark.ranNodes(flagSums(q))
      assert(shuffles(nodes).map(e => (e.shuffleOrigin, e.outputPartitioning.numPartitions))
        == Seq((REPARTITION_BY_NUM, 4)), nodes.head.treeString)
    }
  }

  test("SmallQueryRule: a NOT IN (null-aware anti) join keeps its broadcast") {
    lineitem.df.createOrReplaceTempView("li_small")
    smallOrders.createOrReplaceTempView("orders_small")
    val q = spark.sql("SELECT l_orderkey, l_linenumber FROM li_small WHERE l_orderkey " +
      "NOT IN (SELECT o_orderkey FROM orders_small WHERE o_orderkey % 3 = 0)")
    val nodes = TestSpark.ranNodes(q)
    assert(broadcastHashJoins(nodes).map(_.isNullAwareAntiJoin) == Seq(true),
      nodes.head.treeString)
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]), nodes.head.treeString)
    assert(q.count() == sortedAnti(lineitem.df, smallOrders).count())
  }

  test("SmallQueryRule: a plan with a leaf that is not a file scan is unchanged") {
    val s = spark
    import s.implicits._
    val flags = Seq(("N", 1), ("R", 2), ("A", 3)).toDF("flag", "code")
    val local = lineitem.df.join(flags, col("l_returnflag") === col("flag"))
      .groupBy("code").count()
    val range = spark.range(1000).groupBy(col("id") % 3).count()
    Seq(local, range).foreach { q =>
      val nodes = TestSpark.ranNodes(q)
      assert(shuffles(nodes).nonEmpty && coalesces(nodes).isEmpty, nodes.head.treeString)
      assert(!nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]), nodes.head.treeString)
    }
    assert(broadcastHashJoins(TestSpark.ranNodes(local)).size == 1)
  }

  test("SmallQueryRule: an input just over MaxBytes is unchanged, just under runs in one stage") {
    val bound = SmallSortRule.MaxBytes
    def bytes(dir: String) =
      SmallSortRule.scanBytes(spark.read.parquet(dir).queryExecution.analyzed).get
    val over = TestSpark.paddedCopy(lineitem.df, bound + (16L << 10))
    val under = TestSpark.paddedCopy(lineitem.df, bound - (16L << 10))
    assert(bytes(over) > bound && bytes(over) < bound + (64L << 10), bytes(over))
    assert(bytes(under) < bound && bytes(under) > bound - (64L << 10), bytes(under))
    val overNodes = TestSpark.ranNodes(flagSums(spark.read.parquet(over)))
    assert(shuffles(overNodes).nonEmpty && coalesces(overNodes).isEmpty,
      overNodes.head.treeString)
    val underNodes = TestSpark.ranNodes(flagSums(spark.read.parquet(under)))
    assert(shuffles(underNodes).isEmpty && coalesces(underNodes) == Seq(1),
      underNodes.head.treeString)
    assert(flagSums(spark.read.parquet(over)).collect().toSet ==
      flagSums(spark.read.parquet(under)).collect().toSet)
  }
}
