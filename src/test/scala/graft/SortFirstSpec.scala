package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Components, Dedup, SortFirst}

/** Round-19 optimization pins.
  *
  * 1. [[SortFirst]] rewrites `project(heavy).orderBy(keys)` into
  *    sort-then-project (and explode into expand-local-sort). The whole
  *    point is that the rewrite is ROW-FOR-ROW identical including
  *    order — these tests compare collected sequences, not sets.
  * 2. [[graft.plans.MinHashSignature]] plan identity: the expression
  *    carries hash coefficients, and if those ever regress to a
  *    reference-equality type (Array), two builds of the same LSH plan
  *    stop canonicalizing equal — which silently defeats
  *    [[graft.operators.PersistedPlans]] and every CacheManager/
  *    exchange-reuse match through the expression (each execution then
  *    re-runs the whole LSH pipeline; the round-19 profile caught
  *    exactly that).
  */
class SortFirstSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "a b c d e f g h i j k l m n o p"),
    (3L, "the quick brown fox jumps over the lazy dog again and again"),
    (4L, "short text"),
    (5L, "punctuation!!! ??? ,,, ;;; everywhere !!! ??? ,,,")
  ).toDF("doc_id", "text")

  test("project: sort-then-project equals project-then-orderBy, order included") {
    val heavy = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_tok"),
      md5(col("text")).as("h"))
    val natural = heavy(docs).orderBy("doc_id").collect().toSeq
    val rewritten =
      SortFirst.project(docs, Seq(col("doc_id")))(heavy).collect().toSeq
    assert(rewritten == natural)
  }

  test("expandLocalSort: explode under a prefix-extending order is exact") {
    val expand = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val natural = expand(docs).orderBy("doc_id", "tok").collect().toSeq
    val rewritten = SortFirst.expandLocalSort(docs,
      Seq(col("doc_id")), Seq(col("doc_id"), col("tok")))(expand)
      .collect().toSeq
    assert(rewritten == natural)
  }

  test("a scan below SmallSortRule.MaxBytes sorts in one partition, above it by range") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def rangeParts(nodes: Seq[SparkPlan]) = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        e.outputPartitioning.numPartitions
    }
    val heavy = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), md5(col("text")).as("h"))
    val expand = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sortfirst").toString
    docs.write.parquet(dir + "/small")
    // 60k rows of 64-char hashes: several MiB of parquet, above the bound
    spark.range(60000).select(col("id").as("doc_id"),
        concat_ws(" ", sha2(col("id").cast("string"), 256), lit("x")).as("text"))
      .write.parquet(dir + "/big")
    val p = spark.sessionState.conf.numShufflePartitions
    for ((name, parts) <- Seq("small" -> Seq.empty[Int], "big" -> Seq(p))) {
      val in = graft.sources.PsIO.parquet(spark, s"$dir/$name")
      val projected = SortFirst.project(in, Seq(col("doc_id")))(heavy)
      val expanded = SortFirst.expandLocalSort(in,
        Seq(col("doc_id")), Seq(col("doc_id"), col("tok")))(expand)
      assert(projected.collect().toSeq == heavy(in).orderBy("doc_id").collect().toSeq)
      assert(expanded.collect().toSeq ==
        expand(in).orderBy("doc_id", "tok").collect().toSeq)
      for (q <- Seq(projected, expanded)) {
        val nodes = TestSpark.ranNodes(q)
        assert(rangeParts(nodes) == parts, nodes.head.treeString)
        assert(nodes.collect { case c: CoalesceExec => c.numPartitions } ==
          (if (parts.isEmpty) Seq(1) else Nil), nodes.head.treeString)
      }
    }
  }

  test("widenScanSide: a streaming frame comes back unchanged, no job starts") {
    val in = spark.readStream.format("rate").load().filter(col("value") > 0)
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = TestSpark.jobsStartedBy { out = SortFirst.widenScanSide(in) }
    assert(out eq in, "a streaming frame must pass through unchanged")
    assert(jobs == 0, s"$jobs jobs started at compose time")
  }

  test("widen: multiset unchanged, no-op when already wide enough") {
    val widened = SortFirst.widen(docs)
    assert(widened.collect().toSet == docs.collect().toSet)
    val p = spark.sessionState.conf.numShufflePartitions
    val wide = docs.repartition(p + 3)
    // already wider than the session knob -> left alone (same plan object)
    assert(SortFirst.widen(wide) eq wide)
  }

  test("MinHash plans canonicalize equal across independent builds") {
    def pairsPlan() = Dedup.minhashLsh(docs, "doc_id", "text")
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .queryExecution.analyzed.canonicalized
    assert(pairsPlan() == pairsPlan(),
      "two builds of the same MinHash-LSH plan must canonicalize equal — " +
        "a mismatch means an expression param regressed to reference " +
        "equality (e.g. Array coefficients) and plan-keyed memoization " +
        "(PersistedPlans, CacheManager) is silently defeated")
  }

  test("clusterLabels matches brute-force components on a multi-shape graph") {
    // chain 1-2-3 (diameter 2), clique {10,11,12}, singleton via self-pair 20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 20L)).toDF("a_id", "b_id")
    val got = Components.clusterLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    assert(got == expected)
  }
}
