package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per action of the five `llm_pipeline` queries, pinned
  * (local[4], 4 shuffle partitions, after one warm action). At these
  * sizes an action's cost is its jobs, not its rows, so a change in these
  * counts is a change in what every action pays. Composing starts none:
  * parquet schemas are read from footers on the driver.
  *
  * On sf0.001, whose `documents` is under `SmallSortRule.MaxBytes`,
  * `SmallQueryRule` plans every query with no exchange and no broadcast,
  * and `ConnectedComponentsExec` labels its one-partition child in that
  * task: one job per action. Over the same rows padded above the bound,
  * every query takes the distributed path: one job per shuffle stage AQE
  * submits, plus the result stage and the rounds of
  * `ConnectedComponentsExec`. */
class ActionJobsSpec extends AnyFunSuite with SparkFixture {

  private val names =
    Seq("q_textstats", "q_quality", "q_pipeline_web", "q_decontaminate", "q_cluster_dedup")

  private def jobs(dir: String): Seq[(String, (Int, Int))] = names.map { name =>
    val query = SparkEntry.queries(name)
    BenchForce.force(query(spark, dir))
    var df: DataFrame = null
    val compose = TestSpark.jobsStartedBy { df = query(spark, dir) }
    val action = TestSpark.jobsStartedBy(BenchForce.force(df))
    name -> (compose, action)
  }

  test("llm_pipeline queries: no job at compose, pinned jobs per action") {
    assert(jobs("/root/testdata/sf0.001") == names.map(_ -> (0, 1)))
  }

  test("llm_pipeline queries over documents above MaxBytes: pinned jobs per action") {
    val docs = TestSpark.paddedCopy(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 2L << 20,
      "documents.parquet")
    val got = jobs(new java.io.File(docs).getParent)
    assert(got == Seq(
      "q_textstats" -> (0, 3),
      "q_quality" -> (0, 3),
      "q_pipeline_web" -> (0, 2),
      "q_decontaminate" -> (0, 7),
      "q_cluster_dedup" -> (0, 9)))
  }
}
