package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per action of the five `llm_pipeline` queries, pinned on
  * sf0.001 (local[4], 4 shuffle partitions, after one warm action). At
  * these sizes an action's cost is its jobs, not its rows, so a change
  * in these counts is a change in what every action pays. Composing
  * starts none: parquet schemas are read from footers on the driver.
  * Executing starts one job per shuffle stage AQE submits, plus the
  * result stage and the rounds of `ConnectedComponentsExec`; no global
  * sort samples a range partitioner, because each sorts a relation
  * below `SmallSortRule.MaxBytes` in one partition. */
class ActionJobsSpec extends AnyFunSuite with SparkFixture {

  private val pinned = Seq(
    "q_textstats" -> 1,
    "q_quality" -> 1,
    "q_pipeline_web" -> 2,
    "q_decontaminate" -> 7,
    "q_cluster_dedup" -> 10)

  test("llm_pipeline queries: no job at compose, pinned jobs per action") {
    val dir = "/root/testdata/sf0.001"
    val got = pinned.map { case (name, _) =>
      val query = SparkEntry.queries(name)
      BenchForce.force(query(spark, dir))
      var df: DataFrame = null
      val compose = TestSpark.jobsStartedBy { df = query(spark, dir) }
      val action = TestSpark.jobsStartedBy(BenchForce.force(df))
      name -> (compose, action)
    }
    assert(got == pinned.map { case (name, jobs) => name -> (0, jobs) })
  }
}
