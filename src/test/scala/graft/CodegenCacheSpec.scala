package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PersistedPlans

/** Warm actions run on cached generated classes: [[Session.local]] sizes
  * Spark's JVM-wide codegen class cache to hold the working set of the
  * dedup, clustering, text-quality and pipeline queries. At Spark's
  * default of 100 entries the same rotation recompiled dozens of classes
  * per action. */
class CodegenCacheSpec extends AnyFunSuite with SparkFixture {
  private val sf = "/root/testdata/sf0.001"
  private val llmPipeline = Seq(
    "q_decontaminate", "q_quality", "q_cluster_dedup", "q_textstats",
    "q_pipeline_web")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm rotation of the llm_pipeline queries compiles 0 classes") {
    def rotation(): Seq[(String, Long)] = llmPipeline.map { name =>
      val before = compiles()
      BenchForce.force(SparkEntry.queries(name)(spark, sf))
      name -> (compiles() - before)
    }
    try {
      // Two warm-up rotations, as the benchmark makes two warm-up
      // passes. The first compiles every class the rotation needs; the
      // second already compiles 0 and is kept as margin.
      rotation()
      rotation()
      val warm = rotation()
      assert(warm.forall(_._2 == 0), s"warm actions recompiled: $warm")
    } finally PersistedPlans.clear()
  }
}
