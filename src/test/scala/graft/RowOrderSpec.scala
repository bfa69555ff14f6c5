package graft

import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.scalatest.funsuite.AnyFunSuite

/** Row order is a result too. `tools/check.py`, perfbench's oracle and
  * DiffConfig's canonical hash all sort rows before they compare them,
  * so a plan rewrite that broke a query's ORDER BY (a global sort run
  * in the wrong partitions, a local sort that does not tile the total
  * order) would pass all three. This spec runs every registry query that
  * ends in a global sort and checks that its collected rows come back in
  * that sort's order: with the engine's rules (SmallSortRule sorts small
  * relations in one partition) and with AQE off (every sort a sampled
  * range shuffle). */
class RowOrderSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  /** The leading keys of the global sort `plan` ends in (through
    * order-keeping projections) that its output still carries. */
  private def outputOrder(plan: LogicalPlan): Seq[SortOrder] = {
    def top(p: LogicalPlan): Option[Sort] = p match {
      case s: Sort if s.global => Some(s)
      case Project(_, c) => top(c)
      case _ => None
    }
    top(plan).toSeq.flatMap(_.order.takeWhile(_.references.subsetOf(plan.outputSet)))
  }

  /** Name -> index of the first row out of order (-1 if none), for every
    * query whose output carries its global sort's leading key. */
  private def checkAll(): Map[String, Int] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, f) =>
      val df = f(spark, dir)
      val plan = df.queryExecution.optimizedPlan
      val order = outputOrder(plan)
      if (order.isEmpty) None
      else {
        val ordering = new InterpretedOrdering(
          order.map(BindReferences.bindReference(_, plan.output)))
        val rows = df.queryExecution.executedPlan.executeCollect()
        Some(name -> rows.indices.drop(1)
          .find(i => ordering.compare(rows(i - 1), rows(i)) > 0).getOrElse(-1))
      }
    }.toMap

  private def assertOrdered(mode: String, got: Map[String, Int]): Unit = {
    val llm = Seq("q_textstats", "q_quality", "q_pipeline_web",
      "q_decontaminate", "q_cluster_dedup")
    assert(llm.forall(got.contains), s"$mode: unchecked ${llm.filterNot(got.contains)}")
    assert(got.size >= 100, s"$mode: only ${got.size} queries checked")
    info(s"$mode: ${got.size} queries checked")
    val bad = got.filter(_._2 >= 0)
    assert(bad.isEmpty, s"$mode: rows out of ORDER BY order (query -> first bad row): $bad")
  }

  test("every registry query ending in a global sort returns its rows in order") {
    assertOrdered("engine rules", checkAll())
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try assertOrdered("AQE off", checkAll())
    finally spark.conf.set(key, before)
  }
}
