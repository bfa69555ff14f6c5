package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanLint

/** PlanLint must flag the classic scale-killers and stay quiet on the
  * shapes the engine's own operators promise (which PlanShapeSpec pins
  * from the other side). */
class PlanLintSpec extends AnyFunSuite with SparkFixture {

  private def orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  private def nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")

  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlanLint.lint(df).map(_.rule).toSet

  test("flags cartesian/nested-loop joins") {
    val r = rules(orders.crossJoin(nation))
    assert(r.contains("cartesian-product") || r.contains("nested-loop-join"), r)
  }

  test("PsDataFrame facade: lintPlan surfaces findings, explainLint prints them") {
    val ps = graft.api.PsDataFrame(orders.crossJoin(nation))
    val found = ps.lintPlan().map(_.rule).toSet
    assert(found.contains("cartesian-product") || found.contains("nested-loop-join"), found)
    // explainLint writes the formatted plan + the report to stdout
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) { ps.explainLint() }
    val printed = buf.toString
    assert(printed.contains("Physical Plan"), "formatted plan missing")
    assert(printed.contains("cartesian-product") || printed.contains("nested-loop-join"),
      "lint findings missing from explainLint output")
    // a clean plan prints the all-clear line instead
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      graft.api.PsDataFrame(nation.select("n_nationkey")).explainLint()
    }
    assert(buf2.toString.contains("PlanLint: no findings"), buf2.toString)
  }

  test("flags a single-partition window") {
    val w = Window.orderBy("o_orderkey")
    val df = orders.withColumn("rk", row_number().over(w))
    assert(rules(df).contains("single-partition-window"))
    // a partitioned window is fine
    val wp = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    val ok = orders.withColumn("rk", row_number().over(wp))
    assert(!rules(ok).contains("single-partition-window"))
  }

  test("global sort is flagged unless it feeds a top-k") {
    assert(rules(orders.orderBy("o_totalprice")).contains("global-sort"))
    val topk = orders.orderBy(col("o_totalprice").desc).limit(10)
    assert(!rules(topk).contains("global-sort"))
  }

  test("flags a filter whose predicate defeated scan pushdown") {
    // computed-expression predicate: nothing pushes to the row groups
    val bad = orders.filter(length(col("o_orderpriority")) * 2 > 10)
    assert(rules(bad).contains("unpushed-filter"), PlanLint.report(bad))
    // raw-column comparison pushes; must NOT be flagged
    val good = orders.filter(col("o_totalprice") > 100000)
    assert(!rules(good).contains("unpushed-filter"), PlanLint.report(good))
  }

  test("flags a broadcast side carrying array payloads; narrow broadcasts pass") {
    val s = spark
    import s.implicits._
    val dim = Seq((1L, Seq("a", "b", "c")), (2L, Seq("d"))).toDF("k", "shingles")
    val wide = orders.join(broadcast(dim), col("o_orderkey") === col("k"))
    assert(rules(wide).contains("broadcast-wide-payload"), PlanLint.report(wide))
    val narrow = orders.join(broadcast(dim.select("k")), col("o_orderkey") === col("k"))
    assert(!rules(narrow).contains("broadcast-wide-payload"), PlanLint.report(narrow))
  }

  private def cleanAggregation(o: org.apache.spark.sql.DataFrame) =
    o.filter(col("o_totalprice") > 1000).groupBy("o_orderpriority").agg(sum("o_totalprice"))

  test("clean aggregation draws only informational findings") {
    // orders padded above SmallQueryRule's bound: the aggregation shuffles
    val df = cleanAggregation(spark.read.parquet(TestSpark.paddedCopy(orders, 2L << 20)))
    val warns = PlanLint.lint(df).filter(_.severity == "warn")
    assert(warns.isEmpty, warns.mkString("; "))
    assert(rules(df).contains("shuffle-count")) // the agg's exchange, reported
  }

  test("clean aggregation below MaxBytes draws no warning and no shuffle") {
    val df = cleanAggregation(orders)
    val warns = PlanLint.lint(df).filter(_.severity == "warn")
    assert(warns.isEmpty, warns.mkString("; "))
    assert(!rules(df).contains("shuffle-count"), PlanLint.report(df))
  }
}
