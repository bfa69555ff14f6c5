package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checks
import graft.operators.Checks._

class ChecksSpec extends AnyFunSuite with SparkFixture {

  private def results(df: org.apache.spark.sql.DataFrame, rules: Seq[Rule]) =
    Checks.run(df, rules).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap

  test("every rule family counts exactly on a planted frame") {
    val s = spark
    import s.implicits._
    val t = Seq(
      (1L, Some(10.0), "1-HIGH", "F"),
      (2L, Some(250.0), "2-LOW", "O"),
      (2L, None, "9-BAD", "P"),   // dup key, null value, bad prio, bad status
      (3L, Some(-5.0), "3-MED", "F"),
      (3L, Some(999.0), "4-OK", "O")) // dup key, above range
      .toDF("id", "amount", "prio", "status")
    val dim = Seq(1L, 2L).toDF("dim_id") // 3 is an orphan
    val got = results(t, Seq(
      NotNull("amount"),
      InRange("amount", 0.0, 500.0),
      Matches("prio", "^[1-5]-"),
      OneOf("status", Seq("F", "O")),
      Unique(Seq("id")),
      RefIn("id", dim, "dim_id")))
    assert(got(("not_null", "amount")) == ((1L, 5L, false)))
    assert(got(("in_range", "amount")) == ((2L, 5L, false))) // -5 and 999
    assert(got(("matches", "prio")) == ((1L, 5L, false)))    // 9-BAD
    assert(got(("one_of", "status")) == ((1L, 5L, false)))   // P
    assert(got(("unique", "id")) == ((2L, 5L, false)))       // 2x2 + 3x2 -> 2 surplus
    assert(got(("ref_in", "id")) == ((2L, 5L, false)))       // both id=3 rows orphan
  }

  test("clean data passes every rule; composite unique keys; run is lazy") {
    val s = spark
    import s.implicits._
    val t = Seq((1L, 1, "a"), (1L, 2, "b"), (2L, 1, "c")).toDF("k1", "k2", "v")
    val out = Checks.run(t, Seq(
      NotNull("v"), Unique(Seq("k1", "k2")), OneOf("v", Seq("a", "b", "c"))))
    // declaring the gate runs no job (compose it, inspect, then action)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val out2 = Checks.run(t, Seq(NotNull("v")))
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length == before)
    assert(out2.schema.fieldNames.toSeq ==
      Seq("rule", "column", "violations", "total", "pass"))
    val got = results(t, Seq(
      NotNull("v"), Unique(Seq("k1", "k2")), OneOf("v", Seq("a", "b", "c"))))
    assert(got.values.forall { case (v, tot, pass) => v == 0L && tot == 3L && pass })
    assert(got.contains(("unique", "k1,k2")))
    assert(out.filter(!col("pass")).isEmpty)
  }

  test("flag: per-row routing flags agree with run's counts; keyed rules rejected") {
    val s = spark
    import s.implicits._
    val t = Seq(
      (1L, 10.0, "F"), (2L, 999.0, "O"), (3L, 50.0, "X"), (4L, -1.0, "X"))
      .toDF("id", "amount", "status")
    val rules: Seq[Rule] = Seq(
      InRange("amount", 0.0, 500.0), OneOf("status", Seq("F", "O")))
    val flagged = Checks.flag(t, rules)
    assert(flagged.columns.toSeq == Seq("id", "amount", "status",
      "in_range_amount_bad", "one_of_status_bad", "row_bad"))
    val bad = flagged.filter(col("row_bad")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(bad == Set(2L, 3L, 4L))
    // per-rule flag totals equal run()'s violation counts
    val flagCounts = flagged.agg(
        sum(col("in_range_amount_bad").cast("long")),
        sum(col("one_of_status_bad").cast("long")))
      .head()
    val counts = results(t, rules)
    assert(flagCounts.getLong(0) == counts(("in_range", "amount"))._1)
    assert(flagCounts.getLong(1) == counts(("one_of", "status"))._1)
    // corpus-level rules have no row flag
    intercept[IllegalArgumentException](Checks.flag(t, Seq(Unique(Seq("id")))))
  }

  test("robustness: quoted names, long-exact bounds, flag collisions") {
    val s = spark
    import s.implicits._
    // a column legally named with a quote neither breaks the stack
    // parse nor injects expression text
    val q = Seq((1, "x"), (2, null)).toDF("id", "it's")
    val got = results(q, Seq(NotNull("it's")))
    assert(got(("not_null", "it's")) == ((1L, 2L, false)))
    // InRange bounds keep the column's type: 2^53 + 1 on a LONG column
    // is misclassified under double promotion, exact under long bounds
    val big = 9007199254740993L // 2^53 + 1
    val longs = Seq(1L, big).toDF("v")
    val exact = results(longs, Seq(InRange("v", 0L, big - 1L)))
    assert(exact(("in_range", "v"))._1 == 1L,
      "2^53+1 must violate an exact long bound of 2^53")
    // same-family duplicate rules get suffixed, unambiguous flag names
    val emails = Seq("a@b.com", "nope").toDF("email")
    val ff = Checks.flag(emails, Seq(
      Matches("email", "@"), Matches("email", "\\.com$")))
    assert(ff.columns.toSeq == Seq("email", "matches_email_bad",
      "matches_email_bad_2", "row_bad"))
    assert(ff.filter(col("row_bad")).count() == 1)
    // pre-existing output names fail loudly instead of shadowing data
    val clash = Seq((1, false)).toDF("v", "row_bad")
    intercept[IllegalArgumentException](
      Checks.flag(clash, Seq(NotNull("v"))))
    // a fact-side __graft_ref_hit-style marker collision cannot happen:
    // the marker is referenced by attribute identity through the dim
    val fact = Seq((1L, 1), (3L, 1)).toDF("k", "__graft_ref_hit")
    val dim = Seq(1L).toDF("d")
    assert(results(fact, Seq(RefIn("k", dim, "d")))(("ref_in", "k"))._1 == 1L)
  }

  test("plan shape: N row-local rules share ONE scan; RefIn broadcasts a small dim") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    // four row-local rules must compile to one aggregate over one scan —
    // adding a rule adds a projection term, never a pass over the data
    val rowLocal = Checks.run(orders, Seq(
      NotNull("o_custkey"),
      InRange("o_totalprice", 0.0, 300000.0),
      Matches("o_orderpriority", "^[1-5]-"),
      OneOf("o_orderstatus", Seq("F", "O"))))
    val scans = graft.plans.PlanLint.physicalPlan(rowLocal).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"4 row-local rules planned ${scans.size} scans, want 1")
    // referential integrity against a small dimension is a broadcast
    // join, never a shuffle of the fact side (orders padded above
    // SmallQueryRule's bound, so the distributed plan is the one asked)
    val bigOrders = spark.read.parquet(TestSpark.paddedCopy(orders, 2L << 20))
    val ref = Checks.run(bigOrders, Seq(RefIn("o_custkey", cust, "c_custkey")))
    val bhj = graft.plans.PlanLint.physicalPlan(ref).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "RefIn against a small dim must broadcast")
  }

  test("below MaxBytes, RefIn runs in one stage: no shuffle, no broadcast") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val ref = Checks.run(orders, Seq(RefIn("o_custkey", cust, "c_custkey")))
    val plan = graft.plans.PlanLint.physicalPlan(ref)
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, plan.treeString)
    val bigOrders = spark.read.parquet(TestSpark.paddedCopy(orders, 2L << 20))
    assert(ref.collect().toSet ==
      Checks.run(bigOrders, Seq(RefIn("o_custkey", cust, "c_custkey"))).collect().toSet)
  }

  test("RefInParquet: on-disk dimension counts like RefIn; flag still rejects it") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-refdim").toString + "/dim"
    Seq(1L, 2L).toDF("dim_id").write.parquet(dir)
    val t = Seq((1L, "a"), (3L, "b"), (3L, "c")).toDF("id", "v")
    val got = results(t, Seq(RefInParquet("id", dir, "dim_id")))
    assert(got(("ref_in", "id")) == ((2L, 3L, false)), "both id=3 rows orphan")
    // the path face is a pure value: equal rules compare equal (a gate
    // definition can be diffed between pipeline versions)
    assert(RefInParquet("id", dir, "dim_id") == RefInParquet("id", dir, "dim_id"))
    // row-local flag() rejects it like any keyed/join rule
    intercept[IllegalArgumentException] {
      Checks.flag(t, Seq(RefInParquet("id", dir, "dim_id")))
    }
  }

  test("null keys group together in Unique; null refs are not RefIn violations") {
    val s = spark
    import s.implicits._
    val t = Seq(Option(1L), None, None).toDF("k")
    val got = results(t, Seq(Unique(Seq("k"))))
    assert(got(("unique", "k"))._1 == 1L, "two null keys are one duplicated group")
    val dim = Seq(1L).toDF("d")
    val got2 = results(t, Seq(RefIn("k", dim, "d")))
    assert(got2(("ref_in", "k"))._1 == 0L, "nulls are NotNull's job, not RefIn's")
  }
}
