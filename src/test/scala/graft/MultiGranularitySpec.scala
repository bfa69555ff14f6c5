package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PsIO

/** cube / rollup / groupingSets: the multi-granularity report surface.
  * Semantics are pinned against explicit per-stratum groupbys (what the
  * one-pass plan must be equivalent to), and the plan shape is pinned to
  * ONE Expand feeding ONE partial/final aggregate — the property that
  * makes the report a single shuffle at 100 TB instead of 2^k jobs. */
class MultiGranularitySpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private def docs = PsIO.readParquet(spark, s"$sf/documents.parquet")

  private def rows(q: String): Set[(Option[String], Option[String], Long, Long)] =
    SparkEntry.queries(q)(spark, sf).collect().toSet.map {
      (r: org.apache.spark.sql.Row) =>
        (Option(r.getAs[String]("lang")), Option(r.getAs[String]("source")),
          r.getAs[Long]("gid"), r.getAs[Long]("n"))
    }

  test("cube == union of the four explicit groupby strata") {
    val cube = rows("q_cube")
    val d = docs
    val byBoth = d.df.groupBy("lang", "source").count().collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), 0L, r.getLong(2))).toSet
    val byLang = d.df.groupBy("lang").count().collect()
      .map(r => (Option(r.getString(0)), None: Option[String], 1L, r.getLong(1))).toSet
    val bySource = d.df.groupBy("source").count().collect()
      .map(r => (None: Option[String], Option(r.getString(0)), 2L, r.getLong(1))).toSet
    val total = Set((None: Option[String], None: Option[String], 3L, d.df.count()))
    assert(cube == byBoth ++ byLang ++ bySource ++ total)
  }

  test("rollup keeps only the hierarchy's strata (no source-only rows)") {
    val gids = SparkEntry.queries("q_rollup")(spark, sf)
      .select("gid").distinct().collect().map(_.getLong(0)).toSet
    assert(gids == Set(0L, 1L, 3L)) // (s,p), (s), (); never priority-only
  }

  test("groupingSets picks exactly the requested strata") {
    val gs = rows("q_grouping_sets")
    assert(gs.map(_._3) == Set(1L, 2L, 3L)) // per-lang, per-source, total
    val full = rows("q_cube").filter(r => Set(1L, 2L, 3L).contains(r._3))
      .map(r => (r._1, r._2, r._3, r._4))
    assert(gs == full) // same rows cube produces for those strata
  }

  private def cubePlan(d: graft.api.PsDataFrame): String = d.cube("lang", "source")
    .aggWithGroupingId("gid", ("n_chars", "count") -> "n")
    .df.queryExecution.executedPlan.toString

  test("cube plans as one Expand + one shuffle, not a job per stratum") {
    // documents padded above SmallQueryRule's bound: the distributed plan
    val plan = cubePlan(PsIO.readParquet(spark, TestSpark.paddedCopy(docs.df, 2L << 20)))
    assert("(?m)^.*Expand".r.findAllIn(plan).size == 1, plan)
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("below MaxBytes, cube plans one Expand and no shuffle") {
    val plan = cubePlan(docs)
    assert("(?m)^.*Expand".r.findAllIn(plan).size == 1, plan)
    assert("Exchange".r.findAllIn(plan).isEmpty, plan)
  }

  test("aggWithGroupingId on a plain groupby is rejected") {
    intercept[IllegalArgumentException] {
      docs.groupby("lang").aggWithGroupingId("gid", ("n_chars", "count") -> "n")
    }
  }
}
