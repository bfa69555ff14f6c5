package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, round}
import graft.api._
import graft.sources.PsIO

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in [[queries]] exercises one operator family from
  * SURVEY.md §2 *through the graft library* (PsDataFrame/PsColumn/
  * PsGroupedFrame); [[oracleSql]] carries the equivalent DuckDB SQL for the
  * driver's differential check at sf0.01.
  *
  * Float-stability conventions (so hash comparison is exact):
  *  - sums over 2-decimal money columns go through DECIMAL(18,2) on both
  *    sides (exact, order-independent) and cast back to double;
  *  - order-dependent double reductions (product) are round()ed;
  *  - every query carries a total ORDER BY for deterministic row order.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): PsDataFrame =
    PsIO.readParquet(s, s"$dir/$name.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's canonical end-to-end pipeline (join → grouped sum →
    * multi-col sort desc → head(3), tests/test_data_frame.py:540-567)
    * recast on the star schema. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val j = li.merge(o, leftOn = Seq("l_orderkey"), rightOn = Seq("o_orderkey"))
    j.set("revenue", j("l_extendedprice") * (1 - j("l_discount")))
    j.select("o_orderpriority", "l_returnflag", "revenue")
      .groupby("o_orderpriority", "l_returnflag")
      .sum()
      .sortValues(Seq("revenue"), Seq(false))
      .head(3)
      .df
  }

  /** One entry per implemented operator from SURVEY.md §2 (reference
    * parity surface here; LLM-pipeline extension surface in
    * [[ExtQueries]], merged below). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ ExtQueries.queries ++ RefBench.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.6 grouped aggregation (sum/mean/count, names via agg specs)
    "q_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.set("price_d", li("l_extendedprice").cast("decimal(18,2)"))
      val g = li.groupby("l_returnflag", "l_linestatus").agg(
        ("l_quantity", "sum") -> "sum_qty",
        ("price_d", "sum") -> "sum_price_d",
        ("l_quantity", "mean") -> "avg_qty",
        ("l_quantity", "count") -> "n")
      g.set("sum_price", g("sum_price_d").cast("double"))
      g.select("l_returnflag", "l_linestatus", "sum_qty", "sum_price", "avg_qty", "n")
        .sortValues(Seq("l_returnflag", "l_linestatus")).df
    }),

    // §2.2 Selection: comparison + boolean combinators
    "q_filter" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(li("l_quantity") > 30 && li("l_discount") <= 0.05 && li("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .sortValues(Seq("l_orderkey", "l_linenumber")).df
    }),

    // §2.5 drop_duplicates (full-row DISTINCT)
    "q_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select("l_returnflag", "l_linestatus").dropDuplicates()
        .sortValues(Seq("l_returnflag", "l_linestatus")).df
    }),

    // §2.2 IsIn / Contains / StartsWith / EndsWith predicates
    "q_predicates" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.where(
          (c("c_mktsegment").isin("BUILDING", "AUTOMOBILE") && c("c_name").contains("1")) ||
          (c("c_name").startsWith("Customer#00000000") && c("c_name").endsWith("9")))
        .select("c_custkey", "c_name", "c_mktsegment")
        .sortValues(Seq("c_custkey")).df
    }),

    // §2.3 Python arithmetic semantics (true-div, floor-div, mod on
    // negatives, power, bitwise, negate, abs)
    "q_arith" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sk = li("l_suppkey") - 50 // mixed-sign operand
      li.selectExprs(
          li("l_orderkey").as("l_orderkey"),
          li("l_linenumber").as("l_linenumber"),
          (sk % 7).as("mod_py"),
          sk.floorDiv(7).as("fdiv_py"),
          (li("l_quantity") / 4).as("tdiv"),
          (li("l_linenumber") ** 2).as("pw"),
          li("l_partkey").bitAnd(255).as("band"),
          li("l_partkey").bitXor(li("l_suppkey")).as("bxor"),
          (-li("l_suppkey")).as("neg"),
          (li("l_quantity") - 25).abs.as("absv"))
        .sortValues(Seq("l_orderkey", "l_linenumber")).df
    }),

    // §2.4 inner equi-join, leftOn != rightOn keeps both key columns
    "q_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.merge(c, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice")
        .sortValues(Seq("o_orderkey")).df
    }),

    // §2.4 MultiJoin (left-deep 3-way) + §2.6 grouped sum of derived col
    "q_multijoin" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val j = li.merge(o, leftOn = Seq("l_orderkey"), rightOn = Seq("o_orderkey"))
        .merge(c, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"))
      // price(2dp) × (1-disc)(2dp) has exactly 4 decimal digits, so a
      // DECIMAL(18,4) cast is never at a rounding half-boundary → exact,
      // order-independent sum on both engines.
      j.set("rev_d", (j("l_extendedprice") * (1 - j("l_discount"))).cast("decimal(18,4)"))
      val g = j.groupby("c_mktsegment").agg(
        ("rev_d", "sum") -> "revenue_d",
        ("rev_d", "count") -> "n")
      g.set("revenue", g("revenue_d").cast("double"))
      g.select("c_mktsegment", "revenue", "n").sortValues(Seq("c_mktsegment")).df
    }),

    // §2.5 Union (concat = UNION ALL by name)
    "q_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.where(o("o_orderstatus") === "F").select("o_orderkey", "o_orderstatus", "o_totalprice")
      val p = o.where(o("o_orderstatus") === "P").select("o_orderkey", "o_orderstatus", "o_totalprice")
      f.concat(p).sortValues(Seq("o_orderkey")).df
    }),

    // §2.5 OrderBy (multi-col, mixed direction) + Limit
    "q_sort_limit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.sortValues(Seq("l_extendedprice", "l_orderkey", "l_linenumber"), Seq(false, true, true))
        .head(20)
        .select("l_orderkey", "l_linenumber", "l_extendedprice").df
    }),

    // §2.7 __setitem__ (copy-on-write column assignment)
    "q_setitem" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.set("price_band", o("o_totalprice").floorDiv(50000))
        .set("is_high", o("o_totalprice") > 250000)
        .select("o_orderkey", "price_band", "is_high")
        .sortValues(Seq("o_orderkey")).df
    }),

    // §2.7 rename (order-preserving)
    "q_rename" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      n.rename(Map("n_name" -> "nation_name", "n_nationkey" -> "id"))
        .select("id", "nation_name", "n_regionkey")
        .sortValues(Seq("id")).df
    }),

    // §2.6 grouped multi-agg — one HashAggregate pass, flat col_fn names
    "q_groupmulti" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select("l_returnflag", "l_quantity")
        .groupby("l_returnflag")
        .aggFns(Seq("sum", "mean", "min", "max", "count"))
        .sortValues(Seq("l_returnflag")).df
    }),

    // §2.9 custom product aggregate (Aggregator with partial aggregation)
    "q_prod" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.set("dp", 1.0 + li("l_discount"))
      val g = li.groupby("l_orderkey")("dp").prod()
      g.selectExprs(g("l_orderkey").as("l_orderkey"),
          PsColumn(round(g("dp").col, 6)).as("disc_prod"))
        .sortValues(Seq("l_orderkey")).df
    }),

    // §2.6 any/all aggregates (bool_or / bool_and)
    "q_anyall" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.set("big", o("o_totalprice") > 200000)
        .set("small", o("o_totalprice") > 2000)
        .groupby("o_custkey")
        .agg(("big", "any") -> "any_big", ("small", "all") -> "all_small")
        .sortValues(Seq("o_custkey")).df
    }),

    // §2.8 nlargest (TakeOrderedAndProject — distributed top-k, no full sort)
    "q_nlargest" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.nlargest(15, Seq("o_totalprice", "o_orderkey"))
        .select("o_orderkey", "o_totalprice").df
    }),

    // §2.6 ungrouped multi-agg (row-per-function MultiAggregator shape)
    "q_aggrows" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select("l_quantity", "l_linenumber")
        .aggRows(Seq("sum", "mean", "min", "max"))
        .sortValues(Seq("agg")).df
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    coreOracleSql ++ ExtQueries.oracleSql ++ RefBench.oracleSql

  private def coreOracleSql: Map[String, String] = Map(
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         avg(l_quantity) AS avg_qty,
         count(l_quantity) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_quantity > 30 AND l_discount <= 0.05 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q_predicates" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE (c_mktsegment IN ('BUILDING','AUTOMOBILE') AND c_name LIKE '%1%')
            OR (c_name LIKE 'Customer#00000000%' AND c_name LIKE '%9')
         ORDER BY c_custkey""",
    "q_arith" ->
      """SELECT l_orderkey, l_linenumber,
         (((l_suppkey - 50) % 7) + 7) % 7 AS mod_py,
         CAST(floor((l_suppkey - 50) / 7.0) AS BIGINT) AS fdiv_py,
         l_quantity / 4 AS tdiv,
         pow(l_linenumber, 2) AS pw,
         l_partkey & 255 AS band,
         xor(l_partkey, l_suppkey) AS bxor,
         -l_suppkey AS neg,
         abs(l_quantity - 25) AS absv
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_join" ->
      """SELECT o_orderkey, o_custkey, c_custkey, c_name, c_mktsegment, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "q_multijoin" ->
      """SELECT c_mktsegment,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_union" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'P'
         ) ORDER BY o_orderkey""",
    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""",
    "q_setitem" ->
      """SELECT o_orderkey,
         CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS price_band,
         o_totalprice > 250000 AS is_high
         FROM orders ORDER BY o_orderkey""",
    "q_rename" ->
      """SELECT n_nationkey AS id, n_name AS nation_name, n_regionkey
         FROM nation ORDER BY id""",
    "q_groupmulti" ->
      """SELECT l_returnflag,
         sum(l_quantity) AS l_quantity_sum,
         avg(l_quantity) AS l_quantity_mean,
         min(l_quantity) AS l_quantity_min,
         max(l_quantity) AS l_quantity_max,
         count(l_quantity) AS l_quantity_count
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_prod" ->
      """SELECT l_orderkey, round(product(1 + l_discount), 6) AS disc_prod
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q_anyall" ->
      """SELECT o_custkey,
         bool_or(o_totalprice > 200000) AS any_big,
         bool_and(o_totalprice > 2000) AS all_small
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_nlargest" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 15""",
    "q_aggrows" ->
      """SELECT * FROM (
           SELECT 'sum' AS agg, CAST(sum(l_quantity) AS DOUBLE) AS l_quantity,
                  CAST(sum(l_linenumber) AS DOUBLE) AS l_linenumber FROM lineitem
           UNION ALL
           SELECT 'mean', avg(l_quantity), avg(l_linenumber) FROM lineitem
           UNION ALL
           SELECT 'min', CAST(min(l_quantity) AS DOUBLE), CAST(min(l_linenumber) AS DOUBLE) FROM lineitem
           UNION ALL
           SELECT 'max', CAST(max(l_quantity) AS DOUBLE), CAST(max(l_linenumber) AS DOUBLE) FROM lineitem
         ) ORDER BY agg"""
  )
}
