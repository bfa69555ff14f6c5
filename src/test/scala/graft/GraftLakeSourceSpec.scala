package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeVersions

/** The SQL/DataFrame face over versioned lakes (`graftlake` source):
  * user predicates auto-prune manifest files at planning, partition
  * columns surface without listing, and versionAsOf/timestampAsOf give
  * SQL users time travel. */
class GraftLakeSourceSpec extends AnyFunSuite with SparkFixture {

  private def lake(): String =
    Files.createTempDirectory("graft-lakesql").toString + "/table"

  /** Three one-file appends with tight disjoint k envelopes (the
    * layout a sorted rewrite produces), k = 0..29 / 30..59 / 60..89. */
  private def sortedLake(): String = {
    val s = spark
    import s.implicits._
    val dir = lake()
    (0 until 3).foreach { i =>
      LakeVersions.commit(s, dir,
        (i * 30 until (i + 1) * 30).map(k => (k.toLong, s"row-$k"))
          .toDF("k", "t").coalesce(1),
        statsCols = Seq("k")): Unit
    }
    dir
  }

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    df.collect(): Unit // metrics exist only after execution
    val scans = graft.plans.PlanLint.physicalPlan(df).collect {
      case sc: FileSourceScanExec => sc
    }
    assert(scans.size == 1, s"want 1 file scan, got ${scans.size}")
    scans.head
  }

  test("a plain DataFrame predicate prunes manifest files at planning: " +
      "1 of 3 files planned, filter also pushed to parquet") {
    val dir = sortedLake()
    val df = spark.read.format("graftlake").load(dir)
      .filter(col("k") >= 35 && col("k") <= 55)
    val scan = scanOf(df)
    assert(scan.metrics("numFiles").value == 1L,
      s"manifest pruning must plan 1 of 3 files, planned ${scan.metrics("numFiles").value}")
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(k,35)") &&
      pushed.contains("LessThanOrEqual(k,55)"), pushed)
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (35L to 55L))
  }

  test("predicate shapes: equality, IN, strict comparisons, and " +
      "impossible conjunctions all prune correctly") {
    val dir = sortedLake()
    val base = spark.read.format("graftlake").load(dir)
    def planned(df: DataFrame): Long = scanOf(df).metrics("numFiles").value
    assert(planned(base.filter(col("k") === 42)) == 1L)
    assert(planned(base.filter(col("k").isin(5, 12, 25))) == 1L)
    assert(planned(base.filter(col("k") > 59)) == 1L,
      "strict > must not keep the file whose envelope ends AT the bound")
    assert(planned(base.filter(col("k") < 30)) == 1L)
    // impossible conjunction: zero files planned, empty result, no job
    val none = base.filter(col("k") > 50 && col("k") < 40)
    assert(planned(none) == 0L)
    assert(none.count() == 0L)
    // a predicate the bounds pass cannot express keeps everything
    assert(planned(base.filter(col("t").startsWith("row-1"))) == 3L)
    // disjunctions contribute no bounds (conservative)
    assert(planned(base.filter(col("k") === 2 || col("k") === 80)) == 3L)
    assert(base.filter(col("k") === 2 || col("k") === 80).count() == 2L)
  }

  test("versionAsOf and timestampAsOf pin manifests through the SQL face") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1L, "a")).toDF("k", "t"))
    LakeVersions.commit(s, dir, Seq((2L, "b")).toDF("k", "t"))
    LakeVersions.commit(s, dir, Seq((9L, "z")).toDF("k", "t"), overwrite = true)
    def readV(v: Long) = spark.read.format("graftlake")
      .option("versionAsOf", v.toString).load(dir)
    assert(readV(2).select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    assert(readV(3).select("k").collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.read.format("graftlake").load(dir).count() == 1L)
    // timestamp travel: "now" resolves to the latest version; a time
    // before the table existed fails loudly
    val now = System.currentTimeMillis() + 60000
    assert(spark.read.format("graftlake")
      .option("timestampAsOf", now.toString).load(dir).count() == 1L)
    val e = intercept[Exception](spark.read.format("graftlake")
      .option("timestampAsOf", "1000").load(dir))
    assert(e.getMessage.contains("no version"), e.getMessage)
    intercept[Exception](spark.read.format("graftlake")
      .option("versionAsOf", "2").option("timestampAsOf", now.toString)
      .load(dir))
  }

  test("SQL DDL face: CREATE TEMPORARY VIEW ... USING graftlake; " +
      "WHERE prunes files the same as the DataFrame face") {
    val dir = sortedLake()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_sql_t " +
      s"USING graftlake OPTIONS (path '$dir')")
    val df = spark.sql(
      "SELECT k, t FROM lake_sql_t WHERE k BETWEEN 60 AND 70")
    val scan = scanOf(df)
    assert(scan.metrics("numFiles").value == 1L)
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (60L to 70L))
  }

  test("partitioned lakes: partition columns surface typed with no " +
      "listing, and partition predicates prune files at planning") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir,
      (0 until 40).map(k => (k.toLong, k % 4, s"r$k")).toDF("k", "reg", "t")
        .repartition(1),
      partitionBy = Seq("reg"), statsCols = Seq("k")): Unit
    val df = spark.read.format("graftlake").load(dir)
    assert(df.schema("reg").dataType == org.apache.spark.sql.types.IntegerType)
    val one = df.filter(col("reg") === 2)
    val scan = scanOf(one)
    val total = scanOf(df).metrics("numFiles").value
    assert(scan.metrics("numFiles").value < total,
      s"partition predicate planned ${scan.metrics("numFiles").value} of $total files")
    assert(one.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 40).filter(_ % 4 == 2).map(_.toLong))
    // the partition value itself comes back from the path, not the file
    assert(one.select("reg").distinct().collect().map(_.getInt(0)).toSeq ==
      Seq(2))
  }

  test("the SQL face reads a width-evolved lake through the header " +
      "schema: narrow files null-fill, int-written files decode as long") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1, 10)).toDF("k", "n"))
    LakeVersions.commit(s, dir,
      Seq((2L, 5000000000L, "x")).toDF("k", "n", "extra")
        .selectExpr("cast(k as int) k", "n", "extra"))
    val df = spark.read.format("graftlake").load(dir)
    assert(df.schema("n").dataType == org.apache.spark.sql.types.LongType)
    val rows = df.select("k", "n", "extra").collect()
      .map(r => (r.getInt(0), r.getLong(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1, 10L, None), (2, 5000000000L, Some("x"))))
  }

  test("date, timestamp and decimal partitions read the same rows " +
      "through read and the SQL face") {
    val s = spark
    Seq("date" -> "date_add(date'2024-01-01', cast(id % 3 as int))",
      "timestamp" -> "timestamp'2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, 0, cast(id % 3 as int), 0)",
      "decimal(5,2)" -> "cast(id % 3 + 0.25 as decimal(5,2))").foreach { case (t, e) =>
      val dir = lake()
      LakeVersions.commit(s, dir, s.range(6).selectExpr("id", s"$e as p"),
        partitionBy = Seq("p")): Unit
      val viaRead = LakeVersions.read(s, dir)
      val viaSql = s.read.format("graftlake").load(dir)
      assert(viaRead.schema("p").dataType.simpleString == t)
      assert(viaSql.schema("p").dataType.simpleString == t)
      def rows(df: DataFrame) = df.select("id", "p").orderBy("id").collect().toSeq
      val want = s.range(6).selectExpr("id", s"$e as p").orderBy("id").collect().toSeq
      assert(rows(viaRead) == want, t)
      assert(rows(viaSql) == want, t)
      // a partition predicate on the typed value prunes and still matches
      val first = want.head.get(1)
      assert(rows(viaSql.filter(col("p") === first)) == want.filter(_.get(1) == first), t)
    }
  }

  test("a cached lake read is reused by a fresh read of the same files; " +
      "another version is not") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "t")): Unit
    def cached(df: DataFrame) =
      df.queryExecution.withCachedData.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryRelation])
    def sqlFace(v: Long) =
      s.read.format("graftlake").option("versionAsOf", v.toString).load(dir)
    val byRead = LakeVersions.read(s, dir).cache()
    val bySql = sqlFace(1L).cache()
    try {
      byRead.count(): Unit
      bySql.count(): Unit
      assert(cached(LakeVersions.read(s, dir)))
      assert(cached(LakeVersions.read(s, dir, Some(1L))))
      assert(cached(sqlFace(1L)))
      assert(cached(s.read.format("graftlake").load(dir)))
      LakeVersions.commit(s, dir, Seq((3L, "c")).toDF("k", "t")): Unit
      assert(!cached(LakeVersions.read(s, dir)), "v2 names other files")
      assert(!cached(sqlFace(2L)))
      assert(LakeVersions.read(s, dir).count() == 3L)
    } finally {
      byRead.unpersist(): Unit
      bySql.unpersist(): Unit
    }
  }

  test("read's inputFiles are manifest files as URIs, hive-escaped " +
      "partition values included") {
    val s = spark
    import s.implicits._
    val dir = lake()
    LakeVersions.commit(s, dir,
      Seq((1L, "a:b c"), (2L, "a%d"), (3L, "plain")).toDF("k", "site"),
      partitionBy = Seq("site")): Unit
    val root = new java.io.File(dir).getCanonicalFile.toPath
    val rels = LakeVersions.pinned(s, dir, None).files.map(_.relpath).toSet
    val files = LakeVersions.read(s, dir).inputFiles.toSeq
    assert(files.nonEmpty && files.size == rels.size)
    files.foreach { f =>
      val p = java.nio.file.Paths.get(new java.net.URI(f))
      assert(Files.isRegularFile(p), f)
      assert(rels(root.relativize(p.toRealPath()).toString), f)
    }
    assert(s.read.format("graftlake").load(dir).inputFiles.toSeq.sorted ==
      files.sorted)
  }
}
