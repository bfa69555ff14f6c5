package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftParquetFormat, PsIO}

/** `PsIO.parquet` reads the schema from the footers on the driver; it
  * must be exactly the schema Spark's own inference job finds, under
  * every session conf and file layout that changes what that job reads
  * or how it converts, and composing the read must start no job. */
class ParquetSchemaSpec extends AnyFunSuite with SparkFixture {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-pschema-$name").toString

  /** The driver-read frame for `path`, asserting it started no job. */
  private def driverRead(path: String): DataFrame = {
    var df: DataFrame = null
    val jobs = TestSpark.jobsStartedBy { df = PsIO.parquet(spark, path) }
    assert(jobs == 0, s"reading $path started $jobs jobs")
    df
  }

  private def assertSameSchema(path: String): Unit =
    assert(driverRead(path).schema == spark.read.parquet(path).schema, path)

  /** Run `body` with the session confs `kvs` set, restoring them after. */
  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One row written by parquet's own example writer, with no Spark row
    * schema in the footer. */
  private def writeBare(file: String, message: String)(fill: Group => Unit): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val writer = ExampleParquetWriter.builder(new HPath(file)).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      fill(g)
      writer.write(g)
    } finally writer.close()
  }

  private def copyFirstPart(fromDir: String, to: String): Unit = {
    val part = new java.io.File(fromDir).listFiles
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    Files.copy(part.toPath, Paths.get(to), StandardCopyOption.REPLACE_EXISTING)
  }

  test("every fixture table: the driver schema is spark.read.parquet's, no job") {
    val tables = new java.io.File("/root/testdata/sf0.001").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(tables.length >= 10)
    tables.foreach(assertSameSchema)
    // the same relation, so cached frames and plan comparisons match
    val docs = tables.find(_.endsWith("documents.parquet")).get
    assert(driverRead(docs).queryExecution.analyzed
      .sameResult(spark.read.parquet(docs).queryExecution.analyzed))
  }

  test("INT96 timestamps and decimals convert under the session conf") {
    val dir = tmp("int96")
    withConf("spark.sql.parquet.outputTimestampType" -> "INT96") {
      spark.range(3).select(col("id"),
        timestamp_seconds(col("id")).as("ts"),
        col("id").cast("decimal(5,2)").as("d5"),
        col("id").cast("decimal(15,3)").as("d15"),
        col("id").cast("decimal(30,4)").as("d30"))
        .write.parquet(dir + "/modern")
    }
    withConf("spark.sql.parquet.writeLegacyFormat" -> "true") {
      spark.range(3).select(col("id").cast("decimal(5,2)").as("d5"),
        col("id").cast("decimal(15,3)").as("d15"))
        .write.parquet(dir + "/legacy")
    }
    Seq(dir + "/modern", dir + "/legacy").foreach(assertSameSchema)
    // Spark's writer stores its row schema in the footer, which inference
    // prefers; a bare file leaves every type to the converter and its confs
    val bare = dir + "/bare.parquet"
    writeBare(bare, """message bare {
        required int96 ts; optional binary raw; optional binary utf (UTF8);
        optional int32 d5 (DECIMAL(5,2)); optional int64 d15 (DECIMAL(15,3));
        optional fixed_len_byte_array(13) d30 (DECIMAL(30,4)); }""") { g =>
      g.add("ts", Binary.fromConstantByteArray(new Array[Byte](12)))
      g.add("raw", "r"); g.add("utf", "u"); g.add("d5", 12345); g.add("d15", 7L)
      g.add("d30", Binary.fromConstantByteArray(new Array[Byte](13)))
    }
    assertSameSchema(bare)
    assert(driverRead(bare).schema.map(_.dataType.simpleString) == Seq(
      "timestamp", "binary", "string", "decimal(5,2)", "decimal(15,3)", "decimal(30,4)"))
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assertSameSchema(bare)
      assert(driverRead(bare).schema("raw").dataType.simpleString == "string")
    }
    withConf("spark.sql.parquet.int96AsTimestamp" -> "false") {
      val sparkErr = intercept[Exception](spark.read.parquet(bare))
      val driverErr = intercept[Exception](PsIO.parquet(spark, bare))
      assert(sparkErr.getMessage.contains("INT96") && driverErr.getMessage.contains("INT96"),
        s"${sparkErr.getMessage} / ${driverErr.getMessage}")
    }
  }

  test("TIMESTAMP(NANOS): refused without the legacy flag, a long with it") {
    val nanos = getClass.getResource("/events_nanos.parquet").getPath
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val sparkErr = intercept[Exception](spark.read.parquet(nanos))
      val driverErr = intercept[Exception](PsIO.parquet(spark, nanos))
      assert(sparkErr.getMessage.contains("NANOS") && driverErr.getMessage.contains("NANOS"),
        s"${sparkErr.getMessage} / ${driverErr.getMessage}")
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertSameSchema(nanos)
      assert(driverRead(nanos).schema("ts").dataType.typeName == "long")
    }
  }

  test("summary files: _common_metadata, then _metadata, then the first data file") {
    val dir = tmp("summary")
    spark.range(2).select(col("id").as("a"), col("id").as("b")).write.parquet(dir + "/t")
    spark.range(1).select(col("id").as("a"), col("id").as("b"), lit("x").as("c"))
      .write.parquet(dir + "/wide")
    spark.range(1).select(col("id").as("a"), col("id").as("b"), lit(1.0).as("m"))
      .write.parquet(dir + "/meta")
    copyFirstPart(dir + "/meta", dir + "/t/_metadata")
    assertSameSchema(dir + "/t")
    assert(driverRead(dir + "/t").columns.toSeq == Seq("a", "b", "m"))
    copyFirstPart(dir + "/wide", dir + "/t/_common_metadata")
    assertSameSchema(dir + "/t")
    assert(driverRead(dir + "/t").columns.toSeq == Seq("a", "b", "c"))
    // merging reads every data file and both summaries, unless told to
    // respect the summaries
    Seq("false", "true").foreach { respect =>
      withConf("spark.sql.parquet.mergeSchema" -> "true",
          "spark.sql.parquet.respectSummaryFiles" -> respect) {
        assertSameSchema(dir + "/t")
      }
    }
  }

  test("hive partitions come from the file index, typed as Spark types them") {
    val dir = tmp("hive")
    spark.range(6).select(col("id"), (col("id") % 2).as("p"),
        date_add(lit("2024-01-01").cast("date"), (col("id") % 3).cast("int")).as("q"),
        (col("id") * 1.5).as("v"))
      .write.partitionBy("p", "q").parquet(dir + "/t")
    assertSameSchema(dir + "/t")
    assert(driverRead(dir + "/t").columns.toSeq == Seq("id", "v", "p", "q"))
    withConf("spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") {
      assertSameSchema(dir + "/t")
    }
    assert(driverRead(dir + "/t").filter(col("p") === 1).count() == 3)
  }

  test("mergeSchema: every footer merged in path order, by conf or by option") {
    val dir = tmp("merge")
    spark.range(2).select(col("id").as("a")).write.parquet(dir + "/t/k=1")
    spark.range(2).select(col("id").as("a"), lit("s").as("z")).write.parquet(dir + "/t/k=2")
    spark.range(2).select(col("id").as("a"), lit(2.5).as("y")).write.parquet(dir + "/t/k=3")
    assertSameSchema(dir + "/t") // first file only: (a, k)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assertSameSchema(dir + "/t")
      assert(driverRead(dir + "/t").columns.toSeq == Seq("a", "z", "y", "k"))
    }
    val byOption = spark.read.format(classOf[GraftParquetFormat].getName)
      .option("mergeSchema", "true").load(dir + "/t")
    assert(byOption.schema ==
      spark.read.option("mergeSchema", "true").parquet(dir + "/t").schema)
    // an incompatible merge fails as Spark's does
    spark.range(2).select(col("id").cast("string").as("a")).write.parquet(dir + "/t/k=4")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      val err = intercept[Exception](PsIO.parquet(spark, dir + "/t"))
      assert(err.getMessage.contains("CANNOT_MERGE_SCHEMAS"), err.getMessage)
    }
  }
}
