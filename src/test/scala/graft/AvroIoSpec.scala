package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AvroIo

class AvroIoSpec extends AnyFunSuite with SparkFixture {

  private def tmp(): String =
    Files.createTempDirectory("graft-avro").toString + "/t"

  test("round-trip: every supported type, nulls, binary, multi-partition") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1, 10L, 1.5f, 2.5, true, Option("a"), Option(Array[Byte](1, 2, 3))),
      (2, -20L, -0.5f, -1.25, false, None, None),
      (3, 0L, 0f, 0.0, true, Option(""), Option(Array.empty[Byte])))
      .toDF("i", "l", "f", "d", "b", "s", "bin")
      .repartition(3)
    val dir = tmp()
    AvroIo.toAvro(df, dir)
    val back = AvroIo.readAvro(s, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    def canon(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getFloat(2), r.getDouble(3), r.getBoolean(4),
        Option(r.getString(5)),
        Option(r.getAs[Array[Byte]](6)).map(_.toSeq))
    assert(back.collect().map(canon).sortBy(_._1).toSeq ==
      df.collect().map(canon).sortBy(_._1).toSeq)
  }

  test("one container file per non-empty input partition; deflate by default") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    AvroIo.toAvro((1 to 100).toDF("n").repartition(4), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length == 4)
    // container magic + the codec recorded in the file metadata
    val head = Files.readAllBytes(files.head.toPath)
    assert(head.take(4).sameElements("Obj".getBytes("ISO-8859-1")))
    assert(new String(head, "ISO-8859-1").contains("deflate"))
    assert(AvroIo.readAvro(s, dir).collect().map(_.getInt(0)).sorted.toSeq == (1 to 100))
  }

  test("empty partitions write no file; re-write replaces stale output") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    AvroIo.toAvro(Seq(1, 2).toDF("n").repartition(8), dir, codec = None)
    val first = new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro"))
    assert(first <= 2 && first >= 1)
    AvroIo.toAvro(Seq(9).toDF("n").coalesce(1), dir)
    assert(AvroIo.readAvro(s, dir).collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("unsupported types fail loudly in both directions") {
    val s = spark
    import s.implicits._
    // Avro maps are keyed by string ONLY — any other key type has no
    // lossless container representation
    val e = intercept[IllegalArgumentException](
      AvroIo.toAvro(Seq((1, Map(1 -> 2))).toDF("i", "m"), tmp()))
    assert(e.getMessage.contains("unsupported Spark type"))
  }

  test("nested record/array/map/decimal round-trip, including nulls") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, ("alice", 30, ("nyc", 10001)), Seq(Option(1L), None, Option(3L)),
        Map("a" -> 1.5, "b" -> 2.5), Option(BigDecimal("12345.67"))),
      (2L, ("bob", 41, ("sfo", 94103)), Seq.empty[Option[Long]],
        Map.empty[String, Double], None))
      .toDF("id", "who", "xs", "m", "dec")
      .withColumn("dec", org.apache.spark.sql.functions.col("dec").cast("decimal(12,2)"))
    val dir = tmp()
    AvroIo.toAvro(df, dir)
    val back = AvroIo.readAvro(s, dir)
    assert(back.schema("who").dataType == df.schema("who").dataType)
    assert(back.schema("dec").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    val a = back.orderBy("id").collect()
    val b = df.orderBy("id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // null handling: a null struct survives
    val df2 = s.sql("SELECT 1L AS id, CAST(NULL AS struct<a:int>) AS st")
    val dir2 = tmp()
    AvroIo.toAvro(df2, dir2)
    assert(AvroIo.readAvro(s, dir2).collect().head.isNullAt(1))
  }

  test("nested evolution: added nested field null-fills, nested int widens") {
    val s = spark
    import s.implicits._
    // gen1: cust = struct<custkey:int, status:string>
    // gen2: cust = struct<custkey:long, status:string, clerk:string>
    val g1 = s.sql(
      "SELECT 1L AS id, named_struct('custkey', 7, 'status', 'A') AS cust")
      .coalesce(1)
    val g2 = s.sql(
      """SELECT 2L AS id,
                named_struct('custkey', 9L, 'status', 'B', 'clerk', 'c9') AS cust""")
      .coalesce(1)
    val d1 = tmp(); val d2 = tmp(); val merged = tmp()
    AvroIo.toAvro(g1, d1); AvroIo.toAvro(g2, d2)
    val md = new java.io.File(merged); md.mkdirs()
    def mv(from: String, as: String): Unit = {
      val f = new java.io.File(from).listFiles().filter(_.getName.endsWith(".avro")).head
      Files.copy(f.toPath, new java.io.File(md, as).toPath); ()
    }
    mv(d1, "gen1-part.avro"); mv(d2, "gen2-part.avro")
    val back = AvroIo.readAvro(s, merged)
    val custT = back.schema("cust").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(custT.fieldNames.toSeq == Seq("custkey", "status", "clerk"))
    assert(custT("custkey").dataType == org.apache.spark.sql.types.LongType)
    val rows = back.orderBy("id").collect()
    assert(rows(0).getStruct(1).getLong(0) == 7L) // int widened to long
    assert(rows(0).getStruct(1).isNullAt(2))      // clerk null-filled in gen1
    assert(rows(1).getStruct(1).getString(2) == "c9")
    // the ledger reports the column as widened, not quarantined
    val drift = AvroIo.avroSchemaDrift(s, merged)
      .filter(org.apache.spark.sql.functions.col("column") === "cust").collect()
    assert(drift.head.getString(1) == "widen")
  }

  test("nested conflict bubbles to the COLUMN policy: drop or stringify") {
    val s = spark
    import s.implicits._
    val g1 = Seq((1L, Tuple1(7))).toDF("id", "st")   // st.a int
    val g2 = Seq((2L, Tuple1("x"))).toDF("id", "st") // st.a string
    val d1 = tmp(); val d2 = tmp(); val merged = tmp()
    AvroIo.toAvro(g1, d1); AvroIo.toAvro(g2, d2)
    val md = new java.io.File(merged); md.mkdirs()
    def mv(from: String, as: String): Unit = {
      val f = new java.io.File(from).listFiles().filter(_.getName.endsWith(".avro")).head
      Files.copy(f.toPath, new java.io.File(md, as).toPath); ()
    }
    mv(d1, "gen1-part.avro"); mv(d2, "gen2-part.avro")
    val dropped = AvroIo.readAvro(s, merged)
    assert(dropped.schema.fieldNames.toSeq == Seq("id"))
    val stringified = AvroIo.readAvro(s, merged,
      conflicts = graft.sources.PsIO.StringifyConflicts)
    assert(stringified.schema("st").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(stringified.orderBy("id").collect().map(_.getString(1)).forall(_ != null))
    val drift = AvroIo.avroSchemaDrift(s, merged)
      .filter(org.apache.spark.sql.functions.col("column") === "st").collect()
    assert(drift.head.getString(1) == "quarantine")
  }

  test("DSv2 batch write: overwrite == toAvro, append lands a new generation") {
    val s = spark
    import s.implicits._
    val df = Seq((1, 10L, "a"), (2, 20L, "b"), (3, 30L, "c")).toDF("i", "l", "t")
    val viaFormat = tmp()
    // AvroIo.toAvro is this overwrite
    df.write.format("graft-avro").mode("overwrite").save(viaFormat)
    def canon(dir: String) = AvroIo.readAvro(s, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(canon(viaFormat) == Seq((1, 10L, "a"), (2, 20L, "b"), (3, 30L, "c")))
    // overwrite replaces wholesale (the directory swap)
    Seq((9, 90L, "z")).toDF("i", "l", "t")
      .write.format("graft-avro").mode("overwrite").save(viaFormat)
    assert(canon(viaFormat) == Seq((9, 90L, "z")))
    // append adds files without touching the existing generation; an
    // evolved schema lands as a NEW writer generation for the lattice
    Seq((10, "x", 5)).toDF("i", "t", "extra")
      .write.format("graft-avro").mode("append").save(viaFormat)
    // unified column ORDER is first-seen over name-sorted files — the
    // random job id makes generation order arbitrary, so assert by name
    assert(AvroIo.readAvro(s, viaFormat).schema.fieldNames.sorted.toSeq ==
      Seq("extra", "i", "l", "t"))
    val appended = AvroIo.readAvro(s, viaFormat).select("i", "l", "t", "extra")
    val rows = appended.orderBy("i").collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSeq
    assert(rows == Seq((9, Some(90L), "z", None), (10, None, "x", Some(5))))
    // empty partitions write no file; both modes leave zero litter
    Seq.empty[(Int, Long, String)].toDF("i", "l", "t").repartition(4)
      .write.format("graft-avro").mode("append").save(viaFormat)
    val names = new java.io.File(viaFormat).listFiles()
      .filter(_.isFile).map(_.getName).filterNot(_.startsWith("."))
    assert(names.forall(_.endsWith(".avro")), names.mkString(","))
    assert(names.length == 2, s"expected 2 data files, got: ${names.mkString(",")}")
    // append atomicity: the appended parts are GATED by their job's
    // epoch marker — with the marker gone (a crash between part
    // renames and marker commit), readers must not see the half-append
    val commits = new java.io.File(viaFormat, "_graft_commits")
    val markerDirs = commits.listFiles().filter(_.isDirectory)
    assert(markerDirs.nonEmpty)
    markerDirs.foreach { d =>
      d.listFiles().foreach(f => assert(f.delete())); assert(d.delete())
    }
    assert(canon(viaFormat) == Seq((9, 90L, "z")),
      "an unmarked (torn) append must be invisible to readers")
  }

  test("a failed overwrite swap keeps the staged generation; the target keeps the previous one") {
    val s = spark
    import s.implicits._
    s.sparkContext.hadoopConfiguration.set("fs.failswap.impl",
      classOf[FailingSwapFileSystem].getName)
    val base = Files.createTempDirectory("graft-avro-swap")
    val dir = base.toString + "/t"
    Seq(1, 2).toDF("n").write.format("graft-avro").mode("overwrite").save(dir)
    // the same directory through a filesystem whose staged-dir rename
    // fails: the job completes, then the job-commit swap fails
    val e = intercept[Exception] {
      (10 to 14).toDF("n").repartition(2)
        .write.format("graft-avro").mode("overwrite").save(s"failswap://$dir")
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    val staged = base.toFile.listFiles().filter(_.getName.startsWith("._tmp_t_"))
    assert(staged.length == 1,
      s"staged dir gone: ${base.toFile.listFiles().map(_.getName).toSeq}")
    assert(msgs.contains(staged.head.getName), msgs)
    assert(AvroIo.readAvro(s, staged.head.getPath).collect().map(_.getInt(0))
      .sorted.toSeq == (10 to 14))
    assert(AvroIo.readAvro(s, dir).collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2))
  }

  test("DSv2 face: named scan in the plan, select prunes the reader schema") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    AvroIo.toAvro(Seq((1, 10L, "a"), (2, 20L, "b")).toDF("i", "l", "t"), dir)
    val df = AvroIo.readAvro(s, dir).select("l")
    val scans = graft.plans.PlanLint.physicalPlan(df).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1)
    assert(scans.head.scan.description().contains("GraftAvroScan"))
    // Catalyst pruned the reader schema down to the selected column —
    // the decoder skips the other fields' bytes with NO explicit
    // columns parameter
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("l"))
    assert(df.as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    // a raw-column predicate pushes to the decode-time row skip, so the
    // full-decode lint stays quiet for it...
    val lintPushed = graft.plans.PlanLint.lint(
      AvroIo.readAvro(s, dir).filter($"l" > 15L))
    assert(!lintPushed.exists(_.rule == "avro-filter-full-decode"))
    // ...but a computed-expression predicate defeats even the row skip
    // and the lint flags the full decode
    val lintUnpushed = graft.plans.PlanLint.lint(
      AvroIo.readAvro(s, dir).filter($"l" % 2L === 0L))
    assert(lintUnpushed.exists(_.rule == "avro-filter-full-decode"))
    // a conjunction that pushes ONLY a null guard while the selective
    // computed conjunct stays residual is still a full decode — the
    // mere presence of PushedFilters must not silence the finding
    val lintGuardOnly = graft.plans.PlanLint.lint(
      AvroIo.readAvro(s, dir).filter(org.apache.spark.sql.functions.abs($"l") > 15L && $"t".isNotNull))
    val guardScan = graft.plans.PlanLint.physicalPlan(
      AvroIo.readAvro(s, dir).filter(org.apache.spark.sql.functions.abs($"l") > 15L && $"t".isNotNull))
      .collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.scan.description()
    assert(guardScan.contains("PushedFilters=[IsNotNull(t)]"), guardScan)
    assert(lintGuardOnly.exists(_.rule == "avro-filter-full-decode"),
      s"null-guard-only pushdown silenced the full-decode lint: $guardScan")
    // a count-only scan still decodes each record exactly once — and
    // decodes the NARROWEST column (int over long over string), not
    // whatever happens to be first in the schema
    val countPlan = graft.plans.PlanLint.physicalPlan(
      AvroIo.readAvro(s, dir).groupBy().count()).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(countPlan.head.scan.readSchema().fieldNames.toSeq == Seq("i"))
    assert(AvroIo.readAvro(s, dir).count() == 2L)
  }

  test("path-colliding nested record names uniquify: a.b vs sibling a_b") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    val dir = tmp()
    // both derive the record path row_a_b: the nested struct under `a`
    // and the sibling column `a_b` — without deduplication Avro sees
    // one full name with two structures and the write is broken
    val df = Seq((1, 2L, "x"), (3, 4L, "y")).toDF("k", "bv", "sv")
      .select(col("k"),
        struct(struct(col("bv").as("x")).as("b")).as("a"),
        struct(col("sv").as("y")).as("a_b"))
    AvroIo.toAvro(df, dir)
    val back = AvroIo.readAvro(s, dir)
      .select(col("k"), col("a.b.x").as("x"), col("a_b.y").as("y"))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(back.toSeq == Seq((1, 2L, "x"), (3, 4L, "y")))
  }

  test("enums read as their symbol strings") {
    val s = spark
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"r","fields":[
           {"name":"id","type":"long"},
           {"name":"color","type":{"type":"enum","name":"Color",
             "symbols":["RED","GREEN","BLUE"]}}]}""")
    val dir = tmp()
    val d = new java.io.File(dir); d.mkdirs()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, new java.io.File(d, "part-00000.avro"))
    Seq(1L -> "RED", 2L -> "BLUE").foreach { case (id, c) =>
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put(0, id)
      rec.put(1, new org.apache.avro.generic.GenericData.EnumSymbol(
        schema.getField("color").schema(), c))
      w.append(rec)
    }
    w.close()
    val back = AvroIo.readAvro(s, dir)
    assert(back.schema("color").dataType == org.apache.spark.sql.types.StringType)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("RED", "BLUE"))
  }

  test("date round-trips as the date logical int") {
    val s = spark
    import s.implicits._
    val df = Seq((1, java.sql.Date.valueOf("2020-02-29")),
        (2, java.sql.Date.valueOf("1969-07-20")))
      .toDF("i", "dt")
    val dir = tmp()
    AvroIo.toAvro(df, dir)
    val back = AvroIo.readAvro(s, dir)
    assert(back.schema("dt").dataType == org.apache.spark.sql.types.DateType)
    assert(back.collect().map(r => (r.getInt(0), r.getDate(1).toString)).sortBy(_._1).toSeq ==
      Seq((1, "2020-02-29"), (2, "1969-07-20")))
  }

  test("timestamps round-trip as timestamp-micros logical longs") {
    val s = spark
    import s.implicits._
    val ts = Seq(
      (1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00.000001")),
      (2L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999")),
      (3L, java.sql.Timestamp.valueOf("2038-01-19 03:14:07.5")))
      .toDF("id", "ts")
    val dir = tmp()
    AvroIo.toAvro(ts, dir)
    // the written schema must carry the logical type, not a bare long
    val raw = new String(Files.readAllBytes(
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
        .head.toPath), "ISO-8859-1")
    assert(raw.contains("timestamp-micros"))
    val back = AvroIo.readAvro(s, dir)
    assert(back.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(back.collect().map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq ==
      ts.collect().map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq)
  }

  test("timestamp_ntz round-trips as local-timestamp-micros") {
    val s = spark
    import s.implicits._
    val df = Seq("2020-06-01 12:34:56.789012", "1969-12-31 23:59:59.000001")
      .toDF("raw")
      .select(org.apache.spark.sql.functions.col("raw"),
        org.apache.spark.sql.functions.expr("cast(raw as timestamp_ntz)").as("ts"))
    val dir = tmp()
    AvroIo.toAvro(df, dir)
    val raw = new String(Files.readAllBytes(
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
        .head.toPath), "ISO-8859-1")
    assert(raw.contains("local-timestamp-micros"))
    val back = AvroIo.readAvro(s, dir)
    assert(back.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    // the wall-clock payload survives verbatim — no zone shift
    val got = back.collect()
      .map(r => r.getString(0) -> r.getAs[java.time.LocalDateTime](1)).toMap
    assert(got("2020-06-01 12:34:56.789012") ==
      java.time.LocalDateTime.parse("2020-06-01T12:34:56.789012"))
    assert(got("1969-12-31 23:59:59.000001") ==
      java.time.LocalDateTime.parse("1969-12-31T23:59:59.000001"))
  }

  test("timestamp-millis files read back at millisecond precision") {
    val s = spark
    import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val tsMs = LogicalTypes.timestampMillis().addToSchema(Schema.create(Schema.Type.LONG))
    val sch = SchemaBuilder.record("r").fields()
      .requiredInt("id").name("ts").`type`(tsMs).noDefault().endRecord()
    val dir = Files.createTempDirectory("graft-avro-tsms")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, dir.resolve("m.avro").toFile)
    val rec = new GenericData.Record(sch)
    rec.put("id", 1); rec.put("ts", 1577836800123L) // 2020-01-01 00:00:00.123 UTC
    w.append(rec); w.close()
    val got = AvroIo.readAvro(s, dir.toString).collect().head
    assert(got.getTimestamp(1).getTime == 1577836800123L)
  }

  test("mixed writer-schema generations unify: null-fill + lossless widen") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-avro-evolve").toString
    // gen1: (a int, b string, c int); gen2: (a long  — widened, b string,
    // d double — new); written to temp dirs, files merged into ONE dir
    // like a multi-generation Kafka dump
    val g1 = Seq((1, "x", 10), (2, "y", 20)).toDF("a", "b", "c").coalesce(1)
    val g2 = Seq((3L, "z", 1.5)).toDF("a", "b", "d").coalesce(1)
    val t1 = tmp(); val t2 = tmp()
    AvroIo.toAvro(g1, t1); AvroIo.toAvro(g2, t2)
    def move(from: String, as: String): Unit = {
      val f = new java.io.File(from).listFiles().filter(_.getName.endsWith(".avro")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(dir, as))
      ()
    }
    move(t1, "gen1-part-00000.avro")
    move(t2, "gen2-part-00000.avro")
    val got = AvroIo.readAvro(s, dir)
    import org.apache.spark.sql.types._
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      Seq(("a", LongType), ("b", StringType), ("c", IntegerType), ("d", DoubleType)))
    val rows = got.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(2)), Option(r.get(3)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "x", Some(10), None), (2L, "y", Some(20), None),
      (3L, "z", None, Some(1.5))))
    // the ledger names every disposition
    val ledger = AvroIo.avroSchemaDrift(s, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ledger == Map("a" -> "widen", "b" -> "stable",
      "c" -> "null_fill", "d" -> "null_fill"))
  }

  test("irreconcilable re-type: dropped by default, stringified on request") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-avro-conflict").toString
    val g1 = Seq((1, "x")).toDF("k", "v").coalesce(1)
    val g2 = Seq((2, true)).toDF("k", "v").coalesce(1) // v: string -> boolean
    val t1 = tmp(); val t2 = tmp()
    AvroIo.toAvro(g1, t1); AvroIo.toAvro(g2, t2)
    def move(from: String, as: String): Unit = {
      val f = new java.io.File(from).listFiles().filter(_.getName.endsWith(".avro")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(dir, as)); ()
    }
    move(t1, "g1.avro"); move(t2, "g2.avro")
    val dropped = AvroIo.readAvro(s, dir)
    assert(dropped.schema.fieldNames.toSeq == Seq("k"))
    val str = AvroIo.readAvro(s, dir, conflicts = graft.sources.PsIO.StringifyConflicts)
    assert(str.schema("v").dataType == org.apache.spark.sql.types.StringType)
    assert(str.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq((1, "x"), (2, "true")))
    assert(AvroIo.avroSchemaDrift(s, dir).collect()
      .find(_.getString(0) == "v").get.getString(1) == "quarantine")
  }

  test("projection pushdown: requested columns become the reader schema") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    AvroIo.toAvro(Seq((1, "a", 1.5, 10L), (2, "b", 2.5, 20L))
      .toDF("i", "s", "d", "l").coalesce(1), dir)
    val got = AvroIo.readAvro(s, dir, columns = Some(Seq("l", "s")))
    // caller's order, only the requested columns decoded
    assert(got.schema.fieldNames.toSeq == Seq("l", "s"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq((10L, "a"), (20L, "b")))
    intercept[IllegalArgumentException](
      AvroIo.readAvro(s, dir, columns = Some(Seq("nope"))))
    intercept[IllegalArgumentException](
      AvroIo.readAvro(s, dir, columns = Some(Seq("l", "l"))))
    // projection composes with generation evolution: a column absent
    // from one generation still null-fills under the projected read
    val evo = Files.createTempDirectory("graft-avro-evoproj").toString
    val t2 = tmp()
    AvroIo.toAvro(Seq((3L, true)).toDF("l", "flag").coalesce(1), t2)
    def cp(from: String, as: String): Unit = {
      val f = new java.io.File(from).listFiles().filter(_.getName.endsWith(".avro")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(evo, as)); ()
    }
    cp(dir, "g1.avro"); cp(t2, "g2.avro")
    val proj = AvroIo.readAvro(s, evo, columns = Some(Seq("l", "flag")))
    assert(proj.collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq ==
      Seq((3L, Some(true)), (10L, None), (20L, None)))
  }

  test("projected reads take the compiled-skip path and skip complex columns") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = Seq(
      (1, Seq(1L, 2L), Map("a" -> 1.5), ("x", 10L), Option("keep1"), 3.25),
      (2, Seq.empty[Long], Map.empty[String, Double], ("y", 20L), None, 4.5))
      .toDF("k", "arr", "m", "st", "os", "d")
    AvroIo.toAvro(df.coalesce(1), dir)
    def modes[A](body: => A): (A, Long, Long) = {
      val p0 = graft.sources.AvroIo.DecodeModes.projected.get()
      val r0 = graft.sources.AvroIo.DecodeModes.resolving.get()
      val a = body
      (a, graft.sources.AvroIo.DecodeModes.projected.get() - p0,
        graft.sources.AvroIo.DecodeModes.resolving.get() - r0)
    }
    // skip array+map+double+nullable-string, decode int + nested
    // struct (a nested target => the BOXED projected assembly)
    val (rows, p1, r1) = modes {
      AvroIo.readAvro(s, dir, columns = Some(Seq("st", "k")))
        .collect().map(r =>
          (r.getStruct(0).getString(0), r.getStruct(0).getLong(1), r.getInt(1)))
        .sortBy(_._3).toSeq
    }
    assert(rows == Seq(("x", 10L, 1), ("y", 20L, 2)))
    // DecodeModes counters are process-global: another suite's
    // resolving read in the same JVM can tick `resolving` inside this
    // window, so only OUR positive signal is assertable. p > 0 is
    // still the full-strength check here: the read is ONE file in ONE
    // task, and a single file takes exactly one decode path — if the
    // projection had fallen back to the resolver, projected would not
    // have moved at all.
    assert(p1 > 0,
      s"pure projection must compile skips, not resolve (proj=$p1, res=$r1)")
    // skip the nested struct itself (record skipper) while decoding a
    // flat pair => the UnsafeRow projected path
    val (rows2, p2, r2) = modes {
      AvroIo.readAvro(s, dir, columns = Some(Seq("k", "os")))
        .collect().map(r => (r.getInt(0), Option(r.getString(1))))
        .sortBy(_._1).toSeq
    }
    assert(rows2 == Seq((1, Some("keep1")), (2, None)))
    assert(p2 > 0, s"(proj=$p2, res=$r2)") // same single-path argument
    // a projection that needs WIDENING falls back to the resolver —
    // never the skip path (its map is defined only on identical field
    // schemas). g2 writes k as LONG, so the unified k is long and g1's
    // int k must promote during decode.
    val t2 = tmp()
    AvroIo.toAvro(Seq((7L, 1.0)).toDF("k", "d").coalesce(1), t2)
    val evo = java.nio.file.Files.createTempDirectory("graft-avro-skipevo").toString
    def cp(from: String, as: String): Unit = {
      val f = new java.io.File(from).listFiles().filter(_.getName.endsWith(".avro")).head
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(evo, as)); ()
    }
    cp(dir, "g1.avro"); cp(t2, "g2.avro")
    val (sum3, _, r3) = modes {
      AvroIo.readAvro(s, evo, columns = Some(Seq("k", "d")))
        .agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0)
    }
    assert(sum3 == 10L) // 1 + 2 + 7: no row lost, no value corrupted
    assert(r3 > 0, "a projection needing int->long widening must resolve, not skip")
  }

  test("size-aware reads: one fat file splits into multiple tasks, no row lost") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // ~1 MB of rows in ONE file (strings defeat deflate enough to leave
    // multiple 64 KiB-scale blocks), plus one tiny sibling file
    val fat = (1 to 30000)
      .map(i => (i, s"payload-$i-" + ("x" * 40))).toDF("n", "p").coalesce(1)
    AvroIo.toAvro(fat, dir, codec = None)
    val fatFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    val small = Seq((1000001, "tiny")).toDF("n", "p").coalesce(1)
    val t2 = tmp(); AvroIo.toAvro(small, t2, codec = None)
    Files.copy(new java.io.File(t2).listFiles().filter(_.getName.endsWith(".avro"))
      .head.toPath, java.nio.file.Paths.get(dir, "small.avro"))
    assert(fatFile.length() > 512 * 1024)
    val got = AvroIo.readAvro(s, dir, maxSplitBytes = Some(128 * 1024))
    // parallelism proportional to bytes: the fat file alone must yield
    // several splits (vs 2 tasks under per-file granularity)
    assert(got.rdd.getNumPartitions >= 6)
    assert(got.count() == 30001)
    assert(got.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) ==
      (1 to 30000).map(_.toLong).sum + 1000001L)
  }

  test("a truncated container fails the read loudly, never returns partial rows") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    AvroIo.toAvro((1 to 5000).map(i => (i, s"row-$i")).toDF("n", "p"), dir,
      codec = None)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro")).head
    // chop the file mid-block: the sync-marker protocol must surface the
    // corruption as a task failure, not an EOF-swallowed short result
    val bytes = Files.readAllBytes(f.toPath)
    Files.write(f.toPath, bytes.take(bytes.length - 17))
    val e = intercept[Exception](AvroIo.readAvro(s, dir).count())
    assert(e.getMessage != null)
  }

  test("write is two-phase: no temp dirs left behind, target never partial") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-avro-commit")
    val dir = base.toString + "/t"
    AvroIo.toAvro((1 to 10).toDF("n").repartition(2), dir)
    // job-commit renamed the temp dir away; only the target remains
    val siblings = base.toFile.listFiles().map(_.getName).toSeq
    assert(siblings == Seq("t"), s"leftover temp artifacts: $siblings")
    // a failing write must leave the previous target intact
    val before = AvroIo.readAvro(s, dir).collect().map(_.getInt(0)).sorted.toSeq
    intercept[Exception] {
      AvroIo.toAvro(
        (1 to 10).toDS().map { n =>
          if (n > 5) sys.error("mid-job failure") else n
        }.toDF("n"), dir)
    }
    assert(base.toFile.listFiles().map(_.getName).toSeq == Seq("t"))
    assert(AvroIo.readAvro(s, dir).collect().map(_.getInt(0)).sorted.toSeq == before)
    // a successful RE-write swaps via move-aside and cleans up: no
    // ._old_ or ._tmp_ siblings survive, and the new generation reads
    AvroIo.toAvro(Seq(42).toDF("n").coalesce(1), dir)
    assert(base.toFile.listFiles().map(_.getName).toSeq == Seq("t"),
      s"leftover swap artifacts: ${base.toFile.listFiles().map(_.getName).toSeq}")
    assert(AvroIo.readAvro(s, dir).collect().map(_.getInt(0)).toSeq == Seq(42))
  }

  test("zstandard codec: round-trips on all three write faces; compaction keeps codecs apart") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "alpha"), (2, "beta"), (3, "gamma")).toDF("n", "t")
      .coalesce(1) // one container file per face, so drop() below moves ALL rows
    def canon(dir: String) = AvroIo.readAvro(s, dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    // toAvro face
    val d1 = tmp()
    AvroIo.toAvro(df, d1, codec = Some("zstandard"))
    val head = new String(Files.readAllBytes(
      new java.io.File(d1).listFiles().filter(_.getName.endsWith(".avro"))
        .head.toPath), "ISO-8859-1")
    assert(head.contains("zstandard"), "codec not recorded in the container")
    assert(canon(d1) == Seq((1, "alpha"), (2, "beta"), (3, "gamma")))
    // DSv2 batch face
    val d2 = tmp()
    df.write.format("graft-avro").option("codec", "zstandard")
      .mode("overwrite").save(d2)
    assert(canon(d2) == canon(d1))
    // mixed-codec zone: compaction groups by (schema, codec) — a bin
    // never mixes codecs, so the block copy stays decode-free
    val mixed = tmp()
    new java.io.File(mixed).mkdirs()
    def drop(from: String, as: String): Unit = {
      val f = new java.io.File(from).listFiles()
        .filter(_.getName.endsWith(".avro")).head
      Files.copy(f.toPath, new java.io.File(mixed, as).toPath): Unit
    }
    val d3 = tmp()
    AvroIo.toAvro(df, d3, codec = Some("deflate"))
    drop(d1, "zstd-0.avro"); drop(d3, "deflate-0.avro")
    val out = tmp()
    assert(AvroIo.compactAvro(s, mixed, out, targetBytes = 1L << 30) == 2)
    assert(AvroIo.readAvro(s, out).count() == 6L)
    // unknown codec fails loudly, driver-side
    val e = intercept[IllegalArgumentException](
      AvroIo.toAvro(df, tmp(), codec = Some("lz9")))
    assert(e.getMessage.contains("unsupported codec"))
  }

  test("compactAvro: many small files -> few, rows identical, no decode needed") {
    val s = spark
    import s.implicits._
    val in = tmp()
    val out = tmp()
    AvroIo.toAvro((1 to 4000).map(i => (i, s"payload-$i")).toDF("n", "p")
      .repartition(8), in)
    val inFiles = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(inFiles.length == 8)
    val nOut = AvroIo.compactAvro(s, in, out, targetBytes = 1L << 30)
    assert(nOut == 1)
    val outFiles = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(outFiles.length == 1)
    // block copy: compacted bytes ~= sum of input blocks (same codec),
    // far from a recompression artifact of zero
    assert(outFiles.head.length() > inFiles.map(_.length()).sum / 2)
    val got = AvroIo.readAvro(s, out)
    assert(got.count() == 4000L)
    assert(got.agg(org.apache.spark.sql.functions.sum($"n".cast("long")))
      .head.getLong(0) == (1 to 4000).map(_.toLong).sum)
    // re-running onto the same target swaps generations cleanly
    assert(AvroIo.compactAvro(s, in, out, targetBytes = 1L << 30) == 1)
    assert(AvroIo.readAvro(s, out).count() == 4000L)
  }

  test("compactAvro: targetBytes splits bins; a bin never mixes generations") {
    val s = spark
    import s.implicits._
    val in = tmp()
    val out = tmp()
    // two writer generations in one directory (different schemas)
    AvroIo.toAvro((1 to 500).map(i => (i, i * 2L)).toDF("k", "v")
      .repartition(3), in + "_g1")
    AvroIo.toAvro((501 to 1000).map(i => (i.toLong, s"s$i")).toDF("k", "t")
      .repartition(3), in + "_g2")
    val d = new java.io.File(in); d.mkdirs()
    def move(from: String, tag: String): Unit =
      new java.io.File(from).listFiles().filter(_.getName.endsWith(".avro"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(d, s"$tag-$i.avro").toPath): Unit
        }
    move(in + "_g1", "gen1")
    move(in + "_g2", "gen2")
    val pre = AvroIo.readAvro(s, in).orderBy("k").collect().toSeq
    val preDrift = AvroIo.avroSchemaDrift(s, in).orderBy("column").collect().toSeq
    // huge target -> exactly one file PER GENERATION, never one total
    assert(AvroIo.compactAvro(s, in, out, targetBytes = 1L << 30) == 2)
    assert(AvroIo.readAvro(s, out).orderBy("k").collect().toSeq == pre)
    // the generation ledger is unchanged by compaction
    assert(AvroIo.avroSchemaDrift(s, out).orderBy("column").collect().toSeq
      == preDrift)
    // tiny target -> one output per input file (each bin holds >= 1)
    val out2 = tmp()
    assert(AvroIo.compactAvro(s, in, out2, targetBytes = 1L) == 6)
    assert(AvroIo.readAvro(s, out2).orderBy("k").collect().toSeq == pre)
    // guards — the self-rewrite check compares QUALIFIED paths, so
    // equivalent spellings (trailing slash, file: scheme) are caught
    intercept[IllegalArgumentException](AvroIo.compactAvro(s, in, in))
    intercept[IllegalArgumentException](AvroIo.compactAvro(s, in, in + "/"))
    intercept[IllegalArgumentException](AvroIo.compactAvro(s, in, "file:" + in))
    intercept[IllegalArgumentException](
      AvroIo.compactAvro(s, tmp(), out, targetBytes = 0L))
  }

  test("readAvro resolves later files BY NAME: reordered fields decode correctly") {
    val s = spark
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = Files.createTempDirectory("graft-avro-reorder")
    val s1 = SchemaBuilder.record("r").fields()
      .requiredInt("a").requiredString("b").endRecord()
    val s2 = SchemaBuilder.record("r").fields()
      .requiredString("b").requiredInt("a").endRecord() // same fields, swapped
    def write(name: String, sch: org.apache.avro.Schema, a: Int, b: String): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
      w.create(sch, dir.resolve(name).toFile)
      val rec = new GenericData.Record(sch); rec.put("a", a); rec.put("b", b)
      w.append(rec); w.close()
    }
    write("0.avro", s1, 1, "x")
    write("1.avro", s2, 2, "y") // positional decode would land y in column a
    val got = AvroIo.readAvro(s, dir.toString).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1, "x"), (2, "y")))
  }

  test("readAvro: schema from the writer's embedded schema, wide-union rejected") {
    val s = spark
    import s.implicits._
    // hand-write a file whose field is a [null,int,string] union
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val sch = SchemaBuilder.record("r").fields()
      .name("x").`type`(Schema.createUnion(
        java.util.Arrays.asList(Schema.create(Schema.Type.NULL),
          Schema.create(Schema.Type.INT), Schema.create(Schema.Type.STRING))))
      .noDefault().endRecord()
    val dir = Files.createTempDirectory("graft-avro-union")
    val f = dir.resolve("u.avro").toFile
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, f)
    val rec = new GenericData.Record(sch); rec.put("x", 1)
    w.append(rec); w.close()
    val e = intercept[IllegalArgumentException](AvroIo.readAvro(s, f.toString))
    assert(e.getMessage.contains("unsupported union"))
  }

  test("limit pushdown: per-task decode cap, limit preserved above the scan") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    AvroIo.toAvro((1 to 900).map(i => (i, s"row-$i")).toDF("n", "p")
      .repartition(3), dir, codec = None)
    val limited = AvroIo.readAvro(s, dir).limit(5)
    val scans = graft.plans.PlanLint.physicalPlan(limited).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.head.scan.description().contains("PushedLimit=5"))
    // Spark's own limit stays above the scan (pushLimit returns false),
    // so the cap is an early-termination saving, never a row-count change
    assert(limited.count() == 5L)
    assert(AvroIo.readAvro(s, dir).limit(5000).count() == 900L)
    // a filter between limit and scan blocks the limit pushdown (the
    // residual sieve must see every decoded row), while the filter
    // itself still pushes
    val both = AvroIo.readAvro(s, dir).filter($"n" > 100).limit(5)
    val d = graft.plans.PlanLint.physicalPlan(both).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.description()
    assert(d.contains("PushedFilters=[") && !d.contains("PushedLimit"))
    assert(both.count() == 5L)
  }

  test("filter pushdown: every pushed shape differentials against in-memory eval") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp()
    // every edge the decode-time evaluator must reproduce exactly:
    // nulls (Kleene), NaN / -0.0 (nan-safe compare), a supplementary-
    // plane string (UTF-8 byte order ≠ UTF-16 compareTo), decimal,
    // timestamp, boolean
    val base = Seq(
      (1, Option(1.5), Option("apple"), Option(true)),
      (2, Option(Double.NaN), Option("�-replacement"), Option(false)),
      (3, None, None, None),
      (4, Option(-0.0), Option("😀-emoji"), Option(true)),
      (5, Option(0.0), Option(""), Option(false)),
      (6, Option(5.0), Option("apricot"), Option(true)))
      .toDF("i", "d", "st", "b")
      .withColumn("dec", when(col("i") =!= 3,
        (col("i") + lit(0.25)).cast("decimal(10,2)")))
      .withColumn("ts", when(col("i") =!= 3,
        timestamp_micros(col("i").cast("long") * 1000000L)))
    AvroIo.toAvro(base.repartition(2), dir, codec = None)
    val avro = AvroIo.readAvro(s, dir)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select("i").collect().map(_.getInt(0)).sorted.toSeq
    val preds: Seq[org.apache.spark.sql.Column] = Seq(
      col("i") > 2, col("i") <= 4, col("i") === 3,
      col("d") > 1.0,                       // NaN > 1.0 is TRUE in Spark
      col("d") <= 0.0,                      // -0.0 == 0.0: both rows
      col("d") === Double.NaN,              // NaN = NaN is TRUE in Spark
      !(col("d") > 1.0),                    // Not over NaN/null rows
      col("d").isNull, col("d").isNotNull,
      col("st") > "�",                 // byte order: emoji row qualifies
      col("st").startsWith("ap"), col("st").contains("-"),
      col("st").endsWith("emoji"), col("st") === "",
      col("st").isin("apple", "apricot"),
      col("b") === true,
      col("dec") > java.math.BigDecimal.valueOf(3.25),
      col("ts") >= java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(4L)),
      col("i") > 1 && (col("d") > 2.0 || col("st") < "b"),
      col("i") <=> 3)
    preds.foreach { p =>
      assert(canon(avro.filter(p)) == canon(base.filter(p)),
        s"pushdown differential diverged for predicate $p")
    }
    // the plan advertises the pushed conjuncts
    val scans = graft.plans.PlanLint.physicalPlan(avro.filter(col("i") > 2))
      .collect {
        case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => bs
      }
    assert(scans.head.scan.description().contains("PushedFilters=["))
  }
}
