package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.AvroIo

/** The streaming face of the Avro landing zone (AvroMicroBatchStream):
  * per-trigger file pickup, exactly-once across restarts via the
  * checkpointed batch log, generation evolution against the pinned
  * schema, maxFilesPerTrigger admission, and an empty zone started
  * from an explicit schema. */
class AvroStreamSpec extends AnyFunSuite with SparkFixture {

  /** Write `df` as ONE Avro container file named `name` inside `zone` —
    * the shape a Kafka-connect sink leaves behind, one new file per
    * flush. */
  private def landFile(df: DataFrame, zone: String, name: String): Unit = {
    val t = Files.createTempDirectory("graft-avro-gen").toString + "/w"
    AvroIo.toAvro(df.coalesce(1), t, codec = None)
    val f = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    new java.io.File(zone).mkdirs()
    Files.copy(f.toPath, java.nio.file.Paths.get(zone, name)): Unit
  }

  private def gen1(s: org.apache.spark.sql.SparkSession,
                   rows: Seq[(Int, String)]): DataFrame = {
    import s.implicits._
    rows.toDF("n", "t")
  }
  private def gen2(s: org.apache.spark.sql.SparkSession,
                   rows: Seq[(Long, String, Int)]): DataFrame = {
    import s.implicits._
    rows.toDF("n", "t", "x")
  }

  private def canon(df: DataFrame): Set[(Long, String, Option[Int])] =
    df.select(col("n").cast("long"), col("t"), col("x"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .toSet

  test("per-trigger pickup of new generation files == batch read of the zone") {
    val s = spark
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val out = Files.createTempDirectory("graft-avro-sink").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    // both generations present at start, so the pinned unified schema
    // is (n long — widened, t, x int — null-filled for gen1)
    landFile(gen1(s, Seq((1, "a"), (2, "b"))), zone, "g1-0.avro")
    landFile(gen2(s, Seq((100L, "c", 7))), zone, "g2-0.avro")
    val q = AvroIo.readAvroStream(s, zone)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // files from BOTH known generations keep arriving mid-stream;
      // each projects onto the pinned schema (null-fill + widen)
      landFile(gen1(s, Seq((3, "d"))), zone, "g1-1.avro")
      landFile(gen2(s, Seq((200L, "e", 9))), zone, "g2-1.avro")
      q.processAllAvailable()
    } finally stopStream(q)
    val streamed = canon(s.read.parquet(out))
    val batch = canon(AvroIo.readAvro(s, zone))
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.size == 5)
  }

  test("restart from checkpoint: uncommitted batches replay, no file read twice") {
    val s = spark
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val out = Files.createTempDirectory("graft-avro-sink").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    landFile(gen1(s, Seq((1, "a"))), zone, "g1-0.avro")
    landFile(gen2(s, Seq((100L, "b", 5))), zone, "g2-0.avro")
    def start() = AvroIo.readAvroStream(s, zone)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    var q = start()
    try {
      q.processAllAvailable()
      q.stop()
      // files land while the query is DOWN; the restarted query must
      // pick up exactly these (not re-read the committed ones)
      landFile(gen1(s, Seq((2, "c"))), zone, "g1-1.avro")
      q = start()
      q.processAllAvailable()
      landFile(gen2(s, Seq((200L, "d", 6))), zone, "g2-1.avro")
      q.processAllAvailable()
    } finally stopStream(q)
    val streamed = s.read.parquet(out)
    // exactly once: set equality with the batch read AND exact row count
    assert(canon(streamed) == canon(AvroIo.readAvro(s, zone)))
    assert(streamed.count() == 4L, "a file was dropped or read twice")
  }

  test("maxFilesPerTrigger bounds each micro-batch; rows exactly once") {
    val s = spark
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    (1 to 5).foreach(i =>
      landFile(gen1(s, Seq((i, s"r$i"))), zone, f"g1-$i%02d.avro"))
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Int]]()
    val q = AvroIo.readAvroStream(s, zone, maxFilesPerTrigger = Some(2))
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: DataFrame, id: Long) =>
        perBatch.put(id, df.select("n").collect().map(_.getInt(0)).toSeq): Unit
      }
      .start()
    try q.processAllAvailable() finally stopStream(q)
    import scala.jdk.CollectionConverters._
    val sizes = perBatch.values.asScala.map(_.size).toSeq.sorted
    // 5 files at <=2 per trigger: batches of 2,2,1 — never more than 2
    assert(sizes == Seq(1, 2, 2), s"batch sizes: $sizes")
    assert(perBatch.values.asScala.flatten.toSeq.sorted == (1 to 5),
      "admission control dropped or duplicated rows")
  }

  test("empty zone + explicit schema: stream starts before the writer exists") {
    val s = spark
    val root = Files.createTempDirectory("graft-avro-zone").toString
    val zone = s"$root/not-yet-created"
    val out = Files.createTempDirectory("graft-avro-sink").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    val pinned = StructType(Seq(
      StructField("n", IntegerType), StructField("t", StringType)))
    val q = AvroIo.readAvroStream(s, zone, schema = Some(pinned))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // no zone yet: zero batches, no failure
      landFile(gen1(s, Seq((1, "first"))), zone, "g1-0.avro")
      q.processAllAvailable()
    } finally stopStream(q)
    val got = s.read.parquet(out).collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "first")))
  }

  test("streamingLakePromote: dispositions == batch gate, layout is hive-partitioned") {
    val s = spark
    import graft.operators.Checks
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val lake = Files.createTempDirectory("graft-lake").toString + "/lake"
    val quar = Files.createTempDirectory("graft-lake").toString + "/quar"
    val ck = Files.createTempDirectory("graft-lake-ck").toString
    // gen2 rows carry x (the partition key is n there too); gate on
    // x NOT NULL so the gen1 generation (x null-filled) quarantines —
    // the q_pipeline_lake shape in miniature
    landFile(gen1(s, Seq((1, "a"), (2, "b"))), zone, "g1-0.avro")
    landFile(gen2(s, Seq((100L, "c", 7), (101L, "d", 7))), zone, "g2-0.avro")
    val (qL, qQ) = graft.streaming.StreamingOps.streamingLakePromote(
      AvroIo.readAvroStream(s, zone), Seq(Checks.NotNull("x")),
      lake, quar, Seq("x"), ck)
    try {
      qL.processAllAvailable(); qQ.processAllAvailable()
      // more files arrive on BOTH sides of the gate mid-promotion
      landFile(gen1(s, Seq((3, "e"))), zone, "g1-1.avro")
      landFile(gen2(s, Seq((200L, "f", 9))), zone, "g2-1.avro")
      qL.processAllAvailable(); qQ.processAllAvailable()
    } finally { stopStream(qL); stopStream(qQ) }
    // lake side: exactly the gen2 rows, physically under x=<val> dirs
    val lakeRows = s.read.parquet(lake)
    assert(lakeRows.collect().map(_.getAs[Long]("n")).sorted.toSeq ==
      Seq(100L, 101L, 200L))
    val dirs = new java.io.File(lake).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
    assert(dirs == Seq("x=7", "x=9"), s"hive layout missing: $dirs")
    // quarantine side: the gen1 rows, each carrying the violated rule
    val quarRows = s.read.parquet(quar).collect()
    assert(quarRows.map(_.getAs[Long]("n")).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(quarRows.forall(_.getAs[String]("reason") == "not_null_x"))
    // differential vs the batch gate over the same zone
    val batchFlagged = Checks.flag(AvroIo.readAvro(s, zone), Seq(Checks.NotNull("x")))
    assert(batchFlagged.filter(col("row_bad")).count() == 3L)
    assert(batchFlagged.filter(!col("row_bad")).count() == 3L)
  }

  test("streamingLakePromoteVersioned: one decode, dispositions == the two-query variant") {
    val s = spark
    import graft.operators.Checks
    import graft.sources.LakeVersions
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val lake = Files.createTempDirectory("graft-lake").toString + "/lake"
    val quar = Files.createTempDirectory("graft-lake").toString + "/quar"
    val ck = Files.createTempDirectory("graft-lake-ck").toString
    // the streamingLakePromote fixture verbatim — the differential is
    // that BOTH variants produce identical dispositions and layout
    landFile(gen1(s, Seq((1, "a"), (2, "b"))), zone, "g1-0.avro")
    landFile(gen2(s, Seq((100L, "c", 7), (101L, "d", 7))), zone, "g2-0.avro")
    def start() = graft.streaming.StreamingOps.streamingLakePromoteVersioned(
      AvroIo.readAvroStream(s, zone), Seq(Checks.NotNull("x")),
      lake, quar, Seq("x"), ck)
    var q = start()
    try {
      q.processAllAvailable()
      landFile(gen1(s, Seq((3, "e"))), zone, "g1-1.avro")
      landFile(gen2(s, Seq((200L, "f", 9))), zone, "g2-1.avro")
      q.processAllAvailable()
      // restart on the same checkpoint: committed batches must not
      // duplicate through the tag-idempotent version commits
      q.stop()
      q = start()
      q.processAllAvailable()
      landFile(gen2(s, Seq((300L, "g", 9))), zone, "g2-2.avro")
      q.processAllAvailable()
    } finally stopStream(q)
    val lakeRows = LakeVersions.read(s, lake)
    assert(lakeRows.collect().map(_.getAs[Long]("n")).sorted.toSeq ==
      Seq(100L, 101L, 200L, 300L))
    // hive layout: each version's files land under x=<val> dirs
    val dirs = new java.io.File(lake).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
    assert(dirs == Seq("x=7", "x=9"), s"hive layout missing: $dirs")
    val quarRows = LakeVersions.read(s, quar).collect()
    assert(quarRows.map(_.getAs[Long]("n")).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(quarRows.forall(_.getAs[String]("reason") == "not_null_x"))
    // a FRESH checkpoint re-promoting into fresh dirs cannot be fooled
    // by the old namespace's tags (ns derives from the checkpoint)
    val lake2 = Files.createTempDirectory("graft-lake").toString + "/lake2"
    val quar2 = Files.createTempDirectory("graft-lake").toString + "/quar2"
    val q2 = graft.streaming.StreamingOps.streamingLakePromoteVersioned(
      AvroIo.readAvroStream(s, zone), Seq(Checks.NotNull("x")),
      lake2, quar2, Seq("x"),
      Files.createTempDirectory("graft-lake-ck2").toString)
    try q2.processAllAvailable() finally stopStream(q2)
    assert(LakeVersions.read(s, lake2).count() == 4L)
    assert(LakeVersions.read(s, quar2).count() == 3L)
  }

  test("streaming sink: epochs land as deterministic container files, readAvro round-trips") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    val ck = Files.createTempDirectory("graft-avro-sink-ck").toString
    val input = MemoryStream[(Int, String)]
    val q = AvroIo.avroStreamWriter(
      input.toDF().toDF("n", "t"), zone, codec = None)
      .option("checkpointLocation", ck).start()
    try {
      input.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      input.addData((3, "c"))
      q.processAllAvailable()
    } finally stopStream(q)
    // the zone reads back as exactly the input, through the normal path
    val back = AvroIo.readAvro(s, zone).collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(back == Seq((1, "a"), (2, "b"), (3, "c")))
    // deterministic query-epoch-partition names, no attempt litter
    // (local-fs .crc checksum sidecars are dot-prefixed and
    // reader-invisible, like every dot file), and the per-query marker
    // log records each epoch
    val files = new java.io.File(zone).listFiles().filter(_.isFile).map(_.getName)
    assert(files.filterNot(_.startsWith("."))
      .forall(_.matches("part-q.+-e\\d+-p\\d{5}\\.avro")), files.mkString(","))
    assert(!files.exists(_.startsWith(".attempt")))
    val queryDirs = new java.io.File(zone, "_graft_commits").listFiles()
      .filter(_.isDirectory)
    assert(queryDirs.length == 1)
    val markers = queryDirs.head.listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(markers == Seq("0", "1"), s"markers: $markers")
  }

  test("two producers on one zone: fresh-checkpoint epochs never collide") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    // producer A commits ITS epoch 0, then stops for good
    val inputA = MemoryStream[(Int, String)]
    val qA = AvroIo.avroStreamWriter(inputA.toDF().toDF("n", "t"), zone,
        codec = None)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-avro-sink-ck").toString).start()
    try { inputA.addData((1, "a")); qA.processAllAvailable() } finally stopStream(qA)
    // producer B — a DIFFERENT query with a FRESH checkpoint — also
    // starts at epoch 0 on the same zone; without the query-id
    // namespace its epoch-0 commit would see A's marker and silently
    // discard B's rows (or delete A's committed file as "partial")
    val inputB = MemoryStream[(Int, String)]
    val qB = AvroIo.avroStreamWriter(inputB.toDF().toDF("n", "t"), zone,
        codec = None)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-avro-sink-ck").toString).start()
    try { inputB.addData((2, "b")); qB.processAllAvailable() } finally stopStream(qB)
    val back = AvroIo.readAvro(s, zone).collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(back == Seq((1, "a"), (2, "b")),
      s"producer epochs collided on the shared zone: $back")
  }

  test("uncommitted sink epochs are invisible to readers until their marker lands") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    val input = MemoryStream[(Int, String)]
    val q = AvroIo.avroStreamWriter(input.toDF().toDF("n", "t"), zone,
        codec = None)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-avro-sink-ck").toString).start()
    try { input.addData((1, "a"), (2, "b")); q.processAllAvailable() }
    finally stopStream(q)
    // simulate a crash mid-commit: the epoch's marker vanishes while
    // its part files remain — readers must treat those files as not
    // yet data (the sink's replay will delete and re-commit them)
    val qdir = new java.io.File(zone, "_graft_commits").listFiles()
      .filter(_.isDirectory).head
    qdir.listFiles().foreach(f => assert(f.delete()))
    val e = intercept[IllegalArgumentException](AvroIo.readAvro(s, zone))
    assert(e.getMessage.contains("no files"),
      s"reader saw an uncommitted epoch: ${e.getMessage}")
  }

  test("a committed sink file reads by its DIRECT path; vacuum sweeps abandoned litter") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    val input = MemoryStream[(Int, String)]
    val q = AvroIo.avroStreamWriter(input.toDF().toDF("n", "t"), zone,
        codec = None)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-avro-sink-ck").toString).start()
    try { input.addData((1, "a")); q.processAllAvailable() } finally stopStream(q)
    // the marker lookup must anchor at the file's PARENT for a direct
    // file path — a committed epoch file is a valid standalone read
    val part = new java.io.File(zone).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).head
    assert(AvroIo.readAvro(s, part.toString).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a")))
    // plant abandoned litter from a dead query id: an unmarked epoch
    // file and an orphaned attempt, both stale
    val deadPart = new java.io.File(zone, "part-qdead-e0-p00000.avro")
    val deadAttempt = new java.io.File(zone, ".attempt-qdead-e1-p00000-t3.avro")
    java.nio.file.Files.copy(part.toPath, deadPart.toPath)
    java.nio.file.Files.copy(part.toPath, deadAttempt.toPath)
    assert(deadPart.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(deadAttempt.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    // too young under a huge margin: nothing deleted
    assert(AvroIo.vacuumAvro(s, zone, olderThanMs = 7L * 24 * 3600 * 1000) == 0)
    // default 24h margin: exactly the two stale litter files go; the
    // committed file stays and still reads
    assert(AvroIo.vacuumAvro(s, zone) == 2)
    assert(!deadPart.exists() && !deadAttempt.exists())
    assert(AvroIo.readAvro(s, zone).count() == 1L)
  }

  /** The source's batch-log dir under a query checkpoint (the engine
    * nests it at `sources/<i>/`; found by name so the layout stays the
    * engine's business). */
  private def sourceLogDir(ck: String): java.io.File = {
    def walk(f: java.io.File): Option[java.io.File] =
      if (!f.isDirectory) None
      else if (f.getName == "graft-avro-files") Some(f)
      else f.listFiles().iterator.flatMap(walk(_)).nextOption()
    walk(new java.io.File(ck)).getOrElse(
      fail(s"no graft-avro-files log dir under $ck"))
  }

  test("metadata-log compaction: restart after 500 logged batches reads one snapshot + a bounded tail") {
    val s = spark
    import s.implicits._
    val zone = Files.createTempDirectory("graft-avro-zone").toString + "/zone"
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    // ~500 tiny container files from ONE write job (hash partitioning
    // leaves a few empty partitions; toAvro skips those)
    AvroIo.toAvro((1 to 2000).toDF("n").repartition(500), zone, codec = None)
    val nFiles = new java.io.File(zone).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".avro"))
    assert(nFiles >= 450, s"expected ~500 zone files, got $nFiles")
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val batchCount = new java.util.concurrent.atomic.AtomicLong()
    def start() = AvroIo.readAvroStream(s, zone, maxFilesPerTrigger = Some(1))
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows.addAndGet(df.count()); batchCount.incrementAndGet(): Unit
      }.start()
    var q = start()
    try q.processAllAvailable() finally stopStream(q)
    assert(batchCount.get() == nFiles, "one batch per file expected")
    assert(rows.get() == 2000L)
    // the log must be ONE snapshot plus a tail bounded by the compact
    // interval — not one file per batch ever logged
    val names = sourceLogDir(ck).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).toSeq
    val compacts = names.filter(_.endsWith(".compact"))
    val perBatch = names.flatMap(_.toLongOption)
    assert(compacts.size == 1, s"expected exactly one snapshot, got $names")
    assert(perBatch.size < 10,
      s"per-batch tail must be bounded by the compact interval: $names")
    val snapId = compacts.head.stripSuffix(".compact").toLong
    assert(perBatch.forall(_ > snapId), s"stale logs below the snapshot: $names")
    // restart rebuilds from the snapshot: a late file is picked up
    // exactly once and nothing replays
    q = start()
    try {
      q.processAllAvailable()
      assert(rows.get() == 2000L, "restart replayed a committed batch")
      landFile(gen1(s, Seq((9001, "late"), (9002, "late"))), zone, "late.avro")
      q.processAllAvailable()
    } finally stopStream(q)
    assert(batchCount.get() == nFiles + 1L)
    assert(rows.get() == 2002L, "late file dropped or read twice after restart")
  }

  test("maxFileAgeMs: files behind the horizon never ingest; roll-up purges aged entries") {
    val s = spark
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    val ageMs = 6000L
    // f1 is fresh enough to ingest (1 s behind now — 5 s of pickup
    // headroom against host stalls); fOld is far behind the horizon
    // and must never ingest
    landFile(gen1(s, Seq((1, "a"))), zone, "f1.avro")
    landFile(gen1(s, Seq((99, "old"))), zone, "f-old.avro")
    assert(new java.io.File(zone, "f1.avro")
      .setLastModified(System.currentTimeMillis() - 1000))
    assert(new java.io.File(zone, "f-old.avro")
      .setLastModified(System.currentTimeMillis() - 3600L * 1000))
    val seenRows = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = AvroIo.readAvroStream(s, zone, maxFileAgeMs = Some(ageMs),
        logCompactInterval = 2)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("n").collect().foreach(r => seenRows.add(r.getInt(0)): Unit)
      }.start()
    try {
      q.processAllAvailable()
      assert(seenRows.toArray.map(_.asInstanceOf[Int]).toSeq == Seq(1), s"horizon pickup: $seenRows")
      // age f1 past the horizon, then drive TWO more roll-up cycles
      // (interval 2 -> snapshots at ids 1 and 3): at the first, f1's
      // batch may still be replayable (the engine commits a batch
      // lazily, before constructing the next) so it is correctly
      // KEPT; by the second it is committed + aged -> purged from the
      // snapshot and from memory. The pickup filter keeps it out of
      // re-listing by the same cutoff.
      Thread.sleep(ageMs)
      landFile(gen1(s, Seq((2, "b"))), zone, "f2.avro")
      q.processAllAvailable()
      landFile(gen1(s, Seq((3, "c"))), zone, "f3.avro")
      q.processAllAvailable()
      landFile(gen1(s, Seq((4, "d"))), zone, "f4.avro")
      q.processAllAvailable()
    } finally stopStream(q)
    assert(seenRows.toArray.map(_.asInstanceOf[Int]).toSeq.sorted == Seq(1, 2, 3, 4),
      s"aged purge re-ingested or dropped rows: $seenRows")
    val logDir = sourceLogDir(ck)
    val compact = logDir.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".compact"))
      .maxBy(_.getName.stripSuffix(".compact").toLong)
    val text = new String(java.nio.file.Files.readAllBytes(compact.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!text.contains("f1.avro"),
      "aged-out seen entry survived the snapshot purge")
    assert(text.contains("f2.avro"))
  }

  test("sink marker roll-up: a high-water file subsumes per-epoch markers; vacuum drops dead dirs") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    val input = MemoryStream[(Int, String)]
    val q = AvroIo.avroStreamWriter(input.toDF().toDF("n", "t"), zone,
        codec = None, logCompactInterval = 3)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-avro-sink-ck").toString).start()
    try (0 until 7).foreach { i =>
      input.addData((i, s"r$i")); q.processAllAvailable()
    } finally stopStream(q)
    // epochs 0..6 at interval 3: roll-ups after epochs 2 and 5 — the
    // marker dir holds ONE high-water file plus only the tail markers
    // (the rolling epoch's OWN marker survives its roll-up so a replay
    // of it stays classifiable without the hw listing)
    val qdir = new java.io.File(zone, "_graft_commits").listFiles()
      .filter(_.isDirectory).head
    // the local fs leaves dot-prefixed .crc sidecars beside renamed
    // files — not markers, not listed by Hadoop
    val names = qdir.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).toSeq.sorted
    assert(names == Seq("5", "6", "hw-5"), s"marker roll-up left: $names")
    // every epoch still reads as committed through the high water
    assert(AvroIo.readAvro(s, zone).count() == 7L)
    assert(AvroIo.readAvro(s, zone).select("n").collect()
      .map(_.getInt(0)).sorted.toSeq == (0 until 7))
    // the query dies for good: its data files leave the zone (say a
    // compaction rewrote them elsewhere) and the markers age out —
    // vacuum drops the whole marker directory
    new java.io.File(zone).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .foreach(f => assert(f.delete()))
    qdir.listFiles().foreach(f =>
      assert(f.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)))
    assert(AvroIo.vacuumAvro(s, zone) == 3, "dead marker dir not swept")
    assert(!qdir.exists())
  }

  test("vacuum prunes markers a high-water file subsumes for a LIVE query") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    val input = MemoryStream[(Int, String)]
    // interval 0 disables the sink's own roll-up: epochs 0..4 leave
    // five bare markers
    val q = AvroIo.avroStreamWriter(input.toDF().toDF("n", "t"), zone,
        codec = None, logCompactInterval = 0)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-avro-sink-ck").toString).start()
    try (0 until 5).foreach { i =>
      input.addData((i, s"r$i")); q.processAllAvailable()
    } finally stopStream(q)
    val qdir = new java.io.File(zone, "_graft_commits").listFiles()
      .filter(_.isDirectory).head
    assert(qdir.listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".")) == 5)
    // an operator (or a sink that died mid-prune) left a high-water
    // file behind: vacuum finishes the job without touching data
    val hw = new java.io.File(qdir, "hw-3")
    assert(hw.createNewFile())
    assert(AvroIo.vacuumAvro(s, zone, olderThanMs = 0) == 4,
      "markers <= hw-3 (0,1,2,3) should be pruned")
    assert(qdir.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).toSeq.sorted == Seq("4", "hw-3"))
    assert(AvroIo.readAvro(s, zone).count() == 5L,
      "marker pruning must not un-commit data")
  }

  test("Trigger.AvailableNow + maxFilesPerTrigger drains the WHOLE backlog capped") {
    val s = spark
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    (1 to 5).foreach(i =>
      landFile(gen1(s, Seq((i, s"r$i"))), zone, f"g1-$i%02d.avro"))
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Int]]()
    val q = AvroIo.readAvroStream(s, zone, maxFilesPerTrigger = Some(2))
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        perBatch.put(id, df.select("n").collect().map(_.getInt(0)).toSeq): Unit
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow drain did not finish")
    import scala.jdk.CollectionConverters._
    val sizes = perBatch.values.asScala.map(_.size).toSeq.sorted
    assert(sizes == Seq(1, 2, 2),
      s"AvailableNow must drain the full backlog in capped batches: $sizes")
    assert(perBatch.values.asScala.flatten.toSeq.sorted == (1 to 5))
  }

  test("streaming sink restart: replayed epochs do not duplicate rows") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    val ck = Files.createTempDirectory("graft-avro-sink-ck").toString
    val input = MemoryStream[(Int, String)]
    def start() = AvroIo.avroStreamWriter(
      input.toDF().toDF("n", "t"), zone, codec = None)
      .option("checkpointLocation", ck).start()
    var q = start()
    try {
      input.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      q.stop()
      // rows arrive while the sink is DOWN; the restart replays from
      // offsets — exactly-once means no duplicate of epoch 0
      input.addData((3, "c"))
      q = start()
      q.processAllAvailable()
    } finally stopStream(q)
    val back = AvroIo.readAvro(s, zone).collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(back == Seq((1, "a"), (2, "b"), (3, "c")),
      s"duplicated or lost rows across restart: $back")
  }

  test("producer/consumer: one stream writes the zone, another reads it") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val zone = Files.createTempDirectory("graft-avro-sinkzone").toString + "/zone"
    val ckW = Files.createTempDirectory("graft-avro-sink-ck").toString
    val ckR = Files.createTempDirectory("graft-avro-read-ck").toString
    val input = MemoryStream[(Int, String)]
    val producer = AvroIo.avroStreamWriter(
      input.toDF().toDF("n", "t"), zone, codec = None)
      .option("checkpointLocation", ckW).start()
    try {
      input.addData((1, "a"), (2, "b"))
      producer.processAllAvailable() // zone now exists with epoch 0
      val consumer = AvroIo.readAvroStream(s, zone)
        .writeStream.format("memory").queryName("avro_rt_sink")
        .option("checkpointLocation", ckR).outputMode("append").start()
      try {
        consumer.processAllAvailable()
        input.addData((3, "c"))
        producer.processAllAvailable() // epoch 1 lands
        consumer.processAllAvailable() // picked up as a new micro-batch
        val got = s.table("avro_rt_sink").collect()
          .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
        assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
      } finally stopStream(consumer)
    } finally stopStream(producer)
  }

  test("end to end: producer sink -> landing zone -> continuous lake promotion") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.operators.Checks
    val zone = Files.createTempDirectory("graft-avro-e2e").toString + "/zone"
    val lake = Files.createTempDirectory("graft-avro-e2e").toString + "/lake"
    val quar = Files.createTempDirectory("graft-avro-e2e").toString + "/quar"
    // the whole continuous loop in one process: an upstream query
    // PRODUCES the landing zone through the exactly-once sink while a
    // downstream promotion CONSUMES it through the streaming source,
    // gates, and routes — no batch job anywhere
    val input = MemoryStream[(Long, String, Option[Int])]
    val producer = AvroIo.avroStreamWriter(
      input.toDF().toDF("n", "t", "x"), zone, codec = None)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-e2e-ck").toString).start()
    try {
      input.addData((1L, "a", Some(7)), (2L, "b", None))
      producer.processAllAvailable()
      val (qL, qQ) = graft.streaming.StreamingOps.streamingLakePromote(
        AvroIo.readAvroStream(s, zone), Seq(Checks.NotNull("x")),
        lake, quar, Seq("x"),
        Files.createTempDirectory("graft-e2e-ck").toString)
      try {
        qL.processAllAvailable(); qQ.processAllAvailable()
        input.addData((3L, "c", Some(9)), (4L, "d", None))
        producer.processAllAvailable()
        qL.processAllAvailable(); qQ.processAllAvailable()
      } finally { stopStream(qL); stopStream(qQ) }
    } finally stopStream(producer)
    assert(s.read.parquet(lake).collect().map(_.getAs[Long]("n")).sorted.toSeq ==
      Seq(1L, 3L), "gated rows missing from the continuously-promoted lake")
    val q = s.read.parquet(quar).collect()
    assert(q.map(_.getAs[Long]("n")).sorted.toSeq == Seq(2L, 4L))
    assert(q.forall(_.getAs[String]("reason") == "not_null_x"))
  }

  test("composition: streaming zone feeds the drift monitor; closed windows == batch bins") {
    val s = spark
    import s.implicits._
    import graft.operators.Drift
    import graft.streaming.StreamingOps
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    def hourFile(hour: Int, vals: Seq[Double], name: String): Unit =
      landFile(
        vals.zipWithIndex.map { case (v, i) => (hour * 3600L * 1000000L + i, v) }
          .toDF("us", "value")
          .select(timestamp_micros(col("us")).as("ts"), col("value")),
        zone, name)
    hourFile(0, Seq(1.0, 9.0, 2.0), "h0.avro")
    val batchSpec = Drift.resolve(
      AvroIo.readAvro(s, zone), Seq(Drift.NumericDim("value", Seq(5.0))))
    val exprs = Drift.exprsFromSpec(batchSpec)
    val q = StreamingOps.streamingDriftBins(
        AvroIo.readAvroStream(s, zone), exprs, "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("avro_drift_sink")
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      // a later file pushes the watermark past hour 0, closing it
      hourFile(2, Seq(7.0), "h2.avro")
      q.processAllAvailable()
    } finally stopStream(q)
    val streamed = s.table("avro_drift_sink")
      .select(unix_timestamp(col("window_start")).as("w"), col("column"),
        col("bin"), col("cur_n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    // batch face over the SAME zone (watermark is a no-op in batch),
    // restricted to the window the stream closed
    val batch = StreamingOps.streamingDriftBins(
        AvroIo.readAvro(s, zone), exprs, "1 hour", "0 seconds")
      .select(unix_timestamp(col("window_start")).as("w"), col("column"),
        col("bin"), col("cur_n"))
      .filter(col("w") === 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
  }

  test("pushed filters apply per micro-batch (same evaluator as batch)") {
    val s = spark
    val zone = Files.createTempDirectory("graft-avro-zone").toString
    val out = Files.createTempDirectory("graft-avro-sink").toString
    val ck = Files.createTempDirectory("graft-avro-ck").toString
    landFile(gen1(s, (1 to 10).map(i => (i, s"r$i"))), zone, "g1-0.avro")
    val q = AvroIo.readAvroStream(s, zone)
      .filter(col("n") > 7)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    try q.processAllAvailable() finally stopStream(q)
    assert(s.read.parquet(out).collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(8, 9, 10))
  }
}
