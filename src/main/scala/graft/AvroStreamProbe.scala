package graft

import graft.sources.PsIO

/** Streaming Avro source scale probe: what does the micro-batch face
  * cost over the one-shot batch read, and how does admission control
  * shape a backlogged zone's drain?
  *
  *  1. backlog drain: a zone of `files` container files consumed by
  *     ONE readAvroStream query (processAllAvailable, noop foreachBatch
  *     forcing) vs the batch readAvro of the same zone — the delta is
  *     the streaming machinery's overhead (per-trigger listing, batch
  *     logs, per-batch header jobs, micro-batch planning);
  *  2. admission control: the same drain at maxFilesPerTrigger
  *     bounds — many small batches pay the per-trigger floor more
  *     often, the price of bounded batch sizes on a backlog;
  *  3. steady state: per-trigger wall for one new file against an
  *     already-drained zone (the monitoring cadence that matters in
  *     production — it must be file-proportional, not zone-
  *     proportional);
  *  4. restart cost after one logged batch PER FILE, with the
  *     metadata-log roll-up on vs off — restart wall must stay flat
  *     in the stream's trigger count (one snapshot + bounded tail),
  *     not grow with every batch ever run.
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.AvroStreamProbe" }}}
  */
object AvroStreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(32, "graft-avro-stream-probe")
    import org.apache.spark.sql.functions.col

    val zone = s"${ExtQueries.FixtureRoot}/avro_stream_probe_zone"
    val rep = sys.env.getOrElse("SPARK_GRAFT_AVRO_PROBE_REP", "4").toInt
    val files = sys.env.getOrElse("SPARK_GRAFT_AVRO_PROBE_FILES", "128").toInt
    val li = PsIO.parquet(spark, s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
    graft.sources.AvroIo.toAvro(
      Seq.fill(rep)(li).reduce(_ unionAll _).repartition(files), zone,
      codec = None)
    val zoneMb = new java.io.File(zone).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.length()).sum / 1e6
    println(f"[streamprobe] zone files=$files total=$zoneMb%.1f MB rep=$rep")

    def drain(label: String, maxFiles: Option[Int]): Double = {
      val ck = java.nio.file.Files
        .createTempDirectory("graft-stream-probe-ck").toString
      val t0 = System.nanoTime()
      val q = graft.sources.AvroIo
        .readAvroStream(spark, zone, maxFilesPerTrigger = maxFiles)
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          BenchForce.force(df)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[streamprobe] $label%-34s $sec%6.2f s")
      sec
    }

    // batch reference (min of 3, same forcing)
    val batch = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      BenchForce.force(graft.sources.AvroIo.readAvro(spark, zone))
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"[streamprobe] ${"batch readAvro (one shot)"}%-34s $batch%6.2f s")

    val oneBatch = drain("stream drain (one micro-batch)", None)
    val capped16 = drain("stream drain (16 files/trigger)", Some(16))

    // steady state: one new file against the drained zone
    val ck = java.nio.file.Files
      .createTempDirectory("graft-stream-probe-ck").toString
    val q = graft.sources.AvroIo.readAvroStream(spark, zone)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        BenchForce.force(df)
      }
      .start()
    val steady = try {
      q.processAllAvailable() // drain the backlog first
      graft.sources.AvroIo.toAvro(
        li.filter(col("l_orderkey") < 1000).coalesce(1),
        zone + "_one", codec = None)
      val f = new java.io.File(zone + "_one").listFiles()
        .filter(_.getName.endsWith(".avro")).head
      // land the file ATOMICALLY (dot-name copy, then rename) and only
      // AFTER the timer starts: a continuously-triggering query could
      // otherwise list a half-copied file, or fully process the file
      // before t0 and time a no-op
      val hidden = java.nio.file.Paths.get(zone, ".late-arrival.avro.staged")
      java.nio.file.Files.copy(f.toPath, hidden)
      val t0 = System.nanoTime()
      java.nio.file.Files.move(hidden,
        java.nio.file.Paths.get(zone, "late-arrival.avro"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    } finally q.stop()
    println(f"[streamprobe] ${"steady state: one late file"}%-34s $steady%6.2f s")

    // 4. restart cost vs logged-batch count: drain ONE file per
    //    trigger so the checkpoint logs `files` batches, then time a
    //    cold restart (constructor log replay + one no-new-data poll).
    //    With roll-up (default interval) the restart reads one
    //    snapshot + a bounded tail; with compaction disabled it opens
    //    one log file per batch ever run — the operational-horizon
    //    divergence this leg exists to keep flat. Min-of-3 restarts
    //    (host co-tenant stalls).
    def restartCost(label: String, interval: Int): Double = {
      val ck = java.nio.file.Files
        .createTempDirectory("graft-stream-probe-ck").toString
      def start() = graft.sources.AvroIo
        .readAvroStream(spark, zone, maxFilesPerTrigger = Some(1),
          logCompactInterval = interval)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          BenchForce.force(df)
        }
        .start()
      val q = start()
      try q.processAllAvailable() finally q.stop()
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[streamprobe] $label%-34s $sec%6.2f s")
      sec
    }
    val restartCompacted = restartCost(
      s"restart after $files batches (rolled up)", 10)
    val restartRaw = restartCost(
      s"restart after $files batches (no roll-up)", 0)

    // 5. lake promotion: the two-query exactly-once variant decodes
    //    the zone once PER SINK. The leg runs on a DEFLATE zone (what
    //    sinks actually land — decode + inflate is the dominant cost
    //    there, unlike the null-codec splits zone above).
    def tmpd(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val zoneZ = s"${ExtQueries.FixtureRoot}/avro_stream_probe_zone_deflate"
    graft.sources.AvroIo.toAvro(
      Seq.fill(rep * 2)(li).reduce(_ unionAll _).repartition(16), zoneZ,
      codec = Some("deflate"))
    val rules = Seq(graft.operators.Checks.NotNull("l_orderkey"))
    def promoteLeg(label: String)(run: () => Unit): Double = {
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[streamprobe] $label%-34s $sec%6.2f s")
      sec
    }
    val promoteTwo = promoteLeg("lake promote (two queries)") { () =>
      val (qL, qQ) = graft.streaming.StreamingOps.streamingLakePromote(
        graft.sources.AvroIo.readAvroStream(spark, zoneZ), rules,
        tmpd("graft-probe-lake") + "/lake", tmpd("graft-probe-quar") + "/quar",
        Seq("l_returnflag"), tmpd("graft-probe-ck"))
      try { qL.processAllAvailable(); qQ.processAllAvailable() }
      finally { qL.stop(); qQ.stop() }
    }

    println(f"""{"metric":"avro_stream_probe","zone_mb":$zoneMb%.1f,""" +
      f""""files":$files,"batch_s":$batch%.2f,"drain_s":$oneBatch%.2f,""" +
      f""""drain_capped16_s":$capped16%.2f,""" +
      f""""stream_overhead":${oneBatch / batch}%.2f,""" +
      f""""steady_one_file_s":$steady%.2f,""" +
      f""""restart_compacted_s":$restartCompacted%.2f,""" +
      f""""restart_raw_s":$restartRaw%.2f,""" +
      f""""promote_two_queries_s":$promoteTwo%.2f}""")
    spark.stop()
  }
}
