package graft

import graft.sources.PsIO

/** Avro compaction scale probe: what does zero-decode block copy buy
  * over the naive decode-rewrite on the many-small-files layout a
  * Kafka-connect sink leaves behind?
  *
  *  1. maintenance cost: [[graft.sources.AvroIo.compactAvro]] (block
  *     copy via appendAllFrom, one task per output bin) vs the decode
  *     rewrite (readAvro → toAvro at the same output granularity) on
  *     the SAME input directory — the copy should win by roughly the
  *     decode+encode CPU, which is the whole point of the operator;
  *  2. read cost before vs after: per-file scheduling floors and
  *     header reads on the fragmented layout vs sync-marker splits on
  *     the compacted one (both forced through the noop DSv2 sink).
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.AvroCompactProbe" }}}
  */
object AvroCompactProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(32, "graft-avro-compact-probe")

    val in = s"${ExtQueries.FixtureRoot}/avro_compact_probe_in"
    val outCopy = s"${ExtQueries.FixtureRoot}/avro_compact_probe_copy"
    val outRewrite = s"${ExtQueries.FixtureRoot}/avro_compact_probe_rewrite"
    // the fragmented landing zone: lineitem replicated `rep` times,
    // scattered across `files` small container files (null codec: the
    // probe measures decode/copy mechanics, not inflate)
    val rep = sys.env.getOrElse("SPARK_GRAFT_AVRO_PROBE_REP", "4").toInt
    val files = sys.env.getOrElse("SPARK_GRAFT_AVRO_PROBE_FILES", "64").toInt
    val li = PsIO.parquet(spark, s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
    graft.sources.AvroIo.toAvro(
      Seq.fill(rep)(li).reduce(_ unionAll _).repartition(files), in,
      codec = None)
    val inList = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".avro"))
    val totalMb = inList.map(_.length()).sum / 1e6
    println(f"[compactprobe] input files=${inList.length} total=$totalMb%.1f MB")
    val target = (inList.map(_.length()).sum / 4).max(1L) // aim ~4 outputs

    def timed(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[compactprobe] $label%-34s $sec%6.2f s")
      sec
    }

    // warm the header cache / JIT on a throwaway read
    BenchForce.force(graft.sources.AvroIo.readAvro(spark, in))

    val copyS = timed("compactAvro (block copy)")(
      graft.sources.AvroIo.compactAvro(spark, in, outCopy, target): Unit)
    val rewriteS = timed("decode-rewrite (read -> toAvro)")(
      graft.sources.AvroIo.toAvro(
        graft.sources.AvroIo.readAvro(spark, in)
          .coalesce(new java.io.File(outCopy).listFiles()
            .count(_.getName.endsWith(".avro"))),
        outRewrite, codec = None))

    val readFragS = timed("read fragmented (per-file tasks)")(
      BenchForce.force(graft.sources.AvroIo.readAvro(spark, in)))
    val readCompS = timed("read compacted (sync splits)")(
      BenchForce.force(graft.sources.AvroIo.readAvro(spark, outCopy)))

    val nOut = new java.io.File(outCopy).listFiles()
      .count(_.getName.endsWith(".avro"))
    val rows = graft.sources.AvroIo.readAvro(spark, outCopy).count()
    val rowsIn = graft.sources.AvroIo.readAvro(spark, in).count()
    require(rows == rowsIn, s"row mismatch: $rows != $rowsIn")

    println(f"""{"metric":"avro_compact_probe","input_files":${inList.length},""" +
      f""""total_mb":$totalMb%.1f,"output_files":$nOut,""" +
      f""""copy_s":$copyS%.2f,"rewrite_s":$rewriteS%.2f,""" +
      f""""copy_speedup":${rewriteS / copyS}%.2f,""" +
      f""""read_frag_s":$readFragS%.2f,"read_compacted_s":$readCompS%.2f,""" +
      f""""rows":$rows}""")
    spark.stop()
  }
}
