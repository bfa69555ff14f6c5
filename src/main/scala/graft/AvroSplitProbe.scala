package graft

import org.apache.spark.sql.functions._
import graft.sources.PsIO

/** Avro read-path scale probe: measures what the round-15 read
  * machinery actually buys on a single FAT container file — the layout
  * a Kafka-connect sink or a naive one-partition export leaves behind.
  *
  *  1. split parallelism: one ~hundreds-of-MB file read as ONE task
  *     (maxSplitBytes = file length) vs sync-marker sub-file splits at
  *     the 32 MB default-ish size — wall ratio should approach the
  *     core count the file spans, because Avro decode is CPU-bound;
  *  2. projection pushdown: full-schema decode vs a 2-of-6-column
  *     reader schema (resolving decoder SKIPS the other fields' bytes)
  *     on the same splits.
  *
  * Forcing is the noop DSv2 sink (BenchForce) so every decoded column
  * is materialized, same as the bench protocol.
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.AvroSplitProbe" }}}
  */
object AvroSplitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(32, "graft-avro-split-probe")

    val dir = s"${ExtQueries.FixtureRoot}/avro_split_probe"
    // ONE container file, hundreds of MB: lineitem replicated `rep`
    // times (null codec: the probe measures decode + split mechanics,
    // not inflate). rep=6 -> ~3.6M rows, ~450 MB raw Avro.
    val rep = sys.env.getOrElse("SPARK_GRAFT_AVRO_PROBE_REP", "6").toInt
    val li = PsIO.parquet(spark, s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
    graft.sources.AvroIo.toAvro(
      Seq.fill(rep)(li).reduce(_ unionAll _).coalesce(1), dir, codec = None)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    println(f"[avroprobe] file=${f.getName} bytes=${f.length()}%,d rep=$rep")

    def timed(label: String)(df: => org.apache.spark.sql.DataFrame): Double = {
      BenchForce.force(df) // warm-up (header cache, JIT)
      // min of 3: a single co-tenant stall (observed: one 11x outlier
      // run) must not become the recorded number
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        BenchForce.force(df)
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[avroprobe] $label%-28s $sec%6.2f s  " +
        f"partitions=${df.rdd.getNumPartitions}%d")
      sec
    }

    val oneTask = timed("one-task (no splits)")(
      graft.sources.AvroIo.readAvro(spark, dir, maxSplitBytes = Some(f.length())))
    val split = timed("sub-file splits (32 MB)")(
      graft.sources.AvroIo.readAvro(spark, dir, maxSplitBytes = Some(32L << 20)))
    val projected = timed("splits + 2-col projection")(
      graft.sources.AvroIo.readAvro(spark, dir, maxSplitBytes = Some(32L << 20),
        columns = Some(Seq("l_orderkey", "l_quantity"))))

    // 3. filter pushdown (round 16): a ~2%-selective raw predicate —
    //    pushed, the decode-time skip drops rejected rows BEFORE
    //    Catalyst materialization; restated as a computed expression
    //    (abs defeats source-filter translation), the same rows decode,
    //    materialize, AND convert, then die in the Filter. The delta is
    //    what the row skip buys; decode CPU itself is identical.
    val pushed = timed("splits + pushed filter ~2%")(
      graft.sources.AvroIo.readAvro(spark, dir, maxSplitBytes = Some(32L << 20))
        .filter(col("l_quantity") > 49.0))
    val unpushed = timed("splits + unpushed filter ~2%")(
      graft.sources.AvroIo.readAvro(spark, dir, maxSplitBytes = Some(32L << 20))
        .filter(abs(col("l_quantity")) > 49.0))

    println(f"""{"metric":"avro_split_probe","file_mb":${f.length() / 1e6}%.1f,""" +
      f""""one_task_s":$oneTask%.2f,"split_s":$split%.2f,""" +
      f""""split_speedup":${oneTask / split}%.2f,""" +
      f""""projected_s":$projected%.2f,""" +
      f""""projection_speedup":${split / projected}%.2f,""" +
      f""""pushed_filter_s":$pushed%.2f,"unpushed_filter_s":$unpushed%.2f,""" +
      f""""filter_skip_speedup":${unpushed / pushed}%.2f}""")
    spark.stop()
  }
}
