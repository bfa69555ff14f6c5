package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup}
import graft.sources.PsIO

/** Absolute-scale dedup run (round-14 ask): the ×N probes grow from
  * small bases and report exponents; a capacity planner also needs one
  * committed run at a large ABSOLUTE size with the raw numbers — wall,
  * shuffle bytes, candidate volumes — for the full near-dup pipeline:
  * minhashLsh → clusterLabels → decontaminate.
  *
  * Corpus: 1M documents (sf0.1's 5k docs ×200 under fresh doc_ids,
  * every copy's tokens suffixed `_i` — the honest recipe from the ×100
  * probe: cross-copy texts share no 3-shingles, so near-dup density
  * per copy stays sf0.1's and the probe measures "same profile, 200×
  * volume", not verbatim-duplication blowup). Built with ONE
  * explode(sequence(0,199)) fan-out over one scan — not an N-way
  * union — written to parquet and read back so every stage runs the
  * real scan shape.
  *
  * {{{ SPARK_DRIVER_MEM=48g sbt "runMain graft.MillionDocProbe [sfDir] [copies]" }}}
  */
object MillionDocProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 200
    val spark = Session.local(32, "graft-million-doc-probe")
    // 1M docs -> pair stages spill less with 2x parts
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })

    case class Meas(secs: Double, shuffleMb: Double, result: Long)
    val out = scala.collection.mutable.LinkedHashMap[String, Meas]()
    def measure(label: String)(thunk: => Long): Meas = {
      shuffleWritten.set(0L)
      val t0 = System.nanoTime()
      val r = thunk
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener drain, after the clock stops
      val m = Meas(secs, shuffleWritten.get / 1e6, r)
      out(label) = m
      println(f"[1M] $label%-24s ${m.secs}%8.1f s ${m.shuffleMb}%10.1f MB shuffled, result=${m.result}")
      m
    }

    val base = java.nio.file.Files.createTempDirectory("graft-1m").toString
    val corpus = s"$base/corpus"
    measure("corpus build+write") {
      val docs = PsIO.parquet(spark, s"$sfDir/documents.parquet")
      docs
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), explode(sequence(lit(0), lit(copies - 1))).as("copy"))
        .select((col("doc_id") * copies + col("copy")).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("copy"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(corpus)
      PsIO.parquet(spark, corpus).count()
    }
    val corpusBytes = {
      val d = new java.io.File(corpus)
      d.listFiles().filter(_.isFile).map(_.length).sum
    }
    println(f"[1M] corpus on disk: ${corpusBytes / 1e6}%.1f MB")

    val c = PsIO.parquet(spark, corpus)

    // LSH candidate volume BEFORE any verify work — the pair-join
    // fan-out, Σ C(|bucket|,2) over (band, bucket) groups
    measure("lsh candidate volume") {
      Dedup.lshBandBuckets(c, "doc_id", "text")
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)))
        .head().getLong(0) / 2
    }

    // verified near-dup pairs (banded join + exact-Jaccard confirm)
    val pairsPath = s"$base/pairs"
    measure("minhashLsh pairs") {
      Dedup.minhashLsh(c, "doc_id", "text")
        .write.mode("overwrite").parquet(pairsPath)
      PsIO.parquet(spark, pairsPath).count()
    }
    val pairs = PsIO.parquet(spark, pairsPath)

    // duplicate clusters over the verified pairs
    measure("clusterLabels") {
      Components.clusterLabels(pairs).select("label").distinct().count()
    }

    // cross-corpus decontamination: hash-split 80/20 (the ×100 probe's
    // copy-aligned caveat does not bite: hash(doc_id) mixes copies)
    measure("decontaminate 80/20") {
      val train = c.filter(pmod(hash(col("doc_id")), lit(5)) =!= 0)
      val eval = c.filter(pmod(hash(col("doc_id")), lit(5)) === 0)
      Dedup.decontaminate(train, eval, "doc_id", "text",
        k = 3, threshold = 0.6, maxDf = Some(1000)).count()
    }

    // one machine-readable line for the SCALEPROBE record
    def j(s: String) = "\"" + s + "\""
    val cells = out.map { case (k, m) =>
      s"${j(k)}:{" + f""""secs":${m.secs}%.1f,"shuffle_mb":${m.shuffleMb}%.1f,"result":${m.result}}"""
    }.mkString(",")
    val docsMeasured = out("corpus build+write").result
    val line = s"""{"probe":"million_doc","docs":$docsMeasured,"copies":$copies,""" +
      s""""corpus_mb":${corpusBytes / 1000000},"sf":${j(sfDir)},$cells}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "probe_1m.json")), line + "\n")
    spark.stop()
  }
}
