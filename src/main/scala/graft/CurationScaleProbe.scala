package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Sampling, Snapshot}
import graft.sources.PsIO

/** ×N scale probe for the round-11 curation operators (budget
  * selection, MERGE/upsert, corpus profiling, shard shuffle, JSONL
  * quarantine ingestion). Every one of these is scan-and-shuffle work
  * with no candidate generation, so the expected growth exponent is ~1
  * (or below it while fixed costs dominate) — the probe exists to
  * catch a regression that sneaks in something super-linear (an
  * accidental global window, a re-executed subtree), the same role the
  * dedup/ANN probes play for their families.
  *
  * {{{ sbt "runMain graft.CurationScaleProbe [sfDir] [dupFactor]" }}}
  */
object CurationScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dup = if (args.length > 1) args(1).toInt else 10
    val spark = Session.local(32, "graft-curation-scale-probe")

    val docs = PsIO.parquet(spark, s"$sfDir/documents.parquet")

    def corpusAt(f: Int): DataFrame =
      (0 until f).map { i =>
        docs.select((col("doc_id") * f + i).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _).cache()

    def runAt(f: Int): (Long, Map[String, Double]) = {
      val c = corpusAt(f)
      val n = c.count()
      var times = Map.empty[String, Double]
      def time[T](label: String)(thunk: => T): T = {
        val t0 = System.nanoTime()
        val r = thunk
        times += label -> (System.nanoTime() - t0) / 1e9
        r
      }
      val withToks = c.withColumn("toks",
        TextAnalysis.tokenCount(col("text")).cast("long"))
      val totalToks = withToks.agg(sum("toks")).head().getLong(0)

      time("profile") {
        withToks.groupBy("lang").agg(count(lit(1)), sum("toks"),
          countDistinct("source")).count()
      }
      time("selectByBudget (20%)") {
        Sampling.selectByBudget(withToks, "n_chars", "doc_id", "toks",
          budget = totalToks / 5).count()
      }
      time("applyChanges (10% batch)") {
        val changes = c.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1)
          .withColumn("del", col("doc_id") % 30 === 0)
        Snapshot.applyChanges(c, changes, Seq("doc_id"), "del").count()
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft-cprobe").toString
      time("writeShuffled (8 shards)") {
        PsIO.writeShuffled(c.select("doc_id", "n_chars"),
          s"$tmp/shuf", "doc_id", seed = 42L, shards = 8)
      }
      time("jsonl write") {
        PsIO.toJson(c.select("doc_id", "text", "lang"), s"$tmp/jsonl")
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))
      time("quarantine read (schema'd)") {
        val q = PsIO.readJsonQuarantine(spark, s"$tmp/jsonl", Some(schema)).df
        PsIO.jsonGood(q).count()
      }
      c.unpersist(blocking = false)
      (n, times)
    }

    println(s"[curprobe] scales x1 and x$dup over $sfDir documents")
    val (n1, t1) = runAt(1)
    val (nN, tN) = runAt(dup)
    println(f"[curprobe] ${"op"}%-26s ${"x1 s"}%8s ${s"x$dup s"}%8s  exponent")
    t1.keys.toSeq.sorted.foreach { k =>
      val e = math.log(tN(k) / t1(k)) / math.log(nN.toDouble / n1)
      println(f"[curprobe] $k%-26s ${t1(k)}%8.2f ${tN(k)}%8.2f  ${e}%5.2f")
    }
    spark.stop()
  }
}
