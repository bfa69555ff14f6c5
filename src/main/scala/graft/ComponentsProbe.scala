package graft

import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup}
import graft.sources.PsIO

/** Connected-components scale probe (SCALEPROBE.md round-7 section):
  * (1) the real path — minhash pairs on the ×`dup` duplicated corpus →
  * cluster labels, pair co-labeling checked; (2) a synthetic random
  * graph at ×1 / ×10 edge count to show per-round cost scales with E and
  * the convergence round count stays at the component diameter, not |V|.
  *
  * {{{ sbt "runMain graft.ComponentsProbe [sfDir] [dup]" }}}
  */
object ComponentsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dup = if (args.length > 1) args(1).toInt else 10
    val spark = Session.local(32, "graft-components-probe")

    def time[T](label: String)(thunk: => T): T = {
      val t0 = System.nanoTime()
      val r = thunk
      println(f"[cprobe] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // ---- real path: duplicated corpus -> pairs -> clusters -------------
    val base = PsIO.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs = (0 until dup).map { i =>
      base.select((col("doc_id") * dup + i).as("doc_id"), col("text"))
    }.reduce(_ union _).cache()
    println(s"[cprobe] corpus: ${docs.count()} docs")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text").cache()
    println(s"[cprobe] minhash pairs: ${pairs.count()}")

    val labels = time("clusterLabels") {
      Components.clusterLabels(pairs).localCheckpoint()
    }
    val nClusters = labels.select("label").distinct().count()
    // every pair co-labeled = the dedup-correctness property
    val split = pairs.select(col("a_id").as("node"), col("b_id"))
      .join(labels, "node").withColumnRenamed("label", "la")
      .select(col("b_id").as("node"), col("la"))
      .join(labels, "node")
      .filter(col("la") =!= col("label")).count()
    println(s"[cprobe] clusters=$nClusters split pairs=$split")

    // ---- synthetic graph: per-round cost vs edge count -----------------
    // E random edges over V nodes (E = 2V): supercritical regime — one
    // giant component with O(log V) diameter, the worst realistic shape
    // for label propagation (dup clusters are far shallower)
    def randomGraph(v: Long) = spark.range(2 * v).select(
      pmod(xxhash64(col("id"), lit(1)), lit(v)).as("a_id"),
      pmod(xxhash64(col("id"), lit(2)), lit(v)).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .localCheckpoint()
    for (v <- Seq(100000L, 1000000L)) {
      val g = randomGraph(v)
      println(s"[cprobe] synthetic graph: V=$v E=${g.count()}")
      time(s"components V=$v") {
        val comps = Components.clusterLabels(g).select("label").distinct().count()
        println(s"[cprobe]   components=$comps")
      }
    }
    spark.stop()
  }
}
