package graft

import org.apache.spark.sql.functions._

/** Distribution-drift scale probe: measures the PSI contingency +
  * report at ×10/×100 row volumes and records the two facts the 100 TB
  * plan depends on — wall grows ~linearly in rows (one scan per side),
  * and SHUFFLE volume does NOT grow with rows at all (map-side partial
  * aggregation caps it at O(partitions × Σbins)). The same listener
  * machinery as MillionDocProbe supplies the shuffle bytes.
  *
  * {{{ sbt "runMain graft.DriftScaleProbe" }}}
  */
object DriftScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(32, "graft-drift-scale-probe")

    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    })

    import graft.operators.Drift
    // synthetic two-snapshot corpus: a numeric column whose mass shifts
    // and a 1000-value categorical whose tail churns — the bin labels
    // exercise both dim kinds plus the y_other valve
    def snapshot(n: Long, shift: Double) = spark.range(n).select(
      (col("id") % 997).cast("double") * lit(shift) as "x",
      concat(lit("s"), (col("id") * 2654435761L % 1000).cast("string")) as "k")

    val dims: Seq[Drift.Dim] = Seq(
      Drift.NumericDim("x", (1 to 9).map(_ * 100.0)),
      Drift.CategoricalDim("k", top = 50))

    val results = Seq(1000000L, 10000000L, 100000000L).map { n =>
      val ref = snapshot(n, 1.0)
      val cur = snapshot(n, 1.1)
      val exprs = Drift.cellExprs(ref, dims) // eager top-set scan, untimed
      shuffleWritten.set(0)
      val t0 = System.nanoTime()
      val rep = Drift.reportFromContingency(Drift.binsWith(exprs, ref, cur))
        .collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val mb = shuffleWritten.get / 1e6
      println(f"[driftprobe] n=$n%11d  report=$sec%6.2f s  shuffle=$mb%8.2f MB" +
        f"  cols=${rep.length}  psi_bp(x)=${rep.find(_.getString(0) == "x").get.getLong(4)}")
      (n, sec, mb)
    }
    val (n1, s1, m1) = results.head
    val (n3, s3, m3) = results.last
    println(f"""{"metric":"drift_scale_probe","rows_ratio":${n3 / n1}%d,""" +
      f""""wall_ratio":${s3 / s1}%.2f,"shuffle_ratio":${m3 / m1}%.2f,""" +
      f""""wall_exponent":${math.log(s3 / s1) / math.log(n3.toDouble / n1)}%.2f}""")
    spark.stop()
  }
}
