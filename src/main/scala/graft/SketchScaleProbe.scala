package graft

import org.apache.spark.sql.functions._

/** Sketch-state scale probe: builds KLL quantile sketches over ×10/×100
  * value volumes and records what the stored artifact actually costs —
  * serialized bytes (must plateau at O(k), not track n) and the median's
  * measured rank error (must stay inside the O(n/k) band as n grows).
  * The HLL/MG members are fixed-size by construction (register array /
  * ≤k-entry map); KLL's levels GROW logarithmically, so "O(k) state"
  * deserves a measurement, not an assertion — the same bar as
  * [[StreamScaleProbe]]'s plateau checks.
  *
  * {{{ sbt "runMain graft.SketchScaleProbe" }}}
  */
object SketchScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(32, "graft-sketch-scale-probe")
    import spark.implicits._

    for (n <- Seq(10000L, 100000L, 1000000L)) {
      // ~uniform values over [0, 1e9): the median's true rank is n/2 and
      // value-domain error converts to rank error by the known density
      val d = spark.range(n)
        .select((col("id") * 2654435761L % 1000000000L).cast("double").as("v"))
      val t0 = System.nanoTime()
      val sk = d.agg(graft.operators.Sketches.kllSketch(col("v")).as("sk"))
        .head().getAs[Array[Byte]](0)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val est = graft.functions.KllSketch.quantile(sk, 0.5)
      val exact = d.filter(col("v") < est).count() // true rank of the estimate
      val rankErr = math.abs(exact - n / 2.0) / n
      println(f"[sketchprobe] n=$n%8d bytes=${sk.length}%6d " +
        f"build=$buildSec%5.2fs medianRankErr=${rankErr * 100}%5.2f%% " +
        f"n_exact=${graft.functions.KllSketch.count(sk) == n}")
    }
    spark.stop()
  }
}
