package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.PsIO

/** x10 scale probe for [[Dedup.editDistancePairs]] (round 11).
  *
  * Scaling protocol matches AnnScaleProbe: the corpus grows xN with FRESH
  * title identities (residue space widened xN), so near-pair density per
  * title stays constant and the probe measures the algorithm, not the
  * output's inherent quadratic growth under verbatim duplication (pairs
  * among true duplicates grow x N² by definition — that regime is what
  * [[Dedup.exact]] pre-dedup is for, per the operator's scaladoc).
  *
  * Reports wall time and exact pair count per (factor, q). The analytic
  * volumes that govern 100 TB behavior — posting-list second moment and
  * distinct candidates before the levenshtein confirm — are a one-line
  * postings count documented in the operator scaladoc; SCALEPROBE.md
  * round-11 records both for this fixture (130 lists, max 300, 1.02M
  * candidates at x1 q=2).
  *
  * {{{ sbt "runMain graft.EditScaleProbe [sfDir] [dupFactor]" }}}
  */
object EditScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dup = if (args.length > 1) args(1).toInt else 10
    val spark = Session.local(32, "graft-edit-scale-probe")

    val base = PsIO.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "source", "lang")

    def titles(factor: Int) = (0 until factor).map { i =>
      base.select((col("doc_id") * factor + i).as("doc_id"),
        concat(col("source"), lit("-"), col("lang"), lit(" doc "),
          ((col("doc_id") * factor + i) % (1000 * factor)).cast("string"))
          .as("title"))
    }.reduce(_ union _).cache()

    for (factor <- Seq(1, dup)) {
      val t = titles(factor)
      val n = t.count() // materialize the cache once per factor
      for (qq <- Seq(2, 3)) {
        val t0 = System.nanoTime()
        val pairs = Dedup.editDistancePairs(t, "doc_id", "title", maxDist = 1, q = qq)
          .count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[editprobe] x$factor%-3d q=$qq n=$n%7d  ${secs}%8.2f s  pairs=$pairs")
      }
      t.unpersist()
    }
  }
}
