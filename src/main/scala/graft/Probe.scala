package graft

/** One-query timing/plan probe for local iteration:
  * {{{ sbt "runMain graft.Probe <queryName> [sfDir] [explain] }}}
  * Warm-up + 3 timed runs (same discipline as [[Bench]]) on one query,
  * optional formatted plan dump — so a single operator can be iterated on
  * without paying a full bench sweep. Runs on `local[SPARK_GRAFT_CPUS]`
  * (default 4), as [[Verify]] does.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe <queryName> [sfDir] [explain]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-probe")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    if (doExplain) fn(spark, sfDir).explain("formatted")
    val warm = fn(spark, sfDir).count()
    val samples = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"[probe] $name rows=$warm median=${samples(1)}%.3f s (min=${samples.head}%.3f max=${samples.last}%.3f)")
    spark.stop()
  }
}
