package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Compose-time laziness, engine-wide: DECLARING a query must not
  * start a Spark job — execution belongs to the action. This is the
  * regression guard for the eager-at-compose class of defect (round 2's
  * tfIdf `docs.count()`, round 3-4's ivfTopK compose-time Lloyd
  * training): any new query entry that sneaks a collect/count/head into
  * composition fails here by name.
  *
  * There is no callsite waiver. Parquet schemas come from footers read
  * on the driver (`PsIO.parquet`), so a schema-inference job is an
  * offender like any other; only the queries named in [[composesJobs]]
  * may start jobs, each for the reason given there.
  */
class LazinessSpec extends AnyFunSuite with SparkFixture {

  /** Queries whose compose legitimately starts jobs:
    *  - `q_colagg`: the reference's per-column agg sugar
    *    (`df("c").sum()`) returns driver-side scalars by API contract;
    *  - `q_read_csv`, `q_read_json`, `q_json_quarantine`: their CSV and
    *    JSON readers infer the schema from the data, which is a scan. */
  private val composesJobs =
    Set("q_colagg", "q_read_csv", "q_read_json", "q_json_quarantine")

  test("composing every SparkEntry query materializes nothing") {
    val dir = "/root/testdata/sf0.001"
    val callsites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        // the job's callsite is the name of its final stage
        // (e.g. "collect at Foo.scala:7")
        jobStart.stageInfos.lastOption.foreach(si => callsites.add(si.name))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // warm-up compose: one-time per-process setup (the IVF index
      // build, ingestion fixtures) is allowed its jobs ONCE — a second
      // compose must then start none
      SparkEntry.queries.foreach { case (_, f) => f(spark, dir) }
      awaitQuiescent(callsites)
      callsites.clear()

      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, f) if !composesJobs.contains(name) =>
          f(spark, dir) // compose only — no action
          awaitQuiescent(callsites)
          val bad = scala.jdk.CollectionConverters
            .CollectionHasAsScala(callsites).asScala.toList
          callsites.clear()
          if (bad.nonEmpty) Some(s"$name -> ${bad.mkString("; ")}") else None
        case _ => None
      }
      assert(offenders.isEmpty,
        s"queries materialized at compose time:\n  ${offenders.mkString("\n  ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** listener delivery is async: poll until no new job-start events for
    * two consecutive 50 ms windows. */
  private def awaitQuiescent(q: java.util.Queue[String]): Unit = {
    var last = -1
    var stable = 0
    var spins = 0
    while (stable < 2 && spins < 100) {
      Thread.sleep(50)
      if (q.size == last) stable += 1 else { stable = 0; last = q.size }
      spins += 1
    }
  }
}
