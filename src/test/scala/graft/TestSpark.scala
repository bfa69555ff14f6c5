package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(cores = 4, appName = "graft-test")

  /** The Spark jobs `body` starts, counted by a listener on a job group
    * private to this call (helper threads such as broadcast exchanges
    * inherit the caller's group, other callers' jobs do not carry it).
    * Listener delivery is async: after `body`, poll until the count
    * holds still for two consecutive 50 ms windows. */
  def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-test-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted by TestSpark.jobsStartedBy")
      try body
      finally sc.clearJobGroup()
      var (last, stable, spins) = (-1, 0, 0)
      while (stable < 2 && spins < 100) {
        Thread.sleep(50)
        if (n.get == last) stable += 1 else { stable = 0; last = n.get }
        spins += 1
      }
      n.get
    } finally sc.removeSparkListener(listener)
  }

  /** A parquet copy of `src` at `<fresh temp dir>/<name>` whose files
    * hold about `bytes` bytes: `src`'s rows and columns plus `pad`, one
    * binary column of seeded random, so incompressible, bytes that no
    * query reads. A query over the copy returns what it returns over
    * `src`, on whichever side of a byte bound `bytes` lies; callers that
    * need the exact size read it with `SmallSortRule.scanBytes`. */
  def paddedCopy(src: org.apache.spark.sql.DataFrame, bytes: Long,
      name: String = "t"): String = {
    import org.apache.spark.sql.functions.{monotonically_increasing_id, udf}
    val dir = java.nio.file.Files.createTempDirectory("graft-padded").resolve(name).toString
    val rows = src.count()
    def written(perRow: Int): Long = {
      val noise = udf { (k: Long) =>
        val b = new Array[Byte](perRow); new java.util.Random(k).nextBytes(b); b
      }
      src.withColumn("pad", noise(monotonically_increasing_id()))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      graft.plans.SmallSortRule.scanBytes(
        spark.read.parquet(dir).queryExecution.analyzed).get
    }
    // the file size is close to linear in the pad: one correction lands it
    val first = math.max(1L, bytes / rows).toInt
    val got = written(first)
    written(math.max(1L, first + (bytes - got) / rows).toInt)
    dir
  }

  /** Every node `df` ran, query stages included: `collect()`s it (not
    * count(), which plans a query of its own), then walks AQE's final
    * plan. */
  def ranNodes(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }
}

trait SparkFixture extends BeforeAndAfterAll { this: org.scalatest.Suite =>
  def spark: SparkSession = TestSpark.spark

  /** Stop a streaming query deterministically: `stop()` interrupts and
    * joins the execution thread, then `awaitTermination` confirms no
    * micro-batch is still in flight. Suppresses the query's own failure
    * (already surfaced to the test through processAllAvailable) so a
    * `finally` stopping several queries cannot leak the later ones. */
  def stopStream(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try q.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    try { q.awaitTermination(30000); () }
    catch { case scala.util.control.NonFatal(_) => () }
  }

  override protected def afterAll(): Unit = {
    // A test that fails between start() and its finally can leak a live
    // query whose ProcessingTimeExecutor keeps planning micro-batches
    // until JVM exit and then dies racing the shared session's shutdown
    // hook ("SparkContext has been shutdown"). Sweep leaks per suite so
    // nothing streams across suite boundaries or into teardown.
    spark.streams.active.foreach(stopStream)
    super.afterAll()
  }
}
