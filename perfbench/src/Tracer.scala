package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch nanoseconds, so benchmark timers and Spark's
  * epoch-millisecond event times share one axis. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = base + System.nanoTime()
}

/** One traced action's counters, filled by the listeners. */
final class Acc {
  var jobs, stages, tasks, failedTasks, evicted, composeJobs = 0L
  var runMs, cpuNs, gcMs, fetchMs = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, recordsRead, bytesWritten = 0L
  var qes, exchanges, wscgOps, planOps = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  @volatile var composeEndMs = Long.MaxValue

  /** Per stage, the slowest task over the mean task; the worst stage. */
  def taskSkew: Double = taskMs.values.asScala.filter(_.size > 1).map { d =>
    val mean = d.sum.toDouble / d.size
    if (mean > 0) d.max / mean else 1.0
  }.maxOption.getOrElse(1.0)

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "evicted_blocks" -> evicted,
    "compose_jobs" -> composeJobs, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "fetch_wait_ms" -> fetchMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "scan_bytes" -> scanBytes, "records_read" -> recordsRead,
    "bytes_written" -> bytesWritten,
    "qes" -> qes, "exchanges" -> exchanges, "wscg_ops" -> wscgOps, "plan_ops" -> planOps,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "task_skew" -> taskSkew)
}

/** The benchmark's instrument: a SparkListener and a
  * QueryExecutionListener, attached only around traced actions. Jobs
  * are joined to their action through a local property; query
  * executions and block evictions through the action that is current
  * when the bus delivers them, which is exact because every traced
  * action drains the bus before it ends. Spans are kept in memory and
  * written out when the run ends. */
final class Tracer(spark: SparkSession) {
  val Prop = "graftbench.action"
  private val sc = spark.sparkContext
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageAction = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val unpersisted = ConcurrentHashMap.newKeySet[Int]()
  val spans = new ConcurrentLinkedQueue[(String, String, Long, Long)]()
  @volatile private var current: String = null

  def span(action: String, name: String, startNs: Long, endNs: Long): Unit =
    spans.add((action, name, startNs, endNs)): Unit

  private def accOf(action: String): Acc = if (action == null) null else accs.get(action)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val a = Option(e.properties).map(_.getProperty(Prop)).orNull
      val acc = accOf(a)
      if (acc != null) {
        acc.jobs += 1
        if (e.time < acc.composeEndMs) acc.composeJobs += 1
        e.stageIds.foreach(stageAction.put(_, a))
        jobStart.put(e.jobId, (a, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (a, t0) =>
        span(a, "exec.job", t0 * 1000000L, e.time * 1000000L)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val a = stageAction.get(info.stageId)
      val acc = accOf(a)
      if (acc != null) {
        acc.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          span(a, "exec.stage", s * 1000000L, c * 1000000L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = accOf(stageAction.get(e.stageId))
      if (acc != null) acc.synchronized {
        acc.tasks += 1
        if (e.reason != org.apache.spark.Success) acc.failedTasks += 1
        acc.taskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]()) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          acc.runMs += m.executorRunTime
          acc.cpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          acc.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          acc.spill += m.diskBytesSpilled
          acc.recordsRead += m.inputMetrics.recordsRead
          acc.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      unpersisted.add(e.rddId): Unit
    // a persisted block dropped without an unpersist is a memory-pressure eviction
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      val acc = accOf(current)
      info.blockId match {
        case rb: RDDBlockId if acc != null && !info.storageLevel.isValid &&
            !unpersisted.contains(rb.rddId) => acc.evicted += 1
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val a = current
      val acc = accOf(a)
      if (acc == null) return
      acc.qes += 1
      for ((phase, s) <- qe.tracker.phases) {
        span(a, s"plans.$phase", s.startTimeMs * 1000000L, s.endTimeMs * 1000000L)
        phase match {
          case "analysis" => acc.analysisMs += s.durationMs
          case "optimization" => acc.optimizationMs += s.durationMs
          case "planning" => acc.planningMs += s.durationMs
          case _ =>
        }
      }
      Tracer.walk(qe.executedPlan, inWscg = false) { (p, inWscg) =>
        acc.planOps += 1
        if (inWscg) acc.wscgOps += 1
        if (p.isInstanceOf[ShuffleExchangeLike]) acc.exchanges += 1
        // file scans report the bytes of the files they read
        p.metrics.get("filesSize").foreach(m => acc.scanBytes += m.value)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attach the listeners and open `action`; the caller runs it. */
  def begin(action: String): Acc = {
    val acc = new Acc
    accs.put(action, acc)
    current = action
    sc.setLocalProperty(Prop, action)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    acc
  }

  /** Wait for the action's events, detach, and return its counters. */
  def end(action: String): Acc = {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    sc.setLocalProperty(Prop, null)
    current = null
    accs.remove(action)
  }
}

object Tracer {
  /** Visit every physical operator once, looking through adaptive and
    * query-stage wrappers; `inWscg` is true inside a whole-stage
    * codegen region (up to its input adapters). */
  def walk(p: SparkPlan, inWscg: Boolean)(f: (SparkPlan, Boolean) => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inWscg)(f)
    case q: QueryStageExec => walk(q.plan, inWscg)(f)
    case w: WholeStageCodegenExec => walk(w.child, inWscg = true)(f)
    case i: InputAdapter => walk(i.child, inWscg = false)(f)
    case other =>
      f(other, inWscg)
      other.children.foreach(walk(_, inWscg)(f))
  }
}
