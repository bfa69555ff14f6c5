package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BenchForce, Registry, Session, SparkEntry}

/** One benchmark run in one JVM. The Python launcher (run.py) writes
  * the plan — which actions to run, on which generated inputs, traced or
  * not — and reads back what this program records:
  *
  *  - actions.jsonl: one line per action (warm-up, timed, check) with
  *    its wall and compose times and, when traced, its listener counters;
  *  - spans.jsonl: the traced actions' spans, written at the end;
  *  - summary.json: process timestamps and peak resident memory;
  *  - results/: each distinct (query, input) pair's result, for the
  *    DuckDB oracle check.
  *
  * Usage: graftbench.Main <plan.json>
  */
object Main {
  val mapper = new ObjectMapper()

  def json(kv: (String, Any)*): String = {
    def conv(v: Any): AnyRef = v match {
      case s: Seq[_] => s.map(conv).asJava
      case m: Map[_, _] => m.map { case (k, x) => k.toString -> conv(x) }.asJava
      case x: AnyRef => x
      case x => x.asInstanceOf[AnyRef]
    }
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    mapper.writeValueAsString(m)
  }

  final class Out(dir: String) {
    Files.createDirectories(Paths.get(dir))
    private val actions = new PrintWriter(new File(dir, "actions.jsonl"), "UTF-8")
    def action(line: String): Unit = synchronized { actions.println(line); actions.flush() }
    def close(): Unit = actions.close()
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = plan.get("out").asText
    val spark = Session.local(plan.get("cores").asInt, "graftbench")
    val tracer = new Tracer(spark)
    val rec = new Out(out)
    val sessionReadyMs = System.currentTimeMillis()
    val run = plan.get("workload").asText match {
      case "lake_write" => new LakeRun(spark, plan, tracer, rec)
      case _ => new QueryRun(spark, plan, tracer, rec)
    }
    val (firstTimedMs, endMs) = run.run()
    rec.close()
    val spans = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
    tracer.spans.asScala.foreach { case (a, n, s, e) =>
      spans.println(json("a" -> a, "name" -> n, "s" -> s, "e" -> e))
    }
    spans.close()
    val summary = json(
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "first_timed_ms" -> firstTimedMs,
      "end_ms" -> endMs,
      "vmhwm_kb" -> vmHwmKb())
    Files.writeString(Paths.get(out, "summary.json"), summary)
    spark.stop()
  }

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def vmHwmKb(): Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0L
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}

/** Shared action bookkeeping for both run kinds. */
abstract class Run(spark: SparkSession, plan: JsonNode, tracer: Tracer, rec: Main.Out) {
  val seconds: Double = plan.get("seconds").asDouble
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Runs everything; returns (first timed action start, end) in epoch ms. */
  def run(): (Long, Long)

  /** Time `body` as one action. `compose` runs first and is timed on its
    * own (the api layer); `body` gets its result. Returns the result of
    * compose and the record fields; never throws. */
  def act[T](phase: String, traced: Boolean, fields: Seq[(String, Any)],
             composeSpan: String = "api.compose")
            (compose: => T)(body: T => Unit): Option[T] = {
    val id = s"a${n.incrementAndGet()}"
    val acc = if (traced) tracer.begin(id) else null
    val t0 = Clock.now
    var t1 = t0
    var composed: Option[T] = None
    var err: String = null
    try {
      val c = compose
      t1 = Clock.now
      composed = Some(c)
      if (acc != null) acc.composeEndMs = t1 / 1000000L
      body(c)
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = Clock.now
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    val t2 = Clock.now
    if (traced) {
      tracer.span(id, "action", t0, t2)
      tracer.span(id, composeSpan, t0, t1)
    }
    val counters = if (traced) tracer.end(id).fields else Nil
    val line = Main.json(Seq[(String, Any)]("id" -> id, "phase" -> phase, "traced" -> traced,
      "start_ns" -> t0, "wall_ns" -> (t2 - t0), "compose_ns" -> (t1 - t0),
      "ok" -> (err == null), "error" -> err) ++ fields ++ counters: _*)
    rec.action(line)
    composed
  }

  def timeUp(startNs: Long): Boolean = (Clock.now - startNs) / 1e9 >= seconds

  /** Before the timed loop: collect the warm-up's garbage and wait (at
    * most 5 s) until the JIT has stopped compiling for 300 ms, so timed
    * actions do not share the cores with leftover warm-up work. */
  def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = Clock.now + 5000000000L
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && Clock.now < deadline) {
      Thread.sleep(300)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
  }

  /** Run untimed, untraced jobs on `threads` threads: warm-up and
    * correctness dumps are not measured, so they need not queue behind
    * each other. */
  def parallel[A](items: Seq[A], threads: Int)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      items.map(a => pool.submit(new Runnable { def run(): Unit = f(a) })).foreach(_.get())
    } finally pool.shutdown()
  }
}

/** interactive and llm_pipeline: registry queries, one per
  * action, composed with the query closure and forced through the noop
  * sink. Warm-up actions write each pair's result for the oracle check
  * instead; timed actions whose pair was not warmed are written after
  * the timed loop. Both run on several threads and are not timed. */
final class QueryRun(spark: SparkSession, plan: JsonNode, tracer: Tracer, rec: Main.Out)
    extends Run(spark, plan, tracer, rec) {
  private val queries = SparkEntry.queries
  private val results = Paths.get(plan.get("out").asText, "results").toString

  private def entries(node: JsonNode): Seq[(String, String, String, Boolean)] =
    node.elements.asScala.map { a =>
      (a.get(0).asText, a.get(1).asText, a.get(2).asText, a.get(3).asBoolean)
    }.toSeq

  def run(): (Long, Long) = {
    val oracle = SparkEntry.oracleSql
    val used = plan.get("queries").elements.asScala.map(_.asText).toSeq
    Files.writeString(Paths.get(plan.get("out").asText, "oracle.json"),
      Main.json(used.filter(oracle.contains).map(q => q -> oracle(q)): _*))
    val threads = plan.get("warmup_threads").asInt
    val warmup = entries(plan.get("warmup")).zipWithIndex
    val firstOf = warmup.groupBy(_._1._3).values.map(_.map(_._2).min).toSet
    // the first warm-up of a pair writes its result; repeats only force it
    parallel(warmup, threads) { case ((q, dir, key, _), i) =>
      act("warmup", traced = false, Seq("q" -> q, "pair" -> key))(queries(q)(spark, dir)) { df =>
        if (firstOf(i)) df.write.mode("overwrite").parquet(s"$results/$key")
        else BenchForce.force(df)
      }
    }
    val checked = scala.collection.mutable.Set[String]() ++ warmup.map(_._1._3)
    val pending = ArrayBuffer[(String, String, String, DataFrame)]()
    settle()
    val start = Clock.now
    val rounds = plan.get("rounds").elements.asScala.toSeq
    val minRounds = plan.get("min_rounds").asInt
    var r = 0
    while (r < rounds.size && (r < minRounds || !timeUp(start))) {
      for ((q, dir, key, traced) <- entries(rounds(r))) {
        val df = act("timed", traced, Seq("q" -> q, "pair" -> key, "round" -> r,
            "family" -> Registry.familyOf(q).getOrElse("")))(
          queries(q)(spark, dir))(BenchForce.force)
        if (!checked(key)) df.foreach(d => pending += ((q, dir, key, d)))
        checked += key
      }
      r += 1
    }
    val end = Clock.now
    parallel(pending.toSeq, plan.get("cores").asInt) { case (q, _, key, df) =>
      act("check", traced = false, Seq("q" -> q, "pair" -> key))(df) { d =>
        d.write.mode("overwrite").parquet(s"$results/$key")
      }
    }
    (start / 1000000L, end / 1000000L)
  }
}
