package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

/** Benchmark main: every SparkEntry query (reference-parity, LLM-pipeline
  * extensions, and the 8 ported reference benchmark shapes) on
  * SPARK_GRAFT_SF_DIR.
  *
  * Methodology (round-1 harness was n=1, no warm-up, and swallowed
  * exceptions — all three fixed here):
  *  - one untimed warm-up execution per query (JIT + file-listing +
  *    shuffle-service warmup), then `iters` timed runs, median reported;
  *  - a failing query is recorded under "errors" (and flips "ok" plus the
  *    exit code) instead of being silently timed as a success;
  *  - the JSON line goes to stdout AND to a file (default bench.json,
  *    override SPARK_GRAFT_BENCH_OUT) so log-prefix wrapping can't break
  *    the driver's parse.
  */
object Bench {

  /** See [[BenchForce.force]] — the forcing protocol lives in its own
    * hashed-by-the-sf1-guard file; this alias keeps call sites local. */
  private[graft] def force(df: org.apache.spark.sql.DataFrame): Unit =
    BenchForce.force(df)

  /** Generated classes Janino has compiled in this JVM so far (codegen
    * cache misses; a hit compiles nothing). */
  private def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Per-query shuffle telemetry: bytes written to and read from the
    * shuffle during the timed runs, divided by `iters`. Shuffle volume
    * is a PLAN fact (unlike wall time it is immune to JIT/host noise),
    * so recording it per query makes future ratio movements
    * plan-attributable from the bench artifact alone — the same
    * argument that added the calibration canary. Listener delivery is
    * async; force() blocks until job end, so by snapshot time the
    * counts are complete or within a task of it (telemetry, not a
    * gate — same caveat as the eviction listener). */
  private final class ShuffleListener
      extends org.apache.spark.scheduler.SparkListener {
    private val read = new java.util.concurrent.atomic.AtomicLong(0)
    private val write = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
      }
    }
    def snapshot(): (Long, Long) = (write.get(), read.get())
    def reset(): Unit = { write.set(0); read.set(0) }
  }

  /** Counts persisted-RDD blocks dropped WITHOUT a matching
    * unpersist — i.e. memory-pressure evictions, not deliberate
    * releases. A nonzero count during a CC-family query means the
    * iterative loop's persisted rounds were recomputed (the
    * ~4·(rounds+1)× pair-plan re-derive the persist exists to
    * prevent) and the wall time is an environment artifact, not the
    * plan's cost. Listener delivery is async, so attribution to the
    * query that was running is approximate — this is telemetry for
    * adjudicating a slow number, not a gate. */
  private final class EvictionListener
      extends org.apache.spark.scheduler.SparkListener {
    private val unpersisted =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val drops = new java.util.concurrent.atomic.AtomicLong(0)
    override def onUnpersistRDD(
        e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit = {
      unpersisted.add(e.rddId); ()
    }
    override def onBlockUpdated(
        e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case rb: org.apache.spark.storage.RDDBlockId
            if !info.storageLevel.isValid && !unpersisted.contains(rb.rddId) =>
          drops.incrementAndGet(); ()
        case _ => ()
      }
    }
    def snapshot(): Long = drops.get()
    def reset(): Unit = { unpersisted.clear(); drops.set(0) }
  }

  /** Re-time one query in a FRESH JVM (same classpath, same JVM flags,
    * same warmup+iters protocol via SPARK_GRAFT_BENCH_ONLY) and return
    * its median, or None if the child fails. Exists because the
    * 180+-query single-JVM sweep inflates late heavy queries ~3×
    * (accumulated JIT/broadcast/listener state that clearCache+gc does
    * not return — measured 16.5 s in-sweep vs 5.8 s isolated on the
    * heaviest pipeline, drifting worse as the registry grows): the
    * sweep's number is a harness artifact, the clean-JVM number is the
    * engine's. */
  private def retimeInFreshJvm(name: String, sfDir: String): Option[Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val outFile = Files.createTempFile(s"graft-retime-$name", ".json")
    val logFile = Files.createTempFile(s"graft-retime-$name", ".log")
    val pb = new ProcessBuilder(
      (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", sys.props("java.class.path"),
        "graft.Bench")).asJava)
    pb.environment().put("SPARK_GRAFT_BENCH_ONLY", name)
    pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(logFile.toFile))
    var ok = false
    try {
      val p = pb.start()
      val done = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); return None }
      if (p.exitValue() != 0) return None
      val r = parseRetimedMedian(Files.readString(outFile), name)
      ok = r.isDefined
      r
    } catch { case _: Exception => None }
    finally {
      // bounded /tmp: sweeps run in loops on long-lived hosts. The log
      // survives only when the re-time failed (it is the diagnostic);
      // pointer printed so the failure note in stderr is actionable.
      Files.deleteIfExists(outFile)
      if (ok) Files.deleteIfExists(logFile)
      else System.err.println(s"[bench] retime child log kept at $logFile")
    }
  }

  /** Pull query `name`'s median out of a child bench JSON. Anchored on
    * the KNOWN query name inside the "queries" object (not "any
    * single-entry map") so format drift — an extra field inside the
    * braces, a second query in the map — fails the parse loudly instead
    * of grabbing the wrong number. The value is num()'s fixed "%.3f",
    * never scientific notation, so `\d+\.\d+` is exact. A parse failure
    * surfaces as retime_failed in the sweep's JSON, not a silent keep. */
  private[graft] def parseRetimedMedian(json: String, name: String): Option[Double] = {
    val m = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(json).map(_.group(1))
    m.flatMap { body =>
      ("(?:^|,)\"" + java.util.regex.Pattern.quote(name) + "\":([0-9]+\\.[0-9]+)(?:,|$)").r
        .findFirstMatchIn(body).map(_.group(1).toDouble)
    }
  }

  /** Should the first re-time fork be distrusted? A fresh JVM is
    * routinely much FASTER than the inflated late-sweep number (that
    * asymmetry is why the re-time exists) but has no legitimate reason
    * to be substantially SLOWER than a run the same plan just completed
    * warm: shuffle volume is identical, so the only explanations are
    * fork noise (GC pause, host load spike) — BENCH_r15 committed a
    * 41.2 s fork median for a 2.9 s in-sweep query this way, and the
    * r19 closing sweep let a 2.16× fork (6.18 s vs 2.86 s in-sweep)
    * through the old 3× gate for q_pipeline_audit. Threshold is 1.5×
    * since r20 (the r19 verdict's adjudication item): such a fork gets
    * ONE retry, [[adjudicateRetime]] keeps the min, and the JSON's
    * retime_attribution block records every fork wall + a diverged
    * flag, so an outlier can never land unmarked in the authoritative
    * "queries" field. */
  private[graft] def forkSuspect(insweep: Double, forkMedian: Double): Boolean =
    forkMedian > 1.5 * insweep

  /** (kept seconds, still-diverged flag) from the in-sweep number and
    * the fork medians gathered so far: keep the fastest fork (min is
    * right for noise — nothing external can make a JVM run FASTER than
    * the plan allows), flag when even the best fork stays >3× in-sweep
    * (then the divergence is real or the host is unusable; either way
    * the number must not read as clean). */
  private[graft] def adjudicateRetime(
      insweep: Double, forks: Seq[Double]): (Double, Boolean) = {
    val kept = forks.min
    (kept, forkSuspect(insweep, kept))
  }

  /** A baseline is scale-specific: pair it with a run only when the
    * run's sf directory name equals the baseline's sf token, taken from
    * the filename convention baseline_<sf>.csv (or the explicit
    * `sfOverride`, for differently-named files). Exact name equality,
    * not substring — "sf0.1" must not match "sf0.15". */
  private[graft] def baselineMatchesRun(
      baselinePath: String,
      sfOverride: Option[String],
      sfDir: String): Boolean = {
    val token = sfOverride.orElse(
      "baseline_(.+)\\.csv".r
        .findFirstMatchIn(Paths.get(baselinePath).getFileName.toString)
        .map(_.group(1)))
    token.contains(Paths.get(sfDir).getFileName.toString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = Session.local(cpus.toInt, "graft-bench")

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val evictions = scala.collection.mutable.LinkedHashMap[String, Long]()
    val compiles = scala.collection.mutable.LinkedHashMap[String, Long]()
    val shuffleMb = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val evictionListener = new EvictionListener
    val shuffleListener = new ShuffleListener
    spark.sparkContext.addSparkListener(evictionListener)
    spark.sparkContext.addSparkListener(shuffleListener)
    // local-dev filter (comma-separated names); the driver never sets it
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    // Calibration canary: a fixed trivial query re-timed under the SAME
    // fresh-JVM protocol at sweep start AND end. Its clean-JVM cost is
    // position-independent by construction, so start/end drift measures
    // the HOST (load, memory pressure), not the engine — the signal that
    // lets a reader accept or discount the heavy-tail numbers without a
    // manual re-time (BENCH_r12/r13 each recorded a 3-4× environment-
    // inflated tail number that cost a judging session to adjudicate).
    val canaryName = "b_order"
    // a retime/canary child is spawned with a SINGLE-query only-set (the
    // recursion guard); a multi-query subset sweep (e.g. the b_* shapes
    // at sf1, whose table dir lacks the q_* fixtures) still gets the
    // full canary + clean-JVM re-time attribution
    val canaryEnabled =
      only.size != 1 && !sys.env.contains("SPARK_GRAFT_NO_RETIME")
    val canaryStart =
      if (canaryEnabled) retimeInFreshJvm(canaryName, sfDir) else None
    // SPARK_GRAFT_BENCH_COLD=1: COLD first-execution mode for the cache-
    // honesty audit (r19 verdict item 3) — no untimed warm-up, and every
    // plan-keyed memo (PersistedPlans: Sampling's budget rankings) is
    // dropped before each timed run, so the timed region provably
    // contains the full pipeline instead of a warm persisted relation. Off by default; the default
    // behavior (warmup=1) is unchanged.
    val cold = sys.env.get("SPARK_GRAFT_BENCH_COLD").contains("1")
    val warmups = if (cold) 0 else 1
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if only.isEmpty || only(name)) {
      val fn = SparkEntry.queries(name)
      try {
        if (warmups > 0) force(fn(spark, sfDir)) // warm-up, untimed
        evictionListener.reset()
        shuffleListener.reset()
        val compiled0 = compileCount()
        val samples = (1 to iters).map { _ =>
          // cold mode: drop plan-keyed memos BEFORE the clock starts, so
          // each timed run recomputes everything from the parquet inputs
          if (cold) graft.operators.PersistedPlans.clear()
          val t0 = System.nanoTime()
          force(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }.sorted
        times(name) = samples(samples.size / 2)
        val ev = evictionListener.snapshot()
        if (ev > 0) evictions(name) = ev
        val cc = compileCount() - compiled0
        if (cc > 0) compiles(name) = cc
        val (sw, sr) = shuffleListener.snapshot()
        // per-execution average over the timed runs; queries that
        // shuffle nothing stay out of the JSON
        if (sw > 0 || sr > 0)
          shuffleMb(name) = (sw / 1e6 / iters, sr / 1e6 / iters)
      } catch {
        case e: Throwable =>
          errors(name) =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      // between-query hygiene: drop any cached plans and nudge the old
      // gen — 160+ executions in one JVM otherwise accumulate broadcast /
      // codegen / listener state that inflates late-running queries
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop() // free the sweep JVM's memory before forking re-times

    // Heavy-tail re-time: the hygiene above is not enough — the sweep
    // still inflates late heavy queries ~3× (see retimeInFreshJvm). Every
    // query over the threshold is re-timed in a fresh JVM and that number
    // is the AUTHORITATIVE one; the sweep's is kept under "insweep" for
    // the drift audit. Skipped for single-query only-mode (that child IS
    // the clean JVM — the recursion guard) and via SPARK_GRAFT_NO_RETIME=1.
    val retimeThreshold =
      sys.env.getOrElse("SPARK_GRAFT_RETIME_THRESHOLD", "2.0").toDouble
    val insweep = scala.collection.mutable.LinkedHashMap[String, Double]()
    val retimeFailed = scala.collection.mutable.ArrayBuffer[String]()
    val retimeForks = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val retimeDiverged = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    if (only.size != 1 && !sys.env.contains("SPARK_GRAFT_NO_RETIME")) {
      for ((name, t) <- times.toSeq if t > retimeThreshold) {
        retimeInFreshJvm(name, sfDir) match {
          case Some(clean) =>
            // per-fork attribution (r15's protocol hole): a fork >3×
            // the warm in-sweep number is noise until a retry agrees —
            // re-fork once, keep the min, and flag it if even the min
            // diverges, so no outlier lands unmarked
            val forks =
              if (forkSuspect(t, clean))
                clean +: retimeInFreshJvm(name, sfDir).toSeq
              else Seq(clean)
            val (kept, diverged) = adjudicateRetime(t, forks)
            insweep(name) = t
            times(name) = kept
            retimeForks(name) = forks
            retimeDiverged(name) = diverged
            System.err.println(f"[bench] retimed $name: in-sweep $t%.3f s" +
              f" -> clean-JVM $kept%.3f s" +
              (if (forks.size > 1)
                 s" (forks ${forks.map(f => f"$f%.3f").mkString("/")}" +
                   s"${if (diverged) ", STILL DIVERGED" else ""})"
               else ""))
          case None =>
            // the kept in-sweep number is possibly inflated — record the
            // failure machine-readably so the JSON cannot look clean
            retimeFailed += name
            System.err.println(s"[bench] retime of $name failed; keeping" +
              s" the in-sweep number (flagged in retime_failed)")
        }
      }
    }
    // closing canary — same protocol, after everything else ran
    val canaryEnd =
      if (canaryEnabled) retimeInFreshJvm(canaryName, sfDir) else None

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    def num(v: Double): String = String.format(Locale.ROOT, "%.3f", v: java.lang.Double)
    val qs = times.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")

    // Reference-engine baseline (tools/refbaseline/run_ref_baseline.py):
    // pandaSQL (SQLite offload, the reference's own engine) executing the
    // same 8 b_* shapes on the same sf tables, read+run — comparable to
    // our times, which include the parquet scan inside each query. Emitted
    // only when a baseline CSV for this sf exists; ratio < 1 means graft
    // is faster than the reference engine.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "tools/refbaseline/baseline_sf0.1.csv")
    val baseline: Map[String, Double] =
      if (baselineMatchesRun(baselinePath, sys.env.get("SPARK_GRAFT_BASELINE_SF"), sfDir)
          && Files.exists(Paths.get(baselinePath))) {
        scala.jdk.CollectionConverters.ListHasAsScala(
            Files.readAllLines(Paths.get(baselinePath))).asScala
          .drop(1).map(_.split(","))
          .collect { case Array(name, _, psql) => name -> psql.toDouble }
          .toMap
      } else Map.empty
    val ratioed = baseline.keys.toSeq.sorted.filter(times.contains)
    val ratios = ratioed
      .map(k => s"${q(k)}:${num(times(k) / baseline(k))}").mkString("{", ",", "}")
    // no overlapping baseline queries -> N/A (JSON null), NOT 0.0 (which
    // would read as infinitely fast)
    val benchVsBaseline =
      if (ratioed.isEmpty) "null"
      else num(ratioed.map(times).sum / ratioed.map(baseline).sum)

    // "queries" carries the authoritative numbers (clean-JVM for the
    // re-timed heavy tail); "insweep" preserves what the sweep measured
    // for those queries so the whole-sweep inflation stays auditable
    val isw = insweep.map { case (k, v) => s"${q(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    // Environment attribution block: the canary drift + memory config +
    // eviction counts are what let a reader accept or discount a slow
    // heavy-tail number from the JSON alone. drift = end/start clean-JVM
    // cost of the SAME trivial query; >1.5× either way means the host
    // changed under the sweep and every number in this file is suspect.
    val canaryJson = (canaryStart, canaryEnd) match {
      case (Some(s0), Some(s1)) =>
        s"""{"query":${q(canaryName)},"start_s":${num(s0)},"end_s":${num(s1)},"drift":${num(s1 / s0)}}"""
      case _ => "null"
    }
    val envSuspect = (canaryStart, canaryEnd) match {
      case (Some(s0), Some(s1)) =>
        val d = s1 / s0; d > 1.5 || d < 1.0 / 1.5
      case _ => canaryEnabled // canary asked for but failed -> suspect
    }
    val evJson = evictions.map { case (k, v) => s"${q(k)}:$v" }
      .mkString("{", ",", "}")
    // per-query generated-class compiles over the timed runs: a warm run
    // compiles nothing while the codegen cache holds the query's classes.
    // A non-zero entry means the cap no longer covers the working set, or
    // the plan changed after the warm-up (PersistedPlans' budget
    // ranking first hits on the second run)
    val ccJson = compiles.map { case (k, v) => s"${q(k)}:$v" }
      .mkString("{", ",", "}")
    // per-query shuffle bytes (MB written/read per execution): the
    // plan-attribution companion to the wall times — a ratio that moved
    // with flat shuffle volume is host noise, one that moved with it is
    // a plan change
    val shJson = shuffleMb.map { case (k, (w, r)) =>
      s"${q(k)}:{" + "\"w\":" + num(w) + ",\"r\":" + num(r) + "}"
    }.mkString("{", ",", "}")
    val rtf = retimeFailed.map(q).mkString("[", ",", "]")
    // per-fork re-time attribution: every fork wall that contributed to
    // an authoritative number, plus a diverged flag when even the kept
    // fork stayed >3× the in-sweep wall — the audit trail that makes a
    // noisy fork visible in the artifact instead of silently committed
    val attrJson = retimeForks.map { case (k, fs) =>
      s"${q(k)}:{" + "\"insweep\":" + num(insweep(k)) +
        ",\"forks\":[" + fs.map(num).mkString(",") + "]" +
        ",\"kept\":" + num(times(k)) +
        ",\"diverged\":" + retimeDiverged(k) + "}"
    }.mkString("{", ",", "}")
    val heapMaxMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val line = s"""{"metric":"total","value":${num(times.values.sum)},"unit":"sec"""" +
      s""","queries":$qs,"errors":$es,"sf":${q(sfDir)},"iters":$iters""" +
      s""","warmup":$warmups,"force":"noop_sink","retime_threshold_s":${num(retimeThreshold)}""" +
      s""","insweep":$isw,"retime_failed":$rtf""" +
      s""","retime_attribution":$attrJson""" +
      s""","canary":$canaryJson,"env_suspect":$envSuspect""" +
      s""","heap_max_mb":$heapMaxMb,"cpus":${q(cpus)}""" +
      s""","evicted_persisted_blocks":$evJson""" +
      s""","codegen_compiles":$ccJson""" +
      s""","shuffle_mb":$shJson""" +
      s""","ratio_vs_reference":$ratios""" +
      s""","bench_vs_baseline":$benchVsBaseline""" +
      s""","baseline_engine":"pandaSQL(sqlite, read+run)"""" +
      s""","ok":${errors.isEmpty}}"""
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    Files.writeString(Paths.get(out), line + "\n")
    // Final COMPACT stdout line: the full line above is ~14 KB, which has
    // exceeded the driver's 2000-char stdout-tail capture every round
    // since r10 ("parsed": null in BENCH_r10..r19) — so the per-query and
    // scaling comparisons never populated. The complete record (identical
    // "queries"/telemetry, nothing removed) is the line above and the
    // bench.json file it is persisted to; this last line is a <2000-char
    // summary a tail-capture can always parse whole, with a pointer to
    // the full file. Timing methodology, env contract and the "queries"
    // map are unchanged.
    val summary = s"""{"metric":"total","value":${num(times.values.sum)}""" +
      s""","unit":"sec","n_queries":${times.size},"n_errors":${errors.size}""" +
      s""","sf":${q(sfDir)},"cpus":${q(cpus)},"iters":$iters""" +
      s""","bench_vs_baseline":$benchVsBaseline,"env_suspect":$envSuspect""" +
      s""","ok":${errors.isEmpty},"file":${q(out)}}"""
    println(summary)
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
