package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, PersistedPlans, Sampling}
import graft.sources.PsIO

/** ×100 end-to-end probe of the release-cut composition and the
  * postings family — the round-12 ask: convert the ×10 extrapolations
  * into measured evidence at the brief's "survive a 100× scale-up" bar.
  *
  * Corpus recipe (the honest one from the round-10 dedup probe): sf0.1
  * documents duplicated ×N under FRESH doc_ids with every copy's tokens
  * suffixed `_i`, so cross-copy texts share no 3-shingles and near-dup
  * density per copy stays sf0.1's — the probe measures "same profile,
  * N× volume", not verbatim-duplication blowup (that regime is
  * [[graft.operators.Dedup.exact]]'s job before any pair op runs). The
  * corpus is WRITTEN to parquet and read back so every scale point runs
  * the real scan shape.
  *
  * Measured per scale point (×1, ×10, ×100 = 5k, 50k, 500k docs):
  * wall seconds, shuffle bytes written (task-metrics listener), and the
  * analytic candidate volumes — Σ C(|bucket|,2) over LSH (band, bucket)
  * groups and Σ|L|·|R| over cross-corpus shingle postings — which are
  * the quantities that must grow ~linearly for the 100 TB posture to
  * hold (they are the pair-join fan-out BEFORE any verify work).
  *
  * {{{ sbt "runMain graft.Release100Probe [sfDir] [maxScale]" }}}
  */
object Release100Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxScale = if (args.length > 1) args(1).toInt else 100
    // NOTE: driver memory CANNOT be set here in local mode (the JVM
    // heap is fixed at launch); size it via build.sbt's fork
    // javaOptions / SBT_OPTS when running ×100
    val spark = Session.local(32, "graft-release100-probe")

    // task-level shuffle accounting for each measured block
    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })

    val docs = PsIO.parquet(spark, s"$sfDir/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft-x100").toString

    def corpusPath(f: Int): String = {
      val path = s"$base/x$f"
      (0 until f).map { i =>
        docs.select(
          (col("doc_id") * f + i).as("doc_id"),
          // suffix every token with _i: copies are NOT near-dups of
          // each other (no shared 3-shingles), only of themselves
          regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(path)
      path
    }

    case class Meas(secs: Double, shuffleMb: Double, result: Long)
    def measure(label: String)(thunk: => Long): Meas = {
      shuffleWritten.set(0L)
      val t0 = System.nanoTime()
      val r = thunk
      val secs = (System.nanoTime() - t0) / 1e9 // BEFORE the drain sleep —
      // the listener wait must not inflate wall time (it biased the
      // recorded round-12 walls by a constant +0.3 s)
      Thread.sleep(300) // listener events drain asynchronously
      val m = Meas(secs, shuffleWritten.get / 1e6, r)
      println(f"[x100] $label%-28s ${m.secs}%8.1f s ${m.shuffleMb}%10.1f MB shuffled, result=${m.result}")
      m
    }

    def runAt(f: Int): Map[String, Meas] = {
      println(s"[x100] ===== scale x$f (${5000L * f} docs) =====")
      val c = PsIO.parquet(spark, corpusPath(f))
      var out = Map.empty[String, Meas]

      // the verbatim q_pipeline_release composition (fixed 8000-token
      // budget — at 100 TB the budget does NOT grow with the corpus, so
      // the budget prune discarding ever more of the ranking IS the shape)
      out += "release" -> measure("release composition") {
        val pairs = Dedup.minhashLsh(c, "doc_id", "text")
        val split = Sampling.leakageSafeSplit(c, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val train = split
          .filter(col("split") === "train" && col("n_chars") >= 100)
          .withColumn("toks", TextAnalysis.tokenCount(col("text")).cast("long"))
        val cut = Sampling
          .selectByBudget(train, "n_chars", "doc_id", "toks", budget = 8000L)
          .withColumn("shuffle_key", PsIO.shuffleKey(42L, col("doc_id")))
          .select("doc_id", "toks", "cum_tokens", "shuffle_key")
          .orderBy("shuffle_key")
        // WRITE the cut (a release ends in a write): under a bare
        // count() Catalyst's EliminateSorts would drop the final md5
        // shuffle-sort stage and the probe would time less than the
        // composition it claims. The budget bounds the written rows, so
        // the write itself stays tiny at every scale; the read-back
        // count is a footer scan.
        val outPath = s"$base/release_x$f"
        cut.write.mode("overwrite").parquet(outPath)
        PsIO.parquet(spark, outPath).count()
      }
      PersistedPlans.clear()

      out += "minhashLsh" -> measure("minhashLsh pairs") {
        Dedup.minhashLsh(c, "doc_id", "text").count()
      }
      // LSH candidate volume: Σ C(n,2) over (band, bucket) groups — the
      // fan-out of the pair join before distinct/verify
      out += "lshCand" -> measure("LSH candidate volume") {
        Dedup.lshBandBuckets(c, "doc_id", "text")
          .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * (col("n") - 1))).head().getLong(0) / 2
      }

      // hash-based split: doc_id = orig·f + copy makes `% 5` align with
      // the copy index (both ends of every near-dup pair would land on
      // the same side and cross pairs would vacuously be 0)
      val train = c.filter(pmod(hash(col("doc_id")), lit(5)) =!= 0)
      val eval = c.filter(pmod(hash(col("doc_id")), lit(5)) === 0)
      out += "crossJaccard" -> measure("crossJaccardPairs") {
        Dedup.crossJaccardPairs(train, eval, "doc_id", "text",
          k = 3, threshold = 0.6, maxDf = Some(1000)).count()
      }
      // cross-postings candidate volume: Σ |L|·|R| per shared shingle
      // (before the maxDf cap — the cap only shrinks it)
      out += "crossCand" -> measure("cross candidate volume") {
        def side(d: DataFrame, tag: String) = d
          .select(explode(Dedup.shingles(col("text"), 3)).as("s"))
          .groupBy("s").agg(count(lit(1)).as(tag))
        side(train, "nl").join(side(eval, "nr"), "s")
          .agg(coalesce(sum(col("nl") * col("nr")), lit(0L))).head().getLong(0)
      }
      out
    }

    // JIT/codegen warmup: the first measured block otherwise pays all
    // compilation (observed: x1 release slower than x10 without this)
    println("[x100] warmup pass (unmeasured)")
    runAt(1)
    val scales = Seq(1, 10, maxScale).distinct.filter(_ <= maxScale)
    val rows = scales.map(f => f -> runAt(f))
    println(f"[x100] ${"op"}%-14s " +
      scales.map(f => f"x$f%-20d").mkString + " exponents (vs x1)")
    rows.head._2.keys.toSeq.sorted.foreach { k =>
      val cells = rows.map { case (_, m) =>
        f"${m(k).secs}%6.1fs ${m(k).shuffleMb}%8.0fMB  "
      }.mkString
      val exps = rows.tail.map { case (f, m) =>
        f"${math.log(m(k).secs / rows.head._2(k).secs) / math.log(f.toDouble)}%5.2f"
      }.mkString(" ")
      println(f"[x100] $k%-14s $cells $exps")
      val cexps = rows.tail.map { case (f, m) =>
        f"${math.log(m(k).result.toDouble.max(1) / rows.head._2(k).result.toDouble.max(1)) /
          math.log(f.toDouble)}%5.2f"
      }.mkString(" ")
      println(f"[x100] $k%-14s results: " +
        rows.map { case (_, m) => s"${m(k).result} " }.mkString + s" exps: $cexps")
    }
    spark.stop()
  }
}
