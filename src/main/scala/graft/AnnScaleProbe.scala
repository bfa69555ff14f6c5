package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.PsIO

/** ×N scale probe for the similarity/ANN family (round-11; the round-10
  * probe covered only the text-dedup family). Runs every ANN path at ×1
  * and ×N on the embeddings corpus, times BUILD and QUERY phases
  * separately, and prints measured growth exponents
  * (ln(t_N/t_1)/ln(N)) plus the ANALYTIC candidate-volume accounting:
  * the in-cell pair volume Σ C(|cell|,2) the IVF partition induces vs
  * the n(n-1)/2 all-pairs volume it replaces.
  *
  * Scaling policy probed (the one the operators document for 100 TB):
  * `nCells ∝ √n` (the standard IVF sizing rule), centroids trained on a
  * BOUNDED sample (`trainSample`, faiss practice) so build cost does
  * not scale with the corpus, and per-query candidate volume grows as
  * nProbe·n/√n = O(√n) — sublinear — while SemDeDup's in-cell pair
  * volume grows as n²/√n = O(n^1.5), visible in the analytic column.
  * Nothing may grow ~n².
  *
  * {{{ sbt "runMain graft.AnnScaleProbe [sfDir] [dupFactor]" }}}
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dup = if (args.length > 1) args(1).toInt else 10
    val spark = Session.local(32, "graft-ann-scale-probe")

    val emb = PsIO.parquet(spark, s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)

    def corpusAt(f: Int): DataFrame =
      (0 until f).map { i =>
        emb.select((col("vec_id") * f + i).as("vec_id"),
          transform(col("embedding"), x => x + lit(i * 1e-3f)).as("embedding"))
      }.reduce(_ union _).cache()

    /** per-path timings at one scale; returns label -> seconds */
    def runAt(f: Int): (Long, Map[String, Double], Map[String, Long]) = {
      val corpus = corpusAt(f)
      val n = corpus.count()
      val nCells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      // fixed query count across scales: query-phase exponents then
      // isolate corpus growth, not query-set growth
      val queries = corpus
        .filter(col("vec_id") % lit(math.max(1L, n / 100)) === 0).cache()
      queries.count()

      var times = Map.empty[String, Double]
      def time[T](label: String)(thunk: => T): T = {
        val t0 = System.nanoTime()
        val r = thunk
        times += label -> (System.nanoTime() - t0) / 1e9
        r
      }

      time("bruteForce query") {
        Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10)
          .count()
      }
      val index = time("ivf build (sampled)") {
        Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
          nCells = nCells, iterations = 2, trainSample = 4096)
      }
      time("ivf query probe8") {
        Similarity.ivfQuery(corpus, queries, "vec_id", "embedding",
          k = 10, index, nProbe = 8).count()
      }
      val cb = time("pq build") {
        Similarity.buildPqCodebook(corpus, "vec_id", "embedding",
          dim = dim, m = 8, nCodes = 16, iterations = 1)
      }
      time("pq query short100") {
        Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
          k = 10, cb, shortlist = 100).count()
      }
      time("ivfpq query probe8") {
        Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
          k = 10, index, cb, nProbe = 8, shortlist = 100).count()
      }
      time("int8 query short100") {
        Similarity.int8TopK(corpus, queries, "vec_id", "embedding",
          k = 10, shortlist = 100).count()
      }
      val survivors = time("semanticDedup") {
        Similarity.semanticDedup(corpus, "vec_id", "embedding",
          index, threshold = 0.999).count()
      }

      // analytic candidate-volume accounting from the REAL assignment
      // histogram: Σ C(|cell|,2) = SemDeDup's in-cell pair volume
      val hist = corpus
        .select(Similarity.cellOf(col("embedding"), index).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("c"))
        .agg(sum((col("c") * (col("c") - 1) / 2).cast("long")).as("cellPairs"),
          max("c").as("maxCell"), count(lit(1)).as("usedCells")).head()
      val vols = Map(
        "n" -> n,
        "nCells" -> nCells.toLong,
        "usedCells" -> hist.getLong(2),
        "maxCell" -> hist.getLong(1),
        "cellPairs" -> hist.getLong(0),
        "allPairs" -> n * (n - 1) / 2,
        "semdedupSurvivors" -> survivors)

      corpus.unpersist(blocking = false)
      queries.unpersist(blocking = false)
      (n, times, vols)
    }

    println(s"[annprobe] dim=$dim; scales x1 and x$dup; nCells=ceil(sqrt(n)); train<=4096")
    val (n1, t1, v1) = runAt(1)
    val (nN, tN, vN) = runAt(dup)
    println(f"[annprobe] ${"phase"}%-22s ${"x1 s"}%8s ${s"x$dup s"}%8s  exponent")
    t1.keys.toSeq.sorted.foreach { k =>
      val e = math.log(tN(k) / t1(k)) / math.log(nN.toDouble / n1)
      println(f"[annprobe] $k%-22s ${t1(k)}%8.2f ${tN(k)}%8.2f  ${e}%5.2f")
    }
    println(s"[annprobe] volumes x1:   ${v1.toSeq.sortBy(_._1).mkString(", ")}")
    println(s"[annprobe] volumes x$dup: ${vN.toSeq.sortBy(_._1).mkString(", ")}")
    val pairGrowth = vN("cellPairs").toDouble / math.max(1L, v1("cellPairs"))
    val allGrowth = vN("allPairs").toDouble / math.max(1L, v1("allPairs"))
    println(f"[annprobe] cellPairs growth x$pairGrowth%.1f vs allPairs x$allGrowth%.1f " +
      f"(exponents ${math.log(pairGrowth) / math.log(nN.toDouble / n1)}%.2f vs 2.00)")
    spark.stop()
  }
}
