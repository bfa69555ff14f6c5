package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.PsIO

/** Hot-shingle stress probe: duplicates the `documents` corpus ×N (each
  * copy under a fresh doc_id) so every shingle's document frequency — and
  * therefore the f² pair fan-out of the inverted-index Jaccard — inflates
  * ×N². This is the duplication profile of a real crawl corpus
  * (boilerplate + syndication), exactly the case the sf* test data lacks
  * (max shingle df is 25 at sf0.1).
  *
  * The probe (1) computes the uncapped candidate-pair volume analytically
  * from the postings (Σ C(df,2) — running it is pointless once the number
  * is quadratic), then (2) times the three bounded paths side by side:
  * jaccardPairs with the maxDf valve engaged, minhashLsh (banded
  * candidates), simhashPairs (bit-block banding). Results recorded in
  * SCALEPROBE.md.
  *
  * {{{ sbt "runMain graft.ScaleProbe [sfDir] [dupFactor] }}}
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dup = if (args.length > 1) args(1).toInt else 10
    val spark = Session.local(32, "graft-scale-probe")

    val base = PsIO.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs = (0 until dup).map { i =>
      base.select((col("doc_id") * dup + i).as("doc_id"), col("text"))
    }.reduce(_ union _).cache()
    val n = docs.count() // materialize so scan cost is excluded
    println(s"[scaleprobe] corpus: $n docs ($dup x ${n / dup})")

    // candidate volume of the inverted-index jaccard, computed not run:
    // one explode + one agg over the postings
    val df_ = docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("f"))
    val vol = df_.agg(
      sum(col("f") * (col("f") - 1) / 2).as("uncapped"),
      sum(when(col("f") <= 50, col("f") * (col("f") - 1) / 2).otherwise(0))
        .as("capped50"),
      max("f").as("max_df")).head()
    println(s"[scaleprobe] jaccard candidate pairs: uncapped=${vol.get(0)} " +
      s"maxDf50=${vol.get(1)} (max shingle df=${vol.get(2)})")

    def time(label: String)(thunk: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = thunk
      println(f"[scaleprobe] $label%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
    }
    time("jaccard maxDf=50") {
      Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.6,
        maxDf = Some(50)).count()
    }
    time("minhashLsh") {
      Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.6).count()
    }
    time("simhashPairs d=3") {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count()
    }
    time("simhashPairs d=8 cap500") {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8,
        maxBucket = Some(500)).count()
    }

    // ---- ANN paths on the duplicated embedding corpus ------------------
    // each copy gets a tiny deterministic per-copy shift so duplicates are
    // near- (not exact-) neighbors — the realistic near-dup profile
    val emb = PsIO.parquet(spark, s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val corpus = (0 until dup).map { i =>
      emb.select((col("vec_id") * dup + i).as("vec_id"),
        transform(col("embedding"), x => x + lit(i * 1e-3f)).as("embedding"))
    }.reduce(_ union _).cache()
    val nv = corpus.count()
    // max(1, …): for a sub-100-vector corpus nv/100 is 0 and a modulo-by-
    // zero yields null (non-ANSI), silently selecting zero queries
    val queries = corpus.filter(col("vec_id") % lit(math.max(1L, nv / 100)) === 0).cache()
    val nq = queries.count()
    println(s"[scaleprobe] ann corpus: $nv vectors (dim 64), $nq queries")

    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = df
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    var brute: Map[Long, Long] = Map.empty
    time("bruteForceTopK k=10") {
      val df = graft.operators.Similarity
        .bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10)
      brute = top1(df); df.count()
    }
    var lsh: Map[Long, Long] = Map.empty
    time("lshTopK k=10") {
      val df = graft.operators.Similarity.lshTopK(
        corpus, queries, "vec_id", "embedding", dim = 64, k = 10)
      lsh = top1(df); df.count()
    }
    var index: graft.operators.Similarity.IvfIndex = null
    time("buildIvfIndex 64c 2it") {
      index = graft.operators.Similarity.buildIvfIndex(
        corpus, "vec_id", "embedding", nCells = 64, iterations = 2)
      index.centroids.size.toLong
    }
    var ivf: Map[Long, Long] = Map.empty
    time("ivfQuery k=10 probe8") {
      val df = graft.operators.Similarity.ivfQuery(
        corpus, queries, "vec_id", "embedding", k = 10, index, nProbe = 8)
      ivf = top1(df); df.count()
    }
    def recall(m: Map[Long, Long]): String = {
      val hits = brute.count { case (q, n) => m.get(q).contains(n) }
      s"$hits/${brute.size}"
    }
    println(s"[scaleprobe] recall@1 vs brute: lsh=${recall(lsh)} ivf=${recall(ivf)}")

    // ---- batching prep: chunk / pack / mix on the x10 corpus ------------
    // all three are the operators a training pipeline runs over the FULL
    // corpus every epoch-prep; chunking is the fan-out one (rows multiply
    // by docLen/step), packing and mixing are row-bounded
    time("chunkDocs 512/64") {
      graft.operators.Chunking.chunkDocs(docs, "doc_id", "text",
        chunkTokens = 512, overlap = 64).count()
    }
    time("packSequences ctx2048") {
      graft.operators.Chunking.packSequences(
        docs.select(col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text")).as("nt")),
        "doc_id", col("nt"), ctxTokens = 2048, nShards = 64).count()
    }
    time("mixCorpora 3 sources") {
      val bucket = pmod(col("doc_id"), lit(3L))
      graft.operators.Sampling.mixCorpora(Seq(
        ("a", docs.filter(bucket === 0), 0.3),
        ("b", docs.filter(bucket === 1), 0.7),
        ("c", docs.filter(bucket === 2), 1.0)), "doc_id").count()
    }
    time("redactPii full corpus") {
      docs.select(graft.functions.TextAnalysis.redactPii(col("text")).as("c"))
        .selectExpr("sum(length(c))").collect().head.getLong(0)
    }

    // ---- as-of join: native merge operator vs union+window form --------
    // left = clicks duplicated ×dup under fresh event_ids (user_id keys
    // keep their cardinality, so per-key group size inflates ×dup — the
    // window form's state grows with it, the merge's O(1) does not)
    val ev = graft.sources.PsIO.readEventsNs(spark, s"$sfDir/events.parquet")
      .withColumn("ms", expr("ts div 1000000"))
    val clicks0 = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ms")
    val clicks = (0 until dup).map { i =>
      clicks0.select((col("event_id") * dup + i).as("event_id"),
        col("user_id"), (col("ms") + i).as("ms"))
    }.reduce(_ union _).cache()
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ms").agg(max("value").as("p_value")).cache()
    val ncl = clicks.count(); val np = purchases.count()
    println(s"[scaleprobe] asof: $ncl clicks x $np purchases")
    // force FULL evaluation: a bare count() would let Catalyst prune the
    // windowed form's last()-fill entirely (only the side filter feeds a
    // count), making the comparison meaningless; the hash touches every
    // output column in both forms. Warm both paths once untimed — the
    // first native run pays one-time Janino compilation of the merge
    // projections (amortized at scale, dominant at probe sizes).
    def forceAll(df: org.apache.spark.sql.DataFrame): Long = {
      df.selectExpr("bit_xor(xxhash64(*)) AS h").collect(); df.count()
    }
    def asofNative() = graft.operators.AsOfJoin.asof(clicks, purchases,
      Seq("user_id"), "ms", "ms", Seq("p_value"))
    def asofWin() = graft.operators.AsOfJoin.asofWindowed(clicks, purchases,
      Seq("user_id"), "ms", "ms", Seq("p_value"))
    forceAll(asofNative()); forceAll(asofWin())
    time("asof native merge")(forceAll(asofNative()))
    time("asof union+window")(forceAll(asofWin()))

    // ---- time-based rolling: RANGE frame at ×dup rows AND frame density
    // Duplicating events under fresh event_ids keeps user cardinality,
    // so rows and per-user 5-minute frame sizes BOTH inflate ×dup — a
    // naive O(rows × frame) window evaluation would go quadratic here;
    // Spark's sliding-frame processors (incremental add/remove on the
    // sorted partition) must keep the wall ~linear in rows.
    val evRoll = (0 until dup).map { i =>
      ev.select((col("event_id") * dup + i).as("event_id"), col("ts"),
        col("user_id"), col("value"))
    }.reduce(_ union _)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .cache()
    val nre = evRoll.count()
    println(s"[scaleprobe] rollingTime: $nre events")
    def rollProbe() = graft.api.PsDataFrame(evRoll)
      .rollingTimeAggs(Seq(("cents", "count", "n"), ("cents", "sum", "s"),
        ("cents", "var", "v")), "5min", "ts", Seq("user_id")).df
    forceAll(rollProbe())
    time("rollingTime 3-agg 5min")(forceAll(rollProbe()))
    evRoll.unpersist()

    // ---- range join: bucketized rewrite vs nested loop -----------------
    // points = duplicated order prices; intervals = 2k price bands. The
    // nested loop is O(points·intervals) so it gets a 10%-sample handicap
    // and STILL loses; the bucketized form runs the full corpus.
    val orders0 = PsIO.parquet(spark, s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val points = (0 until dup).map { i =>
      orders0.select((col("o_orderkey") * dup + i).as("p_id"),
        (col("o_totalprice") + i).as("x"))
    }.reduce(_ union _).cache()
    val intervals = orders0.filter(col("o_orderkey") % 75 === 0)
      .select(col("o_orderkey").as("i_id"), col("o_totalprice").as("lo"),
        (col("o_totalprice") + lit(2000.0)).as("hi")).cache()
    val npts = points.count(); val ni = intervals.count()
    println(s"[scaleprobe] range join: $npts points x $ni intervals")
    time("range bucketized (full)") {
      graft.operators.RangeJoin.pointInInterval(
        points, intervals, "x", "lo", "hi", binSize = 2000).count()
    }
    val sample = points.filter(col("p_id") % 10 === 0).cache()
    sample.count()
    time("range nested-loop (10%)") {
      sample.join(intervals,
        col("x") >= col("lo") && col("x") <= col("hi")).count()
    }
    spark.stop()
  }
}
