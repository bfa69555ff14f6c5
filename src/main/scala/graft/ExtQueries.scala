package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.functions.TextAnalysis
import graft.operators.{AdpcmWavCodec, AsOfJoin, Bloom, Components, Dedup, GifFramesCodec, Multimodal, Sampling, Similarity, Skew, Sketches, SortFirst}
import graft.sources.PsIO
import graft.streaming.StreamingOps

/** LLM-data-pipeline + coverage-gap queries (round 2 extension surface):
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
  * search (brute-force + LSH ANN), text analysis, multimodal binary
  * columns, event windowing/sessionization, plus entries covering
  * previously-untested reference operators (nsmallest, bitOr, ~, local
  * constructor, per-column agg sugar).
  *
  * Float-parity conventions: every floating value that reaches the oracle
  * hash compare is either (a) a ratio of exact integers, (b) a
  * decimal-summed money value cast back to double, or (c) omitted (ANN
  * ranks instead of scores) — so no round() half-boundary flakiness.
  */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): PsDataFrame =
    PsIO.readParquet(s, s"$dir/$name.parquet")

  /** The registry's one memo: every fixture written, artifact trained
    * and bound computed below runs once per (session, `name`), with the
    * data dir as the [[graft.SessionCache]] `sig` — so a change of data
    * dir rebuilds the fixture in place instead of serving the previous
    * dir's files, and a repeat compose (bench iterations, DiffConfig's
    * re-invocations, LazinessSpec's second compose) sees only the lazy
    * consumers. The cache locks per key, so a build may call [[once]]
    * for the fixtures it depends on. `onReplace` releases a value that
    * a changed data dir supersedes. */
  private val memo = new graft.SessionCache[Any]
  private def once[V](s: SparkSession, name: String, dir: String,
      onReplace: Any => Unit = _ => ())(build: => V): V =
    memo.getOrCompute(s, name, dir, onReplace)(build).asInstanceOf[V]

  /** One IVF index per embeddings corpus: built on first use (the only
    * eager step of the IVF path), reused by every later compose of
    * q_ann_ivf — bench iterations must time the query, not retraining. */
  private def ivfIndexFor(s: SparkSession, dir: String, corpus: DataFrame): Similarity.IvfIndex =
    once(s, "ivf_index", dir)(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
        nCells = 16, iterations = 2))

  /** One trained BPE merge table per corpus dir — same built-on-first-use
    * contract as [[ivfIndexFor]]: training is the operator's eager offline
    * step, memoized so repeat composes (bench iterations, laziness audits)
    * see only the lazy consumers of the table. */
  private def bpeTableFor(s: SparkSession, dir: String): Seq[graft.operators.BpeTrainer.Merge] =
    once(s, "bpe_table", dir)(
      graft.operators.BpeTrainer.train(t(s, dir, "documents").df, "text",
        numMerges = 40, batch = 8, minCount = 2L))

  /** One bloom filter per build side — same built-on-first-use contract
    * as [[ivfIndexFor]]: the build is the operator's one eager pass,
    * memoized so repeat composes (bench iterations, laziness audits)
    * time/see only the probe side. */
  private def bloomFilterFor(s: SparkSession, dir: String, name: String,
      small: DataFrame, keyCol: String): org.apache.spark.util.sketch.BloomFilter =
    once(s, s"bloom:$name", dir)(Bloom.buildFilter(small, keyCol))

  /** Planted out-of-corpus probe set shared by the five q_ann_* queries:
    * +1e-4f-shifted copies of the vec_id < 20 embeddings under id
    * +1000000. The shift is small enough that a probe's LSH buckets and
    * argmax IVF cell match its original's (a flip needs the original's
    * projection within 1e-4·Σ|plane| of zero / within ~1e-4 of a cell
    * boundary — none is, for this fixture), while every method's exact
    * re-rank makes the top-1 the original itself (cosine ≈ 1 vs ≤ 0.51
    * for any other corpus vector) — so the approximate indexes have a
    * CLOSED-FORM expected answer: probe v+1000000 → neighbor v, rank 1.
    * Real-corpus recall (where the answer is not plantable) stays
    * asserted in SimilaritySpec; this relation is what the driver gate
    * hash-checks. Probing with vectors NOT in the corpus is also the
    * honest shape of the operator — production queries are unseen. */
  private def annProbes(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(1e-4f)).as("embedding"))

  /** One PQ codebook per embeddings corpus — same built-on-first-use
    * contract as [[ivfIndexFor]] (the only eager step of the PQ path). */
  private def pqCodebookFor(s: SparkSession, dir: String, corpus: DataFrame): Similarity.PqCodebook =
    once(s, "pq_codebook", dir)(
      Similarity.buildPqCodebook(corpus, "vec_id", "embedding",
        dim = 64, m = 8, nCodes = 16, iterations = 2))

  /** events.parquet with `ts` normalized to ns-since-epoch longs whatever
    * the file's physical type (ns-as-long, µs TIMESTAMP, or µs
    * TIMESTAMP_NTZ) — see [[PsIO.readEventsNs]]. Every event-time query
    * below does integer epoch arithmetic on those longs; the DuckDB
    * oracles use timestamp-native `epoch_ms`/`date_trunc`, which agree
    * at the shared µs/ms precision. */
  private def events(s: SparkSession, dir: String): DataFrame =
    PsIO.readEventsNs(s, s"$dir/events.parquet")

  /** events with `value` as exact integer cents — the money-exactness
    * device the rolling-window oracles share (both engines compute the
    * identical double product and round, so the cents agree; all
    * windowed sums are then exact integers). */
  private def eventsCents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))

  /** Two deterministic corpus snapshots for the distribution-drift
    * queries: `ref` is the documents table as-is; `cur` re-crawls it
    * with French dropped and long docs truncated at 300 chars, so the
    * `lang_tag` and `n_chars` dimensions drift for real while `source`
    * stays near-uniform. Both sides null out zh in `lang_tag` to put
    * mass in the z_null bin (null-rate drift is drift too). */
  private def psiSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents").df
      .withColumn("lang_tag", nullif(col("lang"), lit("zh")))
    val cur = d.filter(col("lang") =!= "fr")
      .withColumn("n_chars", least(col("n_chars"), lit(300L)))
    (d, cur)
  }

  /** The drift dimensions: one numeric (explicit 100-char bins), one
    * low-cardinality categorical exercising z_null + y_other (top=3 of
    * the 4 non-null langs), and one wider categorical where top=8 of 20
    * uniform sources collapses most of the mass into y_other — the
    * cardinality-valve path. */
  private val psiDims = Seq(
    graft.operators.Drift.NumericDim("n_chars", Seq(100d, 200d, 300d, 400d, 500d)),
    graft.operators.Drift.CategoricalDim("lang_tag", top = 3),
    graft.operators.Drift.CategoricalDim("source", top = 8))

  private val psiGroupDims = psiDims.filter(_.column != "source")

  /** Memoized drift label expressions per (session, dir, dim-set) —
    * cellExprs' top-set resolution is the one eager step (bounded, like
    * the ANN index builds), so repeated composition must reuse it
    * (LazinessSpec: a second compose schedules no jobs). */
  private def psiExprsFor(s: SparkSession, dir: String, key: String,
                          ref: => DataFrame, dims: Seq[graft.operators.Drift.Dim])
      : Seq[(String, org.apache.spark.sql.Column)] =
    once(s, s"psi_exprs:$key", dir)(graft.operators.Drift.cellExprs(ref, dims))

  /** events with ts at ms precision plus the shared event-drift label
    * expressions (value bins + top-3 event types) — the input both
    * q_drift_windows and q_drift_scored bin identically. ns -> ms via
    * integral div (long `/` is DOUBLE division in Spark; ns magnitudes
    * exceed 2^53, so it can round across a boundary). */
  private def eventsDriftSide(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, org.apache.spark.sql.Column)]) = {
    val ev = events(s, dir)
      .select(timestamp_millis(expr("ts div 1000000")).as("ts"),
        col("event_type"), col("value"))
    (ev, psiExprsFor(s, dir, "events", ev, Seq(
      graft.operators.Drift.NumericDim("value", Seq(10.0, 100.0)),
      graft.operators.Drift.CategoricalDim("event_type", top = 3))))
  }

  /** The footer-stats + envelope-exclusion CTEs shared by q_prune_sim
    * and q_prune_report (both replay the same predicate bounds against
    * DuckDB's independent parquet_metadata reader). */
  private lazy val pruneSimCtes: String =
    s"""st AS (SELECT regexp_extract(file_name, '[^/]+$$') AS file,
                      row_group_id::BIGINT AS row_group,
                      path_in_schema AS "column",
                      num_values::BIGINT AS num_values,
                      stats_null_count::BIGINT AS null_count,
                      stats_min_value::BIGINT AS min_v,
                      stats_max_value::BIGINT AS max_v
               FROM parquet_metadata('$PruneFixtureDir/*.parquet')
               WHERE path_in_schema IN ('doc_id', 'n_chars')),
        fl AS (SELECT file, row_group,
                      CASE "column"
                        WHEN 'doc_id' THEN
                          coalesce(max_v < 200 OR min_v > 300, false)
                          OR coalesce(min_v IS NULL
                                      AND null_count = num_values, false)
                        ELSE
                          coalesce(max_v < 0 OR min_v > 1000000000, false)
                          OR coalesce(min_v IS NULL
                                      AND null_count = num_values, false)
                      END AS excluded
               FROM st)"""

  /** The PSI report replay shared by q_drift_report and q_drift_spec
    * (the latter computes the same report through the persisted spec,
    * so sharing the oracle string pins loaded == resolved). */
  private lazy val driftReportOracle: String =
    s"""WITH base AS (SELECT lang, source, n_chars,
                             nullif(lang, 'zh') AS lang_tag FROM documents),
        cur AS (SELECT lang, source, least(n_chars, 300) AS n_chars,
                       lang_tag FROM base WHERE lang <> 'fr'),
        $psiCellCtes,
        rc AS (SELECT "column", bin, count(*) AS rn FROM rcell GROUP BY 1, 2),
        cc AS (SELECT "column", bin, count(*) AS cn FROM ccell GROUP BY 1, 2),
        b AS (SELECT coalesce(rc."column", cc."column") AS "column",
                     coalesce(rc.bin, cc.bin) AS bin,
                     coalesce(rn, 0)::BIGINT AS ref_n,
                     coalesce(cn, 0)::BIGINT AS cur_n
              FROM rc FULL OUTER JOIN cc
                ON rc."column" = cc."column" AND rc.bin = cc.bin),
        percol AS (SELECT "column",
                          sum(ref_n)::BIGINT AS ref_n,
                          sum(cur_n)::BIGINT AS cur_n,
                          count(*)::BIGINT AS bins,
                          list(struct_pack(bin := bin, rn := ref_n,
                                           cn := cur_n)
                               ORDER BY bin) AS cells
                   FROM b GROUP BY 1)
        SELECT "column", ref_n, cur_n, bins,
               $psiFoldSql AS psi_bp,
               $psiFoldSql >= 1000 AS drifted
        FROM percol ORDER BY "column""""

  /** The DuckDB replay of the PSI fold (expects `cells`, `ref_n`,
    * `cur_n`, `bins` in scope): a sequential left-to-right
    * list_transform + list_sum recurrence — bit-exact against Spark's
    * aggregate() fold — rounded to basis points as BIGINT. */
  private val psiFoldSql: String =
    """round(list_sum(list_transform(cells, c ->
                   ((c.rn + 1)::DOUBLE / (ref_n + bins)::DOUBLE
                    - (c.cn + 1)::DOUBLE / (cur_n + bins)::DOUBLE)
                   * ln(((c.rn + 1)::DOUBLE / (ref_n + bins)::DOUBLE)
                        / ((c.cn + 1)::DOUBLE / (cur_n + bins)::DOUBLE))))
                       * 10000)::BIGINT"""

  /** Per-source cell fragments for the grouped drift oracle — SELECT
    * lists only (the FROM side is spliced per snapshot). */
  private val psiGroupCellSql: String =
    """SELECT source, 'n_chars' AS "column",
              CASE WHEN n_chars IS NULL THEN 'z_null'
                   WHEN n_chars < 100 THEN 'b00'
                   WHEN n_chars < 200 THEN 'b01'
                   WHEN n_chars < 300 THEN 'b02'
                   WHEN n_chars < 400 THEN 'b03'
                   WHEN n_chars < 500 THEN 'b04'
                   ELSE 'b05' END AS bin"""
  private val psiGroupCatCellSql: String =
    """SELECT source, 'lang_tag',
              CASE WHEN lang_tag IS NULL THEN 'z_null'
                   WHEN lang_tag IN (SELECT v FROM top_lang)
                     THEN 'v_' || lang_tag
                   ELSE 'y_other' END"""

  /** Shared CTE block for the drift oracles: the reference-side top sets
    * (count desc, value asc — Drift.binExpr's tie-break) plus one
    * (column, bin) cell relation per side, one UNION ALL branch per
    * dimension in [[psiDims]]. Expects `base` (ref) and `cur` CTEs. */
  private val psiCellCtes: String = {
    def cells(side: String) =
      s"""(SELECT 'n_chars' AS "column",
                  CASE WHEN n_chars IS NULL THEN 'z_null'
                       WHEN n_chars < 100 THEN 'b00'
                       WHEN n_chars < 200 THEN 'b01'
                       WHEN n_chars < 300 THEN 'b02'
                       WHEN n_chars < 400 THEN 'b03'
                       WHEN n_chars < 500 THEN 'b04'
                       ELSE 'b05' END AS bin FROM $side
           UNION ALL
           SELECT 'lang_tag',
                  CASE WHEN lang_tag IS NULL THEN 'z_null'
                       WHEN lang_tag IN (SELECT v FROM top_lang)
                         THEN 'v_' || lang_tag
                       ELSE 'y_other' END FROM $side
           UNION ALL
           SELECT 'source',
                  CASE WHEN source IS NULL THEN 'z_null'
                       WHEN source IN (SELECT v FROM top_src)
                         THEN 'v_' || source
                       ELSE 'y_other' END FROM $side)"""
    s"""top_lang AS (SELECT lang_tag AS v FROM base
                     WHERE lang_tag IS NOT NULL
                     GROUP BY 1 ORDER BY count(*) DESC, v LIMIT 3),
          top_src AS (SELECT source AS v FROM base
                      WHERE source IS NOT NULL
                      GROUP BY 1 ORDER BY count(*) DESC, v LIMIT 8),
          rcell AS ${cells("base")},
          ccell AS ${cells("cur")}"""
  }

  /** Planted image corpus for the image-dedup queries: one deterministic
    * 9x8-block pattern image per doc (block = one splitmix bit, rendered
    * 2x2 px) plus its downscaled twin under id+1000000. Block patterns of
    * different docs differ in ~24 of 64 dHash bits (adjacent-comparison
    * bits disagree w.p. 3/8), so at maxHamming=4 the ONLY near-dup pairs
    * are the planted (doc, twin) ones — an exact, SQL-expressible
    * relation even though the codec itself isn't SQL. */
  /** Persisted fixture datasets, one per (live session, kind): a bare
    * `.persist()` inside a query closure leaks one cache entry per
    * invocation — DiffConfig alone re-invokes each closure five times —
    * so repeated invocations must share ONE cached dataset. A replaced
    * entry (same kind, changed data dir) is unpersisted. */
  private def persistOnce(
      s: SparkSession, kind: String, dir: String,
      mk: => org.apache.spark.sql.Dataset[Multimodal.MediaRecord])
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] =
    once(s, s"persisted:$kind", dir, onReplace = old =>
      { old.asInstanceOf[org.apache.spark.sql.Dataset[_]].unpersist(); () })(mk.persist())

  private def imageNearDupMedia(
      s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val ids = t(s, dir, "documents").df
      .filter(col("doc_id") < 50).select("doc_id").as[Long]
    ids.flatMap { docId =>
      val (w, h) = (18, 16) // 9x8 blocks of 2x2 px
      val rgb = new Array[Byte](w * h * 3)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val bit = mix(docId * 128 + (y / 2) * 9 + (x / 2)) & 1L
          val v = if (bit == 1L) 255.toByte else 0.toByte
          rgb(i) = v; rgb(i + 1) = v; rgb(i + 2) = v
          i += 3
          x += 1
        }
        y += 1
      }
      val orig = Multimodal.ImageCodec.encodePng(w, h, rgb)
      val twin = Multimodal.ImageCodec.resize(orig, 9, 8).get
      Seq(
        Multimodal.MediaRecord(docId, "image/png", orig, w, h, 0L),
        Multimodal.MediaRecord(docId + 1000000L, "image/png", twin, 9, 8, 0L))
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- dedup family ------------------------------------------------

    // keyed/subset exact dedup: first row per (lang, source) by doc_id
    "q_dedup_key" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      PsDataFrame(Dedup.exact(d.df, Seq("lang", "source"), Seq(col("doc_id"))))
        .select("doc_id", "lang", "source", "n_chars")
        .sortValues(Seq("doc_id")).df
    }),

    // content dedup at scale: dedup on a 60-bit fingerprint of normalized
    // text (never on the raw text — the fingerprint is the shuffle key)
    "q_dedup_text" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val withFp = d.df.withColumn("fp",
        TextAnalysis.fingerprint60(TextAnalysis.normalized(col("text"))))
      PsDataFrame(Dedup.exact(withFp, Seq("fp"), Seq(col("doc_id"))))
        .select("doc_id", "fp").sortValues(Seq("doc_id")).df
    }),

    // exact 3-gram Jaccard near-dup pairs via inverted-index postings.
    // maxDf engages the stop-shingle safety valve (cap ≫ the corpus's
    // actual max df, so the oracle's uncapped jaccard stays exact here
    // while the scale guard is live in the benched path).
    "q_jaccard_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.jaccardPairs(d.df, "doc_id", "text", k = 3, threshold = 0.6,
          maxDf = Some(1000))
        .orderBy("a_id", "b_id")
    }),

    // exact-substring dedup pairs (the Lee-et-al ACL'22 criterion): any
    // two docs sharing a 15-token exact run, suffix-array method restated
    // as long-shingle postings; n_spans = distinct shared spans. maxDf
    // default (1000) cannot engage at 500 docs, so the oracle is exact.
    "q_shared_spans" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.sharedSpanPairs(d.df, "doc_id", "text", spanTokens = 15)
        .orderBy("a_id", "b_id")
    }),

    // MinHash-LSH near-dup pairs (banded candidates + exact confirm);
    // oracle is the brute-force Jaccard — LSH miss probability at the
    // injected-dup similarity (~0.97) is ~1e-15, so outputs must agree
    "q_minhash_lsh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashLsh(d.df, "doc_id", "text").orderBy("a_id", "b_id")
    }),

    // near-dup CLUSTERS: transitive closure of the LSH pair relation via
    // min-label propagation (pairs alone under-dedup: A~B, B~C must keep
    // exactly one of {A,B,C}); oracle recomputes components with a
    // recursive CTE over the brute-force pair set, which the LSH pairs
    // match exactly at this similarity (see q_minhash_lsh)
    "q_dedup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashLsh(d.df, "doc_id", "text")
      Components.clusterLabels(pairs)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // cluster-aware dedup: one survivor (the min doc_id) per near-dup
    // cluster, unpaired docs untouched
    "q_cluster_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashLsh(d.df, "doc_id", "text")
      Components.dedupByCluster(d.df, pairs, "doc_id")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // benchmark decontamination: Jaccard >= 0.6 hits BETWEEN a training
    // split and a held-out split (doc_id % 5 == 0) of the corpus — the
    // eval-leakage scan; oracle is the brute-force cross join over the
    // same two sides (maxDf cap cannot engage at this df, so exact)
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.crossJaccardPairs(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 3, threshold = 0.6, maxDf = Some(1000))
        .orderBy("a_id", "b_id")
    }),

    // the cleaned training corpus itself: every doc with a cross-split
    // hit removed (end-to-end face of q_decontaminate)
    "q_decontaminated" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.decontaminate(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 3, threshold = 0.6, maxDf = Some(1000))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // incremental ingestion dedup: new batch (doc_id % 5 == 0) anti-joined
    // on normalized fingerprint against the already-ingested corpus (the
    // even doc_ids). The splits overlap on doc_id % 10 == 0, so half the
    // batch has an exact ingested copy and must drop, half must survive —
    // both paths of the anti-join carry oracle signal.
    "q_dedup_incr" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.dedupAgainstCorpus(
          d.filter(col("doc_id") % 5 === 0), d.filter(col("doc_id") % 2 === 0),
          "text")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // 60-bit SimHash fingerprints (md5-derived token hash = cross-engine)
    "q_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.simhash(d.df, "doc_id", "text").orderBy("id")
    }),

    // SimHash near-dup pairs: bit-block-banded candidates (pigeonhole-
    // exact for hamming<=d with d+1 blocks) + hamming confirm; oracle is
    // the brute-force all-pairs scan, which must agree exactly.
    // d=3 (the classic Manku-et-al near-dup distance) keeps blocks 15
    // bits wide — ~32k bucket values per block index, so candidate
    // volume stays bucket-bounded; d=8 here would mean 6-7-bit blocks
    // whose candidate volume degrades toward all-pairs (~n²/22).
    "q_simhash_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.simhashPairs(d.df, "doc_id", "text", maxHamming = 3)
        .orderBy("a_id", "b_id")
    }),

    // ---- text analysis ----------------------------------------------

    // Gopher-style n-gram repetition signals (top-2-gram token coverage,
    // duplicated-3-gram position fraction) — one codegen'd scan, ratios
    // of integer counts so the oracle hash-matches bit-exactly
    "q_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // sort-first: the n-gram counters are the heavy leg — above the
      // range exchange they run once (no sampler re-execution) and at
      // exchange parallelism instead of the single-task scan's
      SortFirst.project(d.df, Seq(col("doc_id"))) { sorted =>
        sorted.select(col("doc_id"),
          TextAnalysis.topNgramFrac(col("text"), 2).as("top2_frac"),
          TextAnalysis.dupNgramFrac(col("text"), 3).as("dup3_frac"))
      }
    }),

    "q_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // left in natural order: md5 fingerprints are cheap single-pass
      // hashes — measured 0.51 s natural vs 0.83 s sort-first
      d.df.select(
        col("doc_id"),
        TextAnalysis.fingerprintHex(col("text")).as("fp_hex"),
        TextAnalysis.fingerprint60(col("text")).as("fp60"),
        TextAnalysis.fingerprintHex(TextAnalysis.normalized(col("text")))
          .as("fp_norm_hex"))
        .orderBy("doc_id")
    }),

    "q_textstats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val txt = col("text")
      SortFirst.project(d.df, Seq(col("doc_id"))) { sorted =>
        sorted.select(
          col("doc_id"),
          TextAnalysis.tokenCount(txt).as("n_tokens"),
          TextAnalysis.subwordCount(txt).as("n_subwords"),
          TextAnalysis.charLen(txt).as("n_chars_c"),
          TextAnalysis.punctRatio(txt).as("punct_ratio"),
          TextAnalysis.meanTokenLen(txt).as("mean_tok_len"),
          TextAnalysis.wordRatio(txt, TextAnalysis.EnglishStopwords).as("stop_ratio"),
          TextAnalysis.qualityScore(txt).as("quality"))
      }
    }),

    // curation filter: repetition ratio + first-failing-rule drop reason
    // (NULL reason = keep); the whole thing is one codegen'd scan
    "q_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val reason = TextAnalysis.qualityReason(col("text"))
      SortFirst.project(d.df, Seq(col("doc_id"))) { sorted =>
        sorted.select(
          col("doc_id"),
          TextAnalysis.dupTokenRatio(col("text")).as("dup_ratio"),
          reason.as("drop_reason"),
          reason.isNull.as("keep"))
      }
    }),

    "q_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      SortFirst.project(d.df, Seq(col("doc_id"))) { sorted =>
        sorted.select(
          col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
      }
    }),

    // corpus vocabulary: top tokens by occurrence with doc frequency
    "q_vocab" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.vocabulary(d.df, "doc_id", "text")
        .orderBy(col("cnt").desc, col("token"))
        .limit(30)
    }),

    // per-(doc, token) term/document frequencies (tf-idf integer parts;
    // the float idf is engine-specific libm, checked in unit tests)
    "q_tfidf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.tfIdf(d.df.filter(col("doc_id") < 20), "doc_id", "text")
        .select("id", "token", "tf", "df")
        .orderBy("id", "token")
    }),

    // ---- similarity search ------------------------------------------

    // exact cosine top-5 for 20 query vectors (ranks only — membership
    // and order are float-stable, raw scores are not hash-comparable)
    "q_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.df.filter(col("vec_id") < 20)
      Similarity.bruteForceTopK(e.df, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // LSH-bucketed ANN, top-1 per planted probe (see [[annProbes]]):
    // the probe collides with its original in every table (no bucket
    // bit flips at 1e-4 for this fixture) and the exact re-rank puts
    // the original first — closed-form oracle. Real-corpus recall
    // stays asserted in SimilaritySpec.
    "q_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = annProbes(e.df)
      Similarity.lshTopK(e.df, q, "vec_id", "embedding",
          dim = 64, k = 1, bits = 8, tables = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // embedding-cosine near-dup pairs via LSH-bucketed candidates. The
    // synthetic embeddings are mutually near-orthogonal (max pairwise
    // cosine 0.51), so near-dups are PLANTED: the corpus unioned with a
    // slightly-shifted copy of itself — at threshold 0.99 the expected
    // relation is EXACTLY the (vec, twin) pairs (closed-form oracle,
    // q_image_neardup's pattern): candidates are verified by exact
    // cosine, so false positives are impossible at this gap, and the
    // seeded hyperplanes make bucket recall deterministic (1.0 here —
    // a ±1e-3 shift flips a bucket bit only if the projection sits
    // within 1e-3·Σ|plane| of zero, and none does). Scores omitted for
    // float parity discipline.
    "q_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df.select("vec_id", "embedding")
      val twin = e.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(1e-3f)).as("embedding"))
      // materialize (lazy cache) the planted corpus: the LSH pipeline
      // legitimately scans its input 4x (two bucket branches + two
      // vector joins) — prep-then-analyze, the q_materialize pattern
      val corpus = PsIO.materialize(e.unionByName(twin))
      Similarity.nearDupPairs(corpus, "vec_id", "embedding",
          dim = 64, threshold = 0.99)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // ---- multimodal binary columns ----------------------------------

    // metadata over opaque binary payloads (decode-free path: column
    // pruning means payload-only metadata never reads pixel bytes)
    "q_multimodal" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val payload = Multimodal.textAsPayload(col("text"))
      d.df.select(
        col("doc_id"),
        Multimodal.payloadBytes(payload).as("n_bytes"),
        Multimodal.payloadMd5(payload).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // real image decode through the driver contract: a deterministic PNG
    // per doc (pixel i = (doc_id*7 + i) % 256) is encoded then decoded by
    // the in-JDK ImageCodec inside extractFeatures; PNG is lossless, so
    // the decoded dims/channel count/pixel sum are exact integers the
    // oracle recomputes in closed form. The decoded=true filter makes a
    // silent codec failure a loud rows mismatch.
    "q_multimodal_img" -> ((s, dir) => {
      import s.implicits._
      val (w, h) = (16, 12)
      val ids = t(s, dir, "documents").df
        .filter(col("doc_id") < 50).select("doc_id").as[Long]
      val media = ids.map { docId =>
        val rgb = Array.tabulate(w * h * 3)(i => ((docId * 7 + i) % 256).toByte)
        Multimodal.MediaRecord(docId, "image/png",
          Multimodal.ImageCodec.encodePng(w, h, rgb), w, h, 0L)
      }
      Multimodal.extractFeatures(media)
        .filter(_.decoded)
        .toDF()
        .select(col("id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("nBytes").cast("long").as("n_bytes"),
          col("byteSum").as("pix_sum"))
        .orderBy("doc_id")
    }),

    // quarantine hygiene through the driver contract: a mixed corpus —
    // real PNGs, image-claiming corrupt bytes, and a compressed audio
    // type with no registered codec — must come back with the decoded
    // flag separating real measurements from byte-level fallbacks. The
    // oracle recomputes the flag in closed form from the planting rule,
    // so a stub row masquerading as decoded (or a codec silently
    // failing) is a hash mismatch, not a quiet drift.
    "q_media_quarantine" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").df
        .filter(col("doc_id") < 60).select("doc_id").as[Long]
      val media = ids.map { docId =>
        (docId % 3) match {
          case 0L => // decodes: real 8x8 PNG
            val rgb = Array.tabulate(8 * 8 * 3)(i => ((docId + i) % 256).toByte)
            Multimodal.MediaRecord(docId, "image/png",
              Multimodal.ImageCodec.encodePng(8, 8, rgb), 8, 8, 0L)
          case 1L => // claims image/png, carries garbage: quarantined
            Multimodal.MediaRecord(docId, "image/png",
              s"notanimage-$docId".getBytes("UTF-8"), 0, 0, 0L)
          case _ => // compressed type, no codec registered: quarantined
            Multimodal.MediaRecord(docId, "audio/mpeg",
              Array.tabulate(48)(i => ((docId + i) % 256).toByte), 0, 0, 0L)
        }
      }
      Multimodal.extractFeatures(media)
        .toDF()
        .select(col("id").as("doc_id"), col("decoded"))
        .orderBy("doc_id")
    }),

    // ---- events: windows + sessions ---------------------------------

    // tumbling 1h window aggregation (batch form of the streaming op)
    // JSON metadata extraction: parse the props JSON-string column with
    // the built-in path extractor (codegen'd, no UDF), type the field,
    // aggregate per event_type. sum is exact integer; mean is ONE double
    // division of exact ints mirrored in the SQL. The common "typed
    // metadata out of a JSON sidecar column" step of event/doc pipelines.
    "q_json_extract" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
          (sum("k").cast("double") / count(lit(1))).as("avg_k"))
        .orderBy("event_type")
    }),

    // bloom-pruned fact⋈dim join: a selective customer slice builds a
    // bloom filter (one distributed pass), orders is probed by the
    // codegen'd sketch BEFORE its shuffle, the real join removes the
    // sketch's false positives — so the result is exactly the plain
    // join and the oracle restates it as one. Integer aggregates keep
    // the hash comparison bit-exact.
    "q_bloom_join" -> ((s, dir) => {
      val orders = PsIO.parquet(s, s"$dir/orders.parquet")
      val sel = PsIO.parquet(s, s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000)
      val bf = bloomFilterFor(s, dir, "building5000", sel, "c_custkey")
      val pruned = orders.filter(
        graft.plans.BloomExpressions.mightContain(col("o_custkey"), bf))
      pruned.join(sel, pruned("o_custkey") === sel("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("c_nationkey")
    }),

    // SemDeDup semantic dedup with a closed-form planted-twin oracle
    // (r12, q_image_neardup's pattern): plant perturbed twins under
    // id+1000000, dedup within IVF cells at cosine>=0.999. The survivor
    // rule is keep-SMALLEST-id, so a twin drops whenever its pair is
    // found; the 1e-4 shift keeps each twin in its original's argmax
    // cell (deterministic for the fixture — a flip needs the original
    // within ~1e-4 of a cell boundary) and originals never pair with
    // each other (max cross cosine 0.51 << 0.999) — the expected
    // survivor set is EXACTLY the original corpus. Recall and survivor
    // semantics are additionally pinned in SimilaritySpec.
    "q_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df.select("vec_id", "embedding")
      val twin = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(1e-4f)).as("embedding"))
      val corpus = e.unionByName(twin)
      val index = ivfIndexFor(s, dir, e)
      Similarity.semanticDedup(corpus, "vec_id", "embedding", index,
          threshold = 0.999)
        .select("vec_id").orderBy("vec_id")
    }),

    "q_window_events" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.select(
          expr("(ts div 3600000000000) * 3600").cast("long").as("hour_s"),
          col("event_type"), col("value"))
        .groupBy("hour_s", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy("hour_s", "event_type")
    }),

    // sliding 1h windows every 15min (batch form of slidingAgg): each
    // event lands in 4 overlapping windows; decimal-summed money for
    // float parity, epoch-second window starts for engine portability
    "q_window_sliding" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      ev.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(unix_seconds(col("window.start")).as("win_s"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("win_s", "event_type")
    }),

    // per-user 30-minute-gap sessionization (analytic-window batch form)
    "q_sessionize" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      StreamingOps.sessionizeBatch(ev, gapMinutes = 30)
        .select(col("user_id"), col("session_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_id")
    }),

    // ---- as-of join + analytic windows ------------------------------

    // attribution: each click joined to the user's most recent purchase
    // at-or-before it (backward-inclusive; unmatched clicks keep nulls)
    "q_asof" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ms", expr("ts div 1000000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ms")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ms").agg(max("value").as("p_value"))
        .withColumn("p_ms", col("ms"))
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ms", "ms",
          valueCols = Seq("p_ms", "p_value"), how = "left", rightPrefix = "")
        .orderBy("event_id")
    }),

    // pandas merge_asof direction="forward" + tolerance: first purchase
    // at-or-after each click, but only within the hour — same native
    // sort-merge pass on the negated time axis, tolerance row-local
    "q_asof_fwd" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ms", expr("ts div 1000000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ms")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ms").agg(max("value").as("p_value"))
        .withColumn("p_ms", col("ms"))
      AsOfJoin.asofDirectional(clicks, purchases, Seq("user_id"), "ms", "ms",
          valueCols = Seq("p_ms", "p_value"), how = "left", rightPrefix = "",
          direction = "forward", tolerance = Some(3600000L))
        .orderBy("event_id")
    }),

    // pandas merge_asof direction="nearest": closest purchase either
    // side, ties -> backward (the engine's pinned deterministic rule)
    "q_asof_near" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ms", expr("ts div 1000000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ms")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ms").agg(max("value").as("p_value"))
        .withColumn("p_ms", col("ms"))
      AsOfJoin.asofDirectional(clicks, purchases, Seq("user_id"), "ms", "ms",
          valueCols = Seq("p_ms", "p_value"), how = "left", rightPrefix = "",
          direction = "nearest")
        .orderBy("event_id")
    }),

    // stream-stream interval join, batch face: every click matched to
    // the same user's purchases within 30 minutes after it (ns integer
    // arithmetic end-to-end; the streaming face is differentially tested
    // in StreamingSpec with watermarked state)
    "q_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.streaming.StreamingOps.intervalJoin(
          clicks, purchases, "user_id", "ts",
          maxDelay = lit(30L * 60 * 1000000000L), lateness = None)
        .select("user_id", "l_event_id", "r_event_id")
        .orderBy("l_event_id", "r_event_id")
    }),

    // point-in-interval range join: orders priced inside derived price
    // bands. There is no equi key, so Spark alone would plan a
    // BroadcastNestedLoopJoin; the injected RangeJoinRule
    // (spark.graft.rangeJoin.binSize) rewrites it to an equi-join on
    // floor(price/W) bins with the exact range as residual. Declared
    // through spark.sql so the driver's correctness row covers the
    // optimizer rule end-to-end, not just the DataFrame operator
    // (RangeJoinSpec covers that and their agreement). The conf is
    // scoped-harmless: it only affects inner joins with NO cross-side
    // equi conjunct and a numeric range, of which the query set has
    // exactly this one.
    "q_range_join" -> ((s, dir) => {
      PsIO.parquet(s, s"$dir/orders.parquet").createOrReplaceTempView("graft_rj_orders")
      PsIO.parquet(s, s"$dir/part.parquet").createOrReplaceTempView("graft_rj_part")
      s.conf.set(graft.plans.RangeJoinRule.BinSizeKey, "20000")
      s.sql("""
        SELECT o.o_orderkey, i.i_id
        FROM graft_rj_orders o
        JOIN (SELECT p_partkey AS i_id, p_retailprice * 50 AS lo,
                     p_retailprice * 50 + 20000 AS hi
              FROM graft_rj_part WHERE p_partkey % 200 = 0) i
          ON o.o_totalprice >= i.lo AND o.o_totalprice <= i.hi
        ORDER BY o_orderkey, i_id""")
    }),

    // running spend per customer (pandas cumsum; decimal for exactness)
    "q_cumsum" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.set("price_d", o("o_totalprice").cast("decimal(18,2)"))
      val c = o.cumsum("price_d", Seq("o_custkey"), Seq("o_orderkey"), "cum_d")
      c.set("cum_spend", c("cum_d").cast("double"))
      c.select("o_custkey", "o_orderkey", "cum_spend")
        .sortValues(Seq("o_custkey", "o_orderkey")).df
    }),

    // the injected SQL surface (graft_dot via spark.sql): the oracle
    // re-states the dot product as explicit arithmetic with the SAME
    // left-to-right accumulation order, so doubles stay bit-identical
    "q_sql_vector" -> ((s, dir) => {
      PsIO.parquet(s, s"$dir/lineitem.parquet")
        .createOrReplaceTempView("graft_sqlfn_lineitem")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               graft_dot(array(l_quantity, l_discount * 100, l_tax * 100),
                         array(1.0D, 2.0D, 3.0D)) AS d
        FROM graft_sqlfn_lineitem
        ORDER BY l_orderkey, l_linenumber""")
    }),

    // pandas cut: fixed price bands over orders; out-of-range -> null
    // band (kept as its own count row, pandas NaN group)
    "q_cut" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.cut("o_totalprice", Seq(0, 100000, 200000, 300000, 400000),
          Seq("xs", "s", "m", "l"), "band")
        .df.groupBy("band").agg(count(lit(1)).as("n"), // spark count->long
          sum(col("o_orderkey")).as("key_sum")) // order-free exact check
        .orderBy("band")
    }),

    // pandas qcut: equal-frequency quartiles via ONE distributed exact
    // percentile aggregate + comparison chain (never a global ntile sort;
    // integer-cent prices keep the interpolated edges engine-portable)
    "q_qcut" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.qcut("o_totalprice", 4, "band")
        .select("o_orderkey", "band")
        .sortValues(Seq("o_orderkey")).df
    }),

    // qcut within groups: price quartile per order priority (the
    // per-stratum binning a mixing pipeline runs)
    "q_qcut_group" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.qcutBy("o_totalprice", 4, Seq("o_orderpriority"), "band")
        .select("o_orderkey", "o_orderpriority", "band")
        .sortValues(Seq("o_orderkey")).df
    }),

    // pandas groupby().transform(): per-customer order count and exact
    // scaled deviation (x*n - sum, decimal — no division, no float drift)
    "q_transform" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.set("p_d", o("o_totalprice").cast("decimal(18,2)"))
      val withSum = o.transformCol("p_d", "sum", Seq("o_custkey"), "sum_d")
      val withCnt = withSum.transformCol("p_d", "count", Seq("o_custkey"), "cnt")
      withCnt.set("dev_scaled",
        (withCnt("p_d") * withCnt("cnt") - withCnt("sum_d")).cast("double"))
      withCnt.select("o_orderkey", "o_custkey", "cnt", "dev_scaled")
        .sortValues(Seq("o_orderkey")).df
    }),

    // pandas corr/cov per group — the bit-portable exact-co-sums form
    // (native corrCov is unit-tested against it; its co-moment merge
    // order isn't hash-oracle-safe)
    "q_corr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupby("l_returnflag")
        .corrExact("l_quantity", "l_extendedprice", "qp_corr", "qp_cov")
        .sortValues(Seq("l_returnflag")).df
    }),

    // ordered aggregates (pandas idxmax/idxmin/first/last): ONE
    // partial-aggregating pass via struct extrema — no window, no
    // per-group sort; ties deterministic through the unique anchor
    "q_idxmax" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupby("o_custkey").aggOrdered("o_orderkey",
          ("o_totalprice", "idxmax") -> "best_order",
          ("o_totalprice", "idxmin") -> "worst_order",
          ("o_totalprice", "first")  -> "first_price",
          ("o_totalprice", "last")   -> "last_price")
        .sortValues(Seq("o_custkey")).df
    }),

    // context-window chunking: 40-token chunks, 8-token overlap — a
    // per-row sequence/slice explode, shuffle-free
    "q_chunk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Chunking.chunkDocs(d.df, "doc_id", "text",
          chunkTokens = 40, overlap = 8)
        .orderBy("id", "chunk_id")
    }),

    // sequence packing: hash-sharded running-token-budget pack ids (the
    // batching-prep step); one windowed running sum per shard
    "q_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val withTok = d.df.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      graft.operators.Chunking.packSequences(withTok, "doc_id",
          col("n_tok"), ctxTokens = 512, nShards = 8)
        .select("doc_id", "n_tok", "shard", "pack_id")
        .orderBy("doc_id")
    }),

    // chunk reassembly: the inverse of q_chunk — chunk with overlap,
    // strip the overlap per-row, stitch per-doc with an order-insensitive
    // struct-sorted aggregation; `matches` pins the byte-exact round trip
    "q_unchunk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val chunks = graft.operators.Chunking.chunkDocs(d.df, "doc_id", "text",
        chunkTokens = 40, overlap = 8)
      graft.operators.Chunking.unchunkDocs(chunks, "id", "chunk_id", "chunk_text",
          overlap = 8)
        .join(d.df.select(col("doc_id").as("id"), col("text").as("__orig")), "id")
        .select(col("id"), col("text"), (col("text") === col("__orig")).as("matches"))
        .orderBy("id")
    }),

    // corpus snapshot diff: full keyed delta between two corpus versions
    // (the incremental-curation primitive) — one full-outer join, exact
    // struct comparison; fixture derives the "new" snapshot
    // deterministically (drop %10==3, change %10==4, add %10==5 re-keyed)
    "q_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val newSnap = d.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 10 === 4, upper(col("text"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 10 === 5)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.operators.Snapshot.snapshotDiff(d, newSnap,
          keyCols = Seq("doc_id"), compareCols = Seq("text", "lang", "source"))
        .orderBy("doc_id")
    }),

    // exact edit-distance near-dup pairs (title/URL dedup): Ed-Join
    // q-gram prefix filtering — rare-first prefixes index the postings,
    // length filter + per-pair levenshtein confirm make it identical to
    // the all-pairs scan the oracle runs
    "q_edit_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val titles = d.select(col("doc_id"),
        concat(col("source"), lit("-"), col("lang"), lit(" doc "),
          (col("doc_id") % 1000).cast("string")).as("title"))
      graft.operators.Dedup.editDistancePairs(titles, "doc_id", "title",
          maxDist = 1, q = 3)
        .orderBy("a_id", "b_id")
    }),

    // model-based quality gate: integer-quantized linear classifier
    // scored per-row in codegen (the deployment shape of a fastText-style
    // quality model); integer arithmetic = bit-exact re-scoring anywhere
    "q_quality_model" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      d.select(col("doc_id"),
          TextAnalysis.linearQualityScore(col("text")).as("score"))
        .filter(col("score") >= 600)
        .orderBy("doc_id")
    }),

    // exact-k per-group sampling (eval-set construction): deterministic
    // hash-order rank <= k inside each lang; map-side WindowGroupLimit
    "q_sample_k" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Sampling.sampleKPerGroup(d, Seq("lang"), "doc_id",
          k = 5, salt = "r11")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // mixture-schedule interleave: integer stride schedule keys realize
    // the source weights without a global row numbering
    "q_interleave" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Sampling.interleaveBySource(d, "lang", "doc_id",
          strides = Map("en" -> 1L, "de" -> 3L, "es" -> 3L, "fr" -> 4L,
            "zh" -> 3L), salt = "r11")
        .select("doc_id", "lang", "sched")
        .orderBy("doc_id")
    }),

    // END-TO-END INCREMENTAL REFRESH: snapshot diff -> changed/added rows
    // only -> model quality gate -> exact-content dedup vs the live
    // corpus -> refresh manifest. The composition every periodic corpus
    // rebuild runs; each stage is individually oracled above, this row
    // proves the composition (note: re-keyed verbatim copies enter as
    // "added" and are correctly caught by the content anti-join)
    "q_pipeline_incr" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val newSnap = d.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 10 === 4, upper(col("text"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 10 === 5)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val delta = graft.operators.Snapshot.snapshotDiff(d, newSnap,
          keyCols = Seq("doc_id"), compareCols = Seq("text", "lang", "source"))
        .filter(col("status").isin("added", "changed"))
      val fresh = delta.join(newSnap.select("doc_id", "text"), "doc_id")
      val gated = fresh
        .filter(TextAnalysis.linearQualityScore(col("text")) >= 600)
      // byte-exact content dedup vs the live corpus (normalized=false:
      // a changed revision must survive; a re-keyed verbatim copy must not)
      graft.operators.Dedup.dedupAgainstCorpus(gated, d, "text", normalized = false)
        .select(col("doc_id"), col("status"),
          TextAnalysis.linearQualityScore(col("text")).as("score"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer induction ON the corpus. The iterative merge loop is
    // not SQL-expressible, but it IS deterministic given the corpus
    // (BpeSpec pins batch=1 merge-for-merge to the classic Sennrich
    // reference and determinism across runs), so the oracle is the
    // committed GOLDEN merge table for the sf0.01 fixture. Output: the
    // ranked merge table.
    "q_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      bpeTableFor(s, dir).toDF().orderBy("rank")
    }),

    // token accounting under the learned vocab (golden oracle: counts
    // are deterministic under the trained merge table above)
    "q_bpe_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.BpeTrainer.tokenizeCount(
          d.filter(col("doc_id") < 50), "doc_id", "text", bpeTableFor(s, dir))
        .orderBy("id")
    }),

    // LM-coverage quality gate (integer-exact cousin of the CCNet
    // perplexity filter): bigram coverage of each doc against the
    // reference half of the corpus
    "q_lm_coverage" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.bigramCoverage(d, "doc_id", "text",
          d.filter(col("doc_id") % 2 === 0), "text", minCount = 3L)
        .orderBy("id")
    }),

    // within-pack start offsets (block-diagonal attention-mask metadata):
    // one more window over the packer's own partitioning, no extra shuffle
    "q_pack_offsets" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val withTok = d.df.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val packed = graft.operators.Chunking.packSequences(withTok, "doc_id",
        col("n_tok"), ctxTokens = 512, nShards = 8)
      graft.operators.Chunking.packOffsets(packed, "doc_id", col("n_tok"))
        .select("doc_id", "shard", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    // CURATION AUDIT: per-document disposition provenance — every doc
    // tagged with the stage that removed it (or 'kept'), the artifact a
    // curation run ships for review alongside the survivor set. Same
    // stages as q_pipeline_curate, attribution follows pipeline order.
    "q_pipeline_audit" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val hold = d.filter(col("doc_id") % 5 === 0)
      val train = d.filter(col("doc_id") % 5 =!= 0)
      val fp = TextAnalysis.fingerprint60(TextAnalysis.normalized(col("text")))
      val gated = train
        .filter(TextAnalysis.langId(col("text")) === "en")
        .filter(TextAnalysis.tokenCount(col("text")) >= 20)
        .withColumn("__fp", fp)
      // Dedup.exact returns the full WINNER ROWS, so the deduped corpus
      // is its output directly — the previous join of gated back onto
      // the winner-id set recomputed the whole language/length/fingerprint
      // gate a second time just to reattach columns the winners already
      // carry (one join and one single-task gate pass removed)
      val deduped = Dedup.exact(gated, Seq("__fp"), Seq(col("doc_id")))
      val dupWinners = deduped
        .select(col("doc_id").as("id"), lit(true).as("__won"))
      // decontaminate(deduped, …) would anti-join the full deduped
      // relation, re-running the gate+dedup-window a second time; the
      // audit only needs the surviving IDs, and those are the winner ids
      // minus the contamination hits — an anti-join on the already-tiny
      // id relation instead (same set, one less gate pass)
      val hit = Dedup.crossJaccardPairs(deduped, hold, "doc_id", "text",
          k = 3, threshold = 0.6, maxDf = Some(1000))
        .select(col("a_id").as("id")).distinct()
      val kept = dupWinners.select("id").join(hit, Seq("id"), "left_anti")
        .select(col("id"), lit(true).as("__kept"))
      // sort-first on the closing projection: the disposition when-chain
      // re-runs langId/tokenCount over EVERY doc, and as the map side of
      // the final range exchange it executed twice (sampler + real) on
      // one task; above the sort it runs once at exchange parallelism.
      // The joins stay below the exchange — their inputs are broadcast
      // relations AQE materializes once.
      val flagged = d.select(col("doc_id").as("id"), col("text"))
        .join(dupWinners, Seq("id"), "left")
        .join(kept, Seq("id"), "left")
      SortFirst.project(flagged, Seq(col("id"))) { sorted =>
        sorted.select(col("id"),
          when(col("id") % 5 === 0, "holdout")
            .when(TextAnalysis.langId(col("text")) =!= "en", "lang")
            .when(TextAnalysis.tokenCount(col("text")) < 20, "length")
            .when(col("__won").isNull, "dup")
            .when(col("__kept").isNull, "contaminated")
            .otherwise("kept").as("disposition"))
      }
    }),

    // Unicode NFC normalization (dedup preprocessing): decomposed and
    // precomposed accent forms must normalize to identical strings —
    // forms_agree pins it per row against the composed spelling
    "q_nfc" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 50)
      val decomposed = concat(col("text"), lit(" cafe\u0301 u\u0308ber"))
      val composed = concat(col("text"), lit(" caf\u00e9 \u00fcber"))
      // left in natural order: 50 rows after the doc_id<50 pushdown —
      // measured 0.44 s natural vs 0.70 s sort-first (fixed exchange
      // overhead dwarfs any compute saving at this cardinality)
      d.select(col("doc_id"),
          graft.plans.TextExpressions.nfcNormalize(decomposed).as("norm"),
          (graft.plans.TextExpressions.nfcNormalize(decomposed) ===
            graft.plans.TextExpressions.nfcNormalize(composed)).as("forms_agree"))
        .orderBy("doc_id")
    }),

    // frame-wide distinct counts (pandas df.nunique()), one agg pass
    "q_nunique_all" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_custkey", "o_orderstatus", "o_orderpriority")
        .nunique().df
    }),

    // ordered string aggregation (document/pack reassembly): per-source
    // concatenation of bounded snippets in doc_id order
    "q_str_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val snip = PsDataFrame(d.df.select(col("source"), col("doc_id"),
        substring(col("text"), 1, 40).as("snip")))
      snip.groupby("source").strJoin("snip", "doc_id", " | ", "assembled")
        .sortValues(Seq("source")).df
    }),

    // PII redaction over a deterministically-spiked corpus (the raw
    // synthetic text carries no PII, so the query plants one email, one
    // URL, and one phone per doc, then strips them)
    "q_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val spiked = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
        lit(" visit https://ex.example/"), col("doc_id"),
        lit(" call +1 555-01"), col("doc_id"))
      // left in natural order: redactPii is three linear regex passes —
      // measured 0.82 s natural vs 0.93 s sort-first (the wider exchange
      // and extra task wave cost more than the sampler's cheap re-run)
      d.df.select(col("doc_id"),
          TextAnalysis.redactPii(spiked).as("clean"))
        .orderBy("doc_id")
    }),

    // HTML -> text extraction over a deterministically-wrapped corpus
    // (the synthetic text carries no markup, so the query PLANTS a full
    // page around it: head with title/script/style, a comment, heading,
    // entity-escaped body, footer). The script body contains a literal
    // '<' and the body an '&amp;' escape, so block-dropping and
    // entity-decode order are both load-bearing. The oracle states the
    // SEMANTIC expectation in closed form — title + heading + decoded
    // body + footer — without replaying any regex, so a Java/RE2
    // dialect divergence cannot produce a false pass.
    "q_html_extract" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val page = concat(
        lit("<html><head><title>Doc</title>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<style>p { color: red; }</style></head>" +
          "<body><!-- nav boilerplate --><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), regexp_replace(col("text"), "the", "the&amp;"),
        lit("</p><br><div class=\"footer\">fin</div></body></html>"))
      SortFirst.project(d.df, Seq(col("doc_id"))) { sorted =>
        sorted.select(col("doc_id"),
          TextAnalysis.extractHtmlText(page).as("extracted"))
      }
    }),

    // per-domain document cap — the C4/FineWeb "max k docs per domain"
    // crawl-curation gate: planted URLs (host = doc_id % 7) -> parse_url
    // host extraction (built-in, no UDF) -> seeded exact-k per host via
    // sampleKPerGroup (map-side WindowGroupLimit, no full sort). The
    // oracle recomputes the host in closed form from the planting rule
    // and replays the seeded hash60 selection order — deterministic,
    // hash-exact.
    "q_domain_cap" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val withHost = d
        .withColumn("url", concat(lit("https://w"), col("doc_id") % 7,
          lit(".example.com/p/"), col("doc_id")))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
      Sampling.sampleKPerGroup(withHost, Seq("host"), "doc_id", k = 30,
          salt = "r12")
        .select("doc_id", "host").orderBy("doc_id")
    }),

    // intra-document line dedup (C4/Lee-et-al "discard repeated lines"):
    // synthetic docs are single-line, so the query PLANTS the repetition —
    // doc as 5 lines (text, BOILERPLATE, text, doc-specific tail,
    // BOILERPLATE) of which dedup must keep lines 1, 2, 4 in order
    "q_dedup_lines" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val page = concat_ws("\n", col("text"), lit("subscribe to our newsletter"),
        col("text"), concat(lit("footer "), col("doc_id")),
        lit("subscribe to our newsletter"))
      SortFirst.project(d.df, Seq(col("doc_id"))) { sorted =>
        sorted.select(col("doc_id"),
          size(split(page, "\n")).cast("long").as("n_lines"),
          size(split(TextAnalysis.dedupLines(page), "\n")).cast("long").as("n_kept"),
          md5(TextAnalysis.dedupLines(page)).as("clean_md5"))
      }
    }),

    // corpus-level boilerplate strip (CCNet paragraph dedup): lines in
    // more than maxDf distinct docs are removed from every doc. The
    // planted "subscribe" line (df=500) must vanish everywhere, the
    // per-doc "footer <id>" (df=1) must survive; any organic line
    // repetition in the synthetic text is computed identically by the
    // oracle, so the md5 compare is exact either way
    "q_strip_boilerplate" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val page = d.select(col("doc_id"),
        concat_ws("\n", col("text"), lit("subscribe to our newsletter"),
          concat(lit("footer "), col("doc_id"))).as("text"))
      Dedup.stripCommonLines(page, "doc_id", "text", maxDf = 10)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // real audio decode through the driver contract: a deterministic
    // 8-bit mono WAV per doc (sample i = (doc_id*3 + i) % 256, 1000
    // samples @ 8 kHz), encoded + decoded by the in-JDK AudioCodec in
    // extractFeatures; PCM rides the container verbatim, so the decoded
    // format facts and sample sum are exact integers the oracle
    // recomputes in closed form (the audio twin of q_multimodal_img)
    "q_multimodal_wav" -> ((s, dir) => {
      import s.implicits._
      val n = 1000
      val ids = t(s, dir, "documents").df
        .filter(col("doc_id") < 50).select("doc_id").as[Long]
      val media = ids.map { docId =>
        val samples = Array.tabulate(n)(i => ((docId * 3 + i) % 256).toByte)
        Multimodal.MediaRecord(docId, "audio/wav",
          Multimodal.AudioCodec.encodeWav(8000, samples), 0, 0, 0L)
      }
      Multimodal.extractFeatures(media)
        .filter(_.decoded)
        .toDF()
        .select(col("id").as("doc_id"),
          col("channels").cast("long").as("channels"),
          col("sampleRate").cast("long").as("sample_rate"),
          col("durationMs").as("duration_ms"),
          col("nBytes").cast("long").as("n_bytes"),
          col("byteSum").as("pcm_sum"))
        .orderBy("doc_id")
    }),

    // END-TO-END multimodal curation pipeline — the media analogue of
    // q_pipeline_curate: a corpus of 50 originals + 50 downscaled twins
    // + 5 corrupt blobs flows decode→quarantine (decoded flag) →
    // perceptual near-dup clustering (dHash + Hamming banding + CC) →
    // survivor manifest re-joined with its features. Closed form: the
    // corrupt rows are quarantined, each {original, twin} cluster keeps
    // its min id, so the manifest is exactly the 50 originals with
    // their real decoded dims and pixel-buffer size
    "q_pipeline_media" -> ((s, dir) => {
      import s.implicits._
      val media = persistOnce(s, "img", dir, imageNearDupMedia(s, dir))
      val corrupt = (0 until 5).map(d =>
        Multimodal.MediaRecord(2000000L + d, "image/png",
          s"corrupt-$d".getBytes("UTF-8"), 0, 0, 0L))
      val corpus = media.union(corrupt.toDS())
      val feats = Multimodal.extractFeatures(corpus).toDF()
      val clean = feats.filter(col("decoded"))
      val pairs = Multimodal.imageNearDupPairs(media, maxHamming = 4)
      Components.dedupByCluster(clean.select("id"), pairs, "id")
        .join(feats.select(col("id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("nBytes").cast("long").as("n_bytes")), "id")
        .orderBy("id")
    }),

    // animated-GIF frame walk through the SPI seam (GifFramesCodec on
    // the JDK's ImageIO GIF reader): one GIF per doc with doc_id%3+2
    // solid-gray frames; explodeFrames samples to 4, each PNG frame
    // decodes downstream through ImageCodec — source index, dims, and
    // the exact per-frame gray level are the oracle-able facts
    "q_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").df
        .filter(col("doc_id") < 50).select("doc_id").as[Long]
      val media = ids.map { docId =>
        val nF = (docId % 3 + 2).toInt
        val frames = (0 until nF).map { f =>
          val g = ((docId * 5 + f * 40) % 256).toInt
          Array.fill(8 * 8 * 3)(g.toByte)
        }
        Multimodal.MediaRecord(docId, "image/gif",
          GifFramesCodec.encodeAnimatedGif(8, 8, frames), 8, 8, 0L)
      }
      Multimodal.explodeFrames(media, 4)
        .map { fr =>
          val d = Multimodal.ImageCodec.decode(fr.frame)
          (fr.id, fr.frameIndex.toLong,
            d.map(_.width.toLong).getOrElse(-1L),
            d.map(_.height.toLong).getOrElse(-1L),
            d.map(x => (x.rgb(0) & 0xFF).toLong).getOrElse(-1L))
        }
        .toDF("id", "frame_index", "width", "height", "gray")
        .orderBy("id", "frame_index")
    }),

    // REAL compressed audio through the SPI seam: one IMA-ADPCM WAV
    // (format tag 0x11 — javax.sound declines it, dispatch falls through
    // to the ServiceLoader-registered AdpcmWavCodec) per doc, a sine at
    // a doc-dependent frequency. Deterministic facts (channels, rate,
    // duration, decoded-PCM size) are oracled exactly; fidelity is gated
    // in-engine as snr_ok (reconstruction > 18 dB vs the source sine),
    // which the oracle pins to TRUE for every row
    "q_multimodal_adpcm" -> ((s, dir) => {
      import s.implicits._
      val n = 505 * 2
      val ids = t(s, dir, "documents").df
        .filter(col("doc_id") < 50).select("doc_id").as[Long]
      def sineOf(docId: Long): Array[Short] = {
        val freq = 200.0 + docId * 10
        Array.tabulate(n)(i =>
          (9000 * math.sin(2 * math.Pi * freq * i / 16000)).toShort)
      }
      val media = ids.map { docId =>
        Multimodal.MediaRecord(docId, "audio/adpcm",
          AdpcmWavCodec.encode(16000, 1, sineOf(docId)), 0, 0, 0L)
      }
      val feats = Multimodal.extractFeatures(media)
        .filter(_.decoded).toDF()
        .select(col("id").as("doc_id"),
          col("channels").cast("long").as("channels"),
          col("sampleRate").cast("long").as("sample_rate"),
          col("durationMs").as("duration_ms"),
          col("nBytes").cast("long").as("n_bytes"))
      val snr = ids.map { docId =>
        val orig = sineOf(docId)
        val dec = AdpcmWavCodec.decode(
          AdpcmWavCodec.encode(16000, 1, orig)).get.pcm
        var sig = 0.0; var err = 0.0
        var i = 0
        while (i < n) {
          val d = ((dec(2 * i) & 0xFF) | (dec(2 * i + 1) << 8)).toShort
          sig += orig(i).toDouble * orig(i)
          val e = orig(i).toDouble - d
          err += e * e
          i += 1
        }
        (docId, 10 * math.log10(sig / math.max(err, 1e-12)) > 18.0)
      }.toDF("doc_id", "snr_ok")
      feats.join(snr, "doc_id").orderBy("doc_id")
    }),

    // image near-dup pairs over perceptual dHash + Hamming banding: one
    // deterministic 9x8-block pattern image per doc (block = one splitmix
    // bit, rendered 2x2 px) plus its downscaled twin under id+1000000.
    // Block patterns of different docs differ in ~24 of 64 dHash bits
    // (adjacent-comparison bits disagree w.p. 3/8), so at maxHamming=4
    // the ONLY pairs are the planted (doc, twin) ones — an exact,
    // SQL-expressible relation even though the codec itself isn't SQL
    "q_image_neardup" -> ((s, dir) => {
      // persist: same self-join doubling as q_audio_neardup below
      val media = persistOnce(s, "img", dir, imageNearDupMedia(s, dir))
      Multimodal.imageNearDupPairs(media, maxHamming = 4)
        .select("a_id", "b_id").orderBy("a_id", "b_id")
    }),

    // REAL video frame extraction through the driver contract: one
    // MJPEG-AVI per doc with (doc_id % 3 + 2) solid-color 8x8 JPEG
    // frames; explodeFrames walks the RIFF container, and each frame
    // decodes through ImageCodec — frame count, source indices, and
    // dimensions (exact through JPEG) are the oracle-able facts
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").df
        .filter(col("doc_id") < 50).select("doc_id").as[Long]
      val media = ids.map { docId =>
        val nF = (docId % 3 + 2).toInt
        val frames = (0 until nF).map { f =>
          Multimodal.VideoCodec.encodeJpeg(8, 8,
            Array.fill(8 * 8 * 3)(((docId * 5 + f * 40) % 256).toByte))
        }
        Multimodal.MediaRecord(docId, "video/x-msvideo",
          Multimodal.VideoCodec.encodeMjpegAvi(frames), 8, 8, nF * 40L)
      }
      Multimodal.explodeFrames(media, 4)
        .map { fr =>
          val d = Multimodal.ImageCodec.decode(fr.frame)
          (fr.id, fr.frameIndex.toLong,
            d.map(_.width.toLong).getOrElse(-1L),
            d.map(_.height.toLong).getOrElse(-1L))
        }
        .toDF("id", "frame_index", "width", "height")
        .orderBy("id", "frame_index")
    }),

    // audio near-dup pairs over the energy-profile aHash: one
    // deterministic 65-bin waveform per doc plus a twin whose samples
    // are reversed WITHIN each bin (same energy profile, different
    // bytes) under id+1000000 — the hash must pair exactly the planted
    // twins, since different docs' bin profiles disagree in ~24 of 64
    // comparison bits (same pigeonhole analysis as q_image_neardup)
    "q_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      def mix(z0: Long): Long = {
        var z = z0 + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val ids = t(s, dir, "documents").df
        .filter(col("doc_id") < 50).select("doc_id").as[Long]
      val media = ids.flatMap { docId =>
        def wav(reverse: Boolean): Array[Byte] = {
          val samples = (0 until 65).flatMap { k =>
            val m = ((mix(docId * 67 + k) & 7L) * 16L).toInt
            val bin = (0 until 20).map(j => (128 + (if (j % 2 == 0) m else -m)).toByte)
            if (reverse) bin.reverse else bin
          }.toArray
          Multimodal.AudioCodec.encodeWav(8000, samples)
        }
        Seq(
          Multimodal.MediaRecord(docId, "audio/wav", wav(reverse = false), 0, 0, 0L),
          Multimodal.MediaRecord(docId + 1000000L, "audio/wav", wav(reverse = true), 0, 0, 0L))
      }
      // persist: hammingPairs self-joins the hash relation, which would
      // run the WAV-encoding generator once per join side
      Multimodal.audioNearDupPairs(
        persistOnce(s, "wav", dir, media), maxHamming = 4)
        .select("a_id", "b_id").orderBy("a_id", "b_id")
    }),

    // the multimodal dedup FINALE: dHash pairs -> connected components ->
    // one survivor per image cluster. Planted clusters are exactly
    // {doc, twin}, min id = the original, so survivors == the originals
    "q_image_dedup" -> ((s, dir) => {
      // persist the planted fixture: every action of the component loop
      // (plus the anti-join finale) would otherwise re-run the PNG
      // encode/resize/dHash generator end-to-end. At corpus scale the
      // input is a parquet scan — the fixture must cost like one.
      val media = persistOnce(s, "img", dir, imageNearDupMedia(s, dir))
      val pairs = Multimodal.imageNearDupPairs(media, maxHamming = 4)
      Components.dedupByCluster(media.toDF().select("id"), pairs, "id")
        .orderBy("id")
    }),

    // END-TO-END curation pipeline — the composition a real corpus run
    // chains: train/holdout split -> language gate -> length gate ->
    // fingerprint dedup (keep min doc_id) -> cross-split decontamination
    // -> token accounting. Every stage is individually oracle-proven
    // (q_langid, q_textstats, q_dedup_text, q_decontaminated); this row
    // proves the COMPOSITION end-to-end against one DuckDB replay. Plan
    // stays fully lazy/declarative: the gates are codegen'd projections
    // pushed toward the scan, dedup is one keyed window, decontamination
    // is the semi-join-pruned postings shuffle.
    "q_pipeline_curate" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val hold = d.filter(col("doc_id") % 5 === 0)
      val gated = d.filter(col("doc_id") % 5 =!= 0)
        .filter(TextAnalysis.langId(col("text")) === "en")
        .filter(TextAnalysis.tokenCount(col("text")) >= 20)
      val fp = TextAnalysis.fingerprint60(TextAnalysis.normalized(col("text")))
      val deduped = Dedup.exact(gated.withColumn("fp", fp), Seq("fp"), Seq(col("doc_id")))
      Dedup.decontaminate(deduped, hold, "doc_id", "text",
          k = 3, threshold = 0.6, maxDf = Some(1000))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // END-TO-END web-crawl curation (round 12) — the composition a
    // crawl-to-corpus run chains, tying this round's two new ops into
    // the existing gates: planted HTML pages + URLs -> extractHtmlText
    // -> language gate -> length gate -> per-domain cap. Every stage is
    // individually oracle-proven (q_html_extract, q_langid,
    // q_textstats, q_domain_cap); this row proves the COMPOSITION
    // against one DuckDB CTE chain (closed-form extraction + langid
    // replay over the EXTRACTED text — whose 'the&' substitutions
    // shift the stopword ratios, so the gate genuinely re-scores the
    // post-extraction text — + replayed hash60 cap order). Fully lazy:
    // codegen'd projections + one partitioned WindowGroupLimit.
    "q_pipeline_web" -> ((s, dir) => {
      // left on the natural scan: a widen() here is defeated by filter
      // pushdown — Catalyst pushes the langId/token gates back below the
      // round-robin exchange (alias-substituting the whole extraction
      // chain into them), so the heavy leg stays single-task AND runs
      // twice; measured 2.5 s natural vs 3.1 s widened
      val d = t(s, dir, "documents").df
      val page = concat(
        lit("<html><head><title>Doc</title><script>var x = 1 < 2;</script>" +
          "<style>p { color: red; }</style></head>" +
          "<body><!-- nav --><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), regexp_replace(col("text"), "the", "the&amp;"),
        lit("</p><div>fin</div></body></html>"))
      val url = concat(lit("https://w"), col("doc_id") % 7,
        lit(".example.com/p/"), col("doc_id"))
      val extracted = d.select(col("doc_id"),
        parse_url(url, lit("HOST")).as("host"),
        TextAnalysis.extractHtmlText(page).as("text"))
      val gated = extracted
        .filter(TextAnalysis.langId(col("text")) === "en")
        .filter(TextAnalysis.tokenCount(col("text")) >= 25)
      Sampling.sampleKPerGroup(gated, Seq("host"), "doc_id", k = 25,
          salt = "web")
        .select(col("doc_id"), col("host"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // the online half of boilerplate strip: a precomputed hot-line set
    // applied as a stateless map-only projection (streaming-safe)
    "q_strip_known" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val page = concat_ws("\n", col("text"),
        lit("subscribe to our newsletter"), concat(lit("footer "), col("doc_id")))
      d.select(col("doc_id"),
          md5(TextAnalysis.stripLines(page,
            Seq("subscribe to our newsletter"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // weighted corpus mixing: 25% of English + all of the rest, each
    // source hash-sampled under its own salt — deterministic mixture,
    // filters pushed to each scan, no shuffle in the mix
    "q_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val mixed = Sampling.mixCorpora(Seq(
          ("en_down", d.filter(col("lang") === "en"), 0.25),
          ("rest_full", d.filter(col("lang") =!= "en"), 1.0)),
        keyCol = "doc_id")
      mixed.select("doc_id", "lang", "mix_source").orderBy("doc_id")
    }),

    // one-hot encoding with explicit categories: codegen'd indicator
    // CASE columns, shuffle-free (value discovery would be an eager scan)
    "q_dummies" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.getDummies("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          prefix = "seg")
        .select("c_custkey", "seg_AUTOMOBILE", "seg_BUILDING",
          "seg_FURNITURE", "seg_HOUSEHOLD", "seg_MACHINERY")
        .sortValues(Seq("c_custkey")).df
    }),

    // two-way frequency table (pandas crosstab): one pivot pass, zeros
    "q_crosstab" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.crosstab("o_orderpriority", "o_orderstatus", Seq("F", "O", "P"))
        .sortValues(Seq("o_orderpriority")).df
    }),

    // pandas combine_first: self wins, other fills the gaps (full outer
    // join + codegen'd coalesce); nulls fabricated on a deterministic mask
    "q_combine_first" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val l = PsDataFrame(c.df.select(col("c_custkey"),
        when(col("c_nationkey") % 3 === 0, lit(null))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        col("c_name")))
      val r = PsDataFrame(c.df.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")))
      l.combineFirst(r, Seq("c_custkey"))
        .sortValues(Seq("c_custkey")).df
    }),

    // pandas merge(indicator=True): presence flags carried through the
    // outer join -> _merge = both | left_only | right_only
    "q_merge_ind" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val rich = PsDataFrame(t(s, dir, "customer").df
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("o_custkey"), col("c_acctbal")))
      o.mergeIndicator(rich, Seq("o_custkey"), how = "outer")
        .sortValues(Seq("o_custkey", "o_orderkey")).df
    }),

    // pandas groupby().filter(len >= n): one unordered window count —
    // never the agg-then-self-join double shuffle
    "q_group_filter" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupby("l_orderkey").filterSize(5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .sortValues(Seq("l_orderkey", "l_linenumber")).df
    }),

    // per-group modal value (ties -> smallest value, deterministic):
    // counts pass + struct-extrema argmax, never a per-group sort
    "q_mode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupby("source").mode("lang", "top_lang")
        .sortValues(Seq("source")).df
    }),

    // multi-granularity dataset-card report: every lang × source subset
    // in ONE Expand + partial/final agg pass, strata labeled by gid
    "q_cube" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.cube("lang", "source").aggWithGroupingId("gid",
        ("n_chars", "count") -> "n",
        ("n_chars", "sum") -> "chars")
        .sortValues(Seq("gid", "lang", "source")).df
    }),

    // hierarchical subtotals (status → priority drill-down), money summed
    // as decimal then cast back (float-parity convention, see header)
    "q_rollup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.set("price_d", o("o_totalprice").cast("decimal(18,2)"))
      val g = o.rollup("o_orderstatus", "o_orderpriority").aggWithGroupingId("gid",
        ("o_orderkey", "count") -> "n",
        ("price_d", "sum") -> "total_d")
      g.set("total", g("total_d").cast("double"))
      g.select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
        .sortValues(Seq("gid", "o_orderstatus", "o_orderpriority")).df
    }),

    // exactly the report's granularities: per-lang, per-source, total —
    // Expand factor 3, not cube's 4
    "q_grouping_sets" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupingSets(Seq(Seq("lang"), Seq("source"), Seq()), "lang", "source")
        .aggWithGroupingId("gid", ("n_chars", "count") -> "n")
        .sortValues(Seq("gid", "lang", "source")).df
    }),

    // pandas replace: literal value mapping, unmatched pass through
    "q_replace" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.replaceVals("lang", Seq("en" -> "english", "de" -> "german"))
        .select("doc_id", "lang").sortValues(Seq("doc_id")).df
    }),

    // pandas diff/pct_change over each customer's order sequence (the
    // unique o_orderkey makes the lag order total — lineitem's
    // (orderkey, linenumber) is NOT unique in this corpus, so a lag
    // there would be tie-ambiguous across engines); the pct is one IEEE
    // division on doubles
    "q_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val ord = Seq(o("o_orderkey").asc)
      o.diffCol("o_totalprice", 1, Seq("o_custkey"), ord, "d_price")
        .pctChange("o_totalprice", 1, Seq("o_custkey"), ord, "pct_price")
        .select("o_custkey", "o_orderkey", "d_price", "pct_price")
        .sortValues(Seq("o_custkey", "o_orderkey")).df
    }),

    // pandas cummax/cummin: running price extrema per customer — one
    // window pass, O(1) running state per row
    "q_cummax" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.cumAgg("o_totalprice", "max", Seq("o_custkey"), Seq("o_orderkey"), "run_max")
        .cumAgg("o_totalprice", "min", Seq("o_custkey"), Seq("o_orderkey"), "run_min")
        .select("o_custkey", "o_orderkey", "run_max", "run_min")
        .sortValues(Seq("o_custkey", "o_orderkey")).df
    }),

    // gap filling (pandas ffill/bfill/interpolate): deterministic null
    // mask, then forward/backward IGNORE-NULLS windows and position-
    // linear interior interpolation (edges stay null)
    "q_interp" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val masked = PsDataFrame(o.df.select(col("o_custkey"), col("o_orderkey"),
        when(col("o_orderkey") % 5 < 2, lit(null))
          .otherwise(col("o_totalprice")).as("price")))
      masked.ffill("price", Seq("o_custkey"), Seq("o_orderkey"), "price_ff")
        .bfill("price", Seq("o_custkey"), Seq("o_orderkey"), "price_bf")
        .interpolate("price", Seq("o_custkey"), Seq("o_orderkey"), "price_li")
        .select("o_custkey", "o_orderkey", "price",
          "price_ff", "price_bf", "price_li")
        .sortValues(Seq("o_custkey", "o_orderkey")).df
    }),

    // rank + shift (pandas rank/shift analogues) per customer
    "q_ranklag" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val ranked = o.rankIn(Seq("o_custkey"),
        Seq(o("o_totalprice").desc, o("o_orderkey").asc), "rnk")
      ranked.lagCol("o_totalprice", 1, Seq("o_custkey"),
          Seq(ranked("o_totalprice").desc, ranked("o_orderkey").asc), "prev_price")
        .select("o_custkey", "o_orderkey", "rnk", "prev_price")
        .sortValues(Seq("o_custkey", "o_orderkey")).df
    }),

    // percentile rank (pandas rank(pct=True), average method) + 0-based
    // group position (cumcount): three windows over one sort
    "q_rank_pct" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val ranked = o.rankIn(Seq("o_custkey"),
        Seq(o("o_totalprice").asc), "pct", method = "pct")
      ranked.cumcount(Seq("o_custkey"),
          Seq(ranked("o_totalprice").asc, ranked("o_orderkey").asc), "pos")
        .select("o_custkey", "o_orderkey", "pct", "pos")
        .sortValues(Seq("o_custkey", "o_orderkey")).df
    }),

    // per-group top-k (pandas groupby().head() / per-group nlargest):
    // map-side WindowGroupLimit keeps <=3 rows per key before the shuffle
    "q_group_topk" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.headPerGroup(3, Seq("o_orderpriority"),
          Seq(o("o_totalprice").desc, o("o_orderkey").asc))
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .sortValues(Seq("o_orderpriority", "o_orderkey")).df
    }),

    // (q_sketches retired in r12: it was the rows-only precursor of
    // q_sketches_err below, which pins the same sketch aggregates with
    // oracled error-bound booleans — strictly more coverage per row)

    // the ORACLED face of the sketch family: exact distincts/percentile
    // are recomputed by DuckDB, and the sketch error is pinned as
    // booleans the oracle expects to be uniformly true — HLL++ within 3x
    // its configured 5% rsd, approximate median within 1.0 of the exact
    // median (accuracy 10000 => rank error <= n/10000). A sketch
    // regression (hash change, merge bug, accuracy misconfig) flips a
    // boolean and turns the row red; the raw approximations stay
    // implementation-specific and are deliberately NOT output.
    "q_sketches_err" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      // countDistinct must NOT share an agg with the percentile buffers:
      // Spark's distinct rewrite Expands every row and drags the whole
      // aggregation onto the sort-based object path (measured 13-16 s at
      // sf0.1 vs 0.76 s for two aggs + a 3-row join — the count()-forced
      // bench hid this by pruning the outputs entirely)
      val distincts = li.groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"))
      val quantiles = li.groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.5)").as("exact_p50"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("approx_p50"))
      distincts.join(quantiles, "l_returnflag")
        .select(
          col("l_returnflag"),
          col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.15).as("hll_ok"),
          (abs(col("approx_p50") - col("exact_p50")) <= 1.0).as("p50_ok"))
        .orderBy("l_returnflag")
    }),

    // storable-sketch incremental maintenance: per-(lang, batch) HLL
    // sketches built as if by three separate ingestion runs, MERGED
    // (losslessly — register max) into per-lang sketches whose estimate
    // must sit within 3x rsd of the exact distinct; booleans pinned true
    // like q_sketches_err. The never-rescan distinct-count shape.
    "q_hll_incr" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.withColumn("batch", col("doc_id") % 3)
      val merged = d.groupBy("lang", "batch")
        .agg(Sketches.hllSketch(col("doc_id")).as("sk"))
        .groupBy("lang")
        .agg(Sketches.hllMerge(col("sk")).as("sk"))
        .withColumn("est", Sketches.hllEstimate(col("sk")))
      val exact = d.groupBy("lang").agg(countDistinct("doc_id").as("exact_distinct"))
      merged.join(exact, "lang")
        .select(col("lang"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05 + lit(5.0)).as("est_ok"))
        .orderBy("lang")
    }),

    // storable-quantile incremental maintenance (KLL — the third member
    // of the sketch family): per-(flag, batch) sketches built as if by
    // three separate ingestion runs, MERGED per flag; n is EXACT through
    // the merge tree, and each estimated quartile must sit within one
    // quantity step (1.0) of the exact percentile — pinned booleans like
    // q_hll_incr. Raw estimates are partition-dependent (KllSketch's
    // determinism caveat) and deliberately NOT output.
    "q_kll_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df.withColumn("batch", col("l_orderkey") % 3)
      val sk = li.groupBy("l_returnflag", "batch")
        .agg(Sketches.kllSketch(col("l_quantity")).as("sk"))
        .groupBy("l_returnflag")
        .agg(Sketches.kllMerge(col("sk")).as("sk"))
        .select(col("l_returnflag"),
          Sketches.kllCount(col("sk")).as("sketch_n"),
          Sketches.kllQuantile(col("sk"), 0.25).as("q25"),
          Sketches.kllQuantile(col("sk"), 0.5).as("q50"),
          Sketches.kllQuantile(col("sk"), 0.75).as("q75"))
      val exact = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("percentile(l_quantity, 0.25)").as("e25"),
          expr("percentile(l_quantity, 0.5)").as("e50"),
          expr("percentile(l_quantity, 0.75)").as("e75"))
      sk.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          (col("sketch_n") === col("n")).as("n_exact"),
          (abs(col("q25") - col("e25")) <= 1.0).as("q25_ok"),
          (abs(col("q50") - col("e50")) <= 1.0).as("q50_ok"),
          (abs(col("q75") - col("e75")) <= 1.0).as("q75_ok"))
        .orderBy("l_returnflag")
    }),

    // Misra-Gries heavy hitters over the token stream: every token the
    // MG theorem GUARANTEES retained (exact count > n/(k+1)) must be
    // present with its count inside [exact − n/(k+1), exact] — pinned
    // booleans, theorem-backed, deterministic row set. Integer
    // arithmetic throughout (counts, k+1 cross-multiplied).
    "q_heavy_hitters" -> ((s, dir) => {
      val k = 64
      val toks = t(s, dir, "documents").df
        .select(explode(split(col("text"), " ")).as("token"))
      val sk = toks.agg(Sketches.heavyHitters(col("token"), k).as("mg"))
      val tot = toks.agg(count(lit(1)).as("n"))
      val mgCnt = element_at(col("mg"), col("token"))
      toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(sk).crossJoin(tot)
        .filter(col("exact_cnt") * (k + 1) > col("n"))
        .select(col("token"), col("exact_cnt"),
          mgCnt.isNotNull.as("present"),
          (mgCnt <= col("exact_cnt") &&
            (col("exact_cnt") - mgCnt) * (k + 1) <= col("n")).as("bound_ok"))
        .orderBy("token")
    }),

    // pandas pivot_table: order counts by priority, one column per
    // status (explicit pivot values -> composition stays lazy)
    "q_pivot" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupby("o_orderpriority")
        .pivotAgg("o_orderstatus", Seq("O", "F", "P"), "o_orderkey", "count")
        .sortValues(Seq("o_orderpriority")).df
    }),

    // pandas clip / between: exact comparison ops, no float arithmetic
    "q_clip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.set("qty_clip", li("l_quantity").clip(10, 40))
      li.set("in_band", li("l_quantity").between(10, 40))
      li.select("l_orderkey", "l_linenumber", "qty_clip", "in_band")
        .sortValues(Seq("l_orderkey", "l_linenumber")).df
    }),

    // pandas .str accessor: literal replace / slice / split_part / pads —
    // all codegen'd built-ins, strings are oracle-exact
    "q_strops" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.set("name_up", p("p_name").str.upper)
      p.set("name_len", p("p_name").str.len)
      p.set("type_first", p("p_type").str.splitPart(" ", 1))
      p.set("brand_dash", p("p_brand").str.replace("Brand#", "B-"))
      p.set("name8", p("p_name").str.slice(0, 8))
      p.set("brand_pad", p("p_brand").str.padLeft(10, "_"))
      p.select("p_partkey", "name_up", "name_len", "type_first",
          "brand_dash", "name8", "brand_pad")
        .sortValues(Seq("p_partkey")).df
    }),

    // pandas .str regex family (extract/count/match) — the reference
    // rejects regex outright (core.py:486-487); a pipeline extension.
    // Patterns stay in the Java-regex ∩ RE2 common subset so the DuckDB
    // oracle is bit-identical.
    "q_regex" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.set("first_long", d("text").str.extract("([A-Za-z]{6,})"))
      d.set("vowels", d("text").str.countMatches("[aeiou]"))
      d.set("starts_upper", d("text").str.matches("[A-Z]"))
      d.select("doc_id", "first_long", "vowels", "starts_upper")
        .sortValues(Seq("doc_id")).df
    }),

    // pandas .dt accessor: extraction + trunc + day diff. dayofweek is
    // pandas' Monday=0 (Spark dayofweek is Sunday=1; DuckDB isodow is
    // Monday=1 — both remapped)
    "q_datetime" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.set("yr", o("o_orderdate").dt.year)
      o.set("mo", o("o_orderdate").dt.month)
      o.set("dy", o("o_orderdate").dt.day)
      o.set("qtr", o("o_orderdate").dt.quarter)
      o.set("dow", o("o_orderdate").dt.dayofweek)
      o.set("mstart", o("o_orderdate").dt.trunc("month"))
      o.set("days_since", o("o_orderdate").dt.diffDays(
        org.apache.spark.sql.functions.to_date(lit("1995-01-01"))))
      o.select("o_orderkey", "yr", "mo", "dy", "qtr", "dow", "mstart", "days_since")
        .sortValues(Seq("o_orderkey")).df
    }),

    // SQL INTERSECT / EXCEPT (distinct set ops the reference lacks):
    // F-status orders that do/don't appear in lineitem
    "q_intersect" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.select("l_orderkey").rename(Map("l_orderkey" -> "k"))
        .intersect(o.where(o("o_orderstatus") === "F")
          .select("o_orderkey").rename(Map("o_orderkey" -> "k")))
        .sortValues(Seq("k")).df
    }),
    "q_except" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.select("l_orderkey").rename(Map("l_orderkey" -> "k"))
        .exceptRows(o.where(o("o_orderstatus") === "F")
          .select("o_orderkey").rename(Map("o_orderkey" -> "k")))
        .sortValues(Seq("k")).df
    }),

    // true Cartesian product (the reference fakes this with dummy=1):
    // region x nation, 5x25 rows — BroadcastNestedLoopJoin, no shuffle
    "q_cross" -> ((s, dir) => {
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")
        .sortValues(Seq("r_regionkey", "n_nationkey")).df
    }),

    // pandas rolling(7).mean() over a daily aggregate: the rolled
    // ordering MUST be a total order ((l_orderkey, l_linenumber) has ties
    // in the testdata, which makes a ROWS frame engine-nondeterministic);
    // (returnflag, shipdate) is unique after the groupby, and the daily
    // sums are integer-valued so the mean stays an exact ratio
    "q_rolling" -> ((s, dir) => {
      t(s, dir, "lineitem").groupby("l_returnflag", "l_shipdate")
        .agg("l_quantity" -> "sum" -> "qty")
        .rollingMean("qty", 7, Seq("l_returnflag"), Seq("l_shipdate"), "qty_ma7")
        .sortValues(Seq("l_returnflag", "l_shipdate")).df
    }),

    // pandas rolling("5min", on=ts) — TIME-based rolling (RANGE frame on
    // the ns epoch axis), per user. Integer cents keep every rolled
    // sum/extreme exact; the mean is re-derived as ONE IEEE division of
    // exact integers on both engines (never a float accumulation), so the
    // hash compare holds bit-for-bit
    "q_rolling_time" -> ((s, dir) => {
      PsDataFrame(eventsCents(s, dir))
        .rollingTimeAggs(Seq( // one WindowExec pass for all four
          ("cents", "count", "roll_n"),
          ("cents", "sum", "roll_sum_cents"),
          ("cents", "min", "roll_min_cents"),
          ("cents", "max", "roll_max_cents")), "5min", "ts", Seq("user_id"))
        .df
        .select(col("event_id"), col("user_id"), col("ts").as("ns"),
          col("roll_n"), col("roll_sum_cents"), col("roll_min_cents"),
          col("roll_max_cents"),
          (col("roll_sum_cents") / (col("roll_n") * lit(100.0))).as("roll_mean"))
        .orderBy("event_id")
    }),

    // rolling sample variance/std (ddof=1) over the time frame: the
    // sum/sumsq identity on integer cents makes both moments a
    // deterministic function of exact windowed integer sums — the oracle
    // replays the identical expression term-for-term (a per-engine
    // Welford recurrence would differ in ulps and fail the hash)
    "q_rolling_var" -> ((s, dir) => {
      PsDataFrame(eventsCents(s, dir))
        .rollingTimeAggs(Seq( // one WindowExec pass for all three
          ("cents", "count", "roll_n"),
          ("cents", "var", "roll_var_cents"),
          ("cents", "std", "roll_std_cents")), "10min", "ts", Seq("user_id"))
        .df
        .select(col("event_id"), col("user_id"), col("roll_n"),
          col("roll_var_cents"), col("roll_std_cents"))
        .orderBy("event_id")
    }),

    // pandas std/var/median (ddof=1): native stddev_samp/var_samp/
    // percentile — bit-parity with DuckDB verified on integer-valued
    // quantities (sums are exact, final divisions deterministic)
    "q_std" -> ((s, dir) => {
      t(s, dir, "lineitem").groupby("l_returnflag")
        .agg("l_quantity" -> "std" -> "qty_std",
             "l_quantity" -> "var" -> "qty_var",
             "l_quantity" -> "median" -> "qty_med",
             "l_quantity" -> "mean" -> "qty_mean")
        .sortValues(Seq("l_returnflag")).df
    }),

    // pandas groupby().quantile(q) — exact linear interpolation; 0.25 of
    // integers is exactly representable, so the hash compare holds
    "q_quantile" -> ((s, dir) => {
      t(s, dir, "lineitem").groupby("l_returnflag")
        .quantile("l_quantity", 0.25, "qty_q25")
        .sortValues(Seq("l_returnflag")).df
    }),

    // pandas describe(): all eight summary stats in ONE agg pass +
    // stack unpivot; restricted to integer-valued columns so every stat
    // is an exact ratio / interpolation (float-parity discipline)
    "q_describe" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_linenumber", "l_quantity")
        .describe().sortValues(Seq("agg")).df
    }),

    // pandas explode(): one row per array element via explode_outer
    "q_explode" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.set("word", split(col("p_name"), " "))
      p.explodeCol("word")
        .select("p_partkey", "word")
        .sortValues(Seq("p_partkey", "word")).df
    }),

    // pandas where/mask: conditional keep-or-replace, null default
    "q_mask" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.set("qty_small", li("l_quantity").whereCond(li("l_quantity") <= 25))
      li.set("qty_capped", li("l_quantity").mask(li("l_quantity") > 25, 25))
      li.select("l_orderkey", "l_linenumber", "qty_small", "qty_capped")
        .sortValues(Seq("l_orderkey", "l_linenumber")).df
    }),

    // pandas duplicated(subset, keep='first') as a flag — explicit order
    // (doc_id) replaces pandas' implicit row order
    "q_duplicated" -> ((s, dir) => {
      t(s, dir, "documents")
        .duplicated(Seq("text"), Seq("doc_id"))
        .select("doc_id", "duplicated")
        .sortValues(Seq("doc_id")).df
    }),

    // pandas melt: wide-to-long over three measure columns (cast to the
    // shared double type first, like pandas' least-common-dtype rule)
    "q_melt" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.set("qty_d", li("l_quantity").cast("double"))
      // expand-local-sort: the 3× stack expansion happens AFTER the range
      // exchange on the (unique) pre-melt keys, so the widened rows are
      // never shuffled and never re-run by the range sampler; the local
      // sort restores the exact (okey, linenumber, variable) total order
      // (measured 1.39 s -> 0.83 s, rows identical)
      SortFirst.expandLocalSort(li.df,
          Seq(col("l_orderkey"), col("l_linenumber")),
          Seq(col("l_orderkey"), col("l_linenumber"), col("variable"))) { inp =>
        PsDataFrame(inp).melt(Seq("l_orderkey", "l_linenumber"),
          Seq("qty_d", "l_extendedprice", "l_discount")).df
      }
    }),

    // pandas value_counts: per-value frequency, most frequent first
    "q_value_counts" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.valueCounts("lang").df
    }),

    // pandas nunique (distinct-count aggregate; not in the reference)
    "q_nunique" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupby("l_returnflag").agg(
          ("l_partkey", "nunique") -> "n_parts",
          ("l_suppkey", "nunique") -> "n_supp")
        .sortValues(Seq("l_returnflag")).df
    }),

    // ---- deterministic sampling / splitting -------------------------

    // deterministic pseudorandom shuffle order (the training-shard
    // permutation writeShuffled lays out on disk): seeded md5 of the id,
    // identical hex in both engines, so the ORDER itself is oracled
    "q_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.df.select(col("doc_id"),
          PsIO.shuffleKey(42L, col("doc_id")).as("shuffle_key"))
        .orderBy("shuffle_key")
    }),

    // token-budget selection: best documents by (n_chars desc, doc_id)
    // until 10k cumulative whitespace tokens (cuts ~2/3 of the corpus at the verify scale) — the distributed
    // prefix-sum form (per-partition sums -> driver exclusive scan ->
    // parallel per-partition windows), never a single global window
    "q_select_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
        .withColumn("toks", TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.selectByBudget(d, "n_chars", "doc_id", "toks", budget = 10000L)
        .select(col("doc_id"), col("n_chars"), col("toks"), col("cum_tokens"))
        .orderBy("doc_id")
    }),

    // order-insensitive corpus content fingerprint: (rows, Σ hash60 of
    // the rows) — equality of two corpora without sorting either side;
    // the oracle recomputes the identical sum, proving the fingerprint
    // is engine-portable (a migration can be verified from either end)
    "q_content_fp" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      PsIO.contentFingerprint(d, Seq("doc_id", "text", "lang", "source", "n_chars"))
    }),

    // per-file manifest of a multi-file fixture: both engines read the
    // SAME physical files, so basenames, per-file counts, and per-file
    // checksums must agree exactly — validates the shard-localization
    // machinery that turns a corpus-fingerprint mismatch into a named
    // list of diverged files
    "q_file_manifest" -> ((s, dir) => {
      manifestFixture(s, dir)
      PsIO.fileManifest(PsIO.parquet(s, ManifestFixtureDir),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("file")
    }),

    // declarative data-quality gate (Checks): every row-local rule one
    // agg term over ONE shared scan; Unique the only shuffle; RefIn a
    // broadcastable anti-join. Exact violation counts on both engines.
    "q_checks" -> ((s, dir) => {
      val o = t(s, dir, "orders").df
      val cust = t(s, dir, "customer").df
      graft.operators.Checks.run(o, Seq(
        graft.operators.Checks.NotNull("o_custkey"),
        graft.operators.Checks.InRange("o_totalprice", 0.0, 300000.0),
        graft.operators.Checks.Matches("o_orderpriority", "^[1-5]-"),
        graft.operators.Checks.OneOf("o_orderstatus", Seq("F", "O")),
        graft.operators.Checks.Unique(Seq("o_orderkey")),
        graft.operators.Checks.Unique(Seq("o_custkey")),
        graft.operators.Checks.RefIn("o_custkey", cust, "c_custkey"),
        // same dimension through the on-disk face (RefInParquet): the
        // rule is a pure value (a path), resolved to a scan at run()
        // time — emits a second identical ref_in row
        graft.operators.Checks.RefInParquet(
          "o_custkey", s"$dir/customer.parquet", "c_custkey")))
    }),

    // row-level quality flags (Checks.flag): stateless projections that
    // route bad rows instead of judging the corpus — the streaming-safe
    // face of the gate (StreamingSpec runs it under writeStream)
    "q_checks_flag" -> ((s, dir) => {
      val o = t(s, dir, "orders").df
      graft.operators.Checks.flag(o, Seq(
          graft.operators.Checks.InRange("o_totalprice", 0.0, 300000.0),
          graft.operators.Checks.OneOf("o_orderstatus", Seq("F", "O"))))
        .select("o_orderkey", "in_range_o_totalprice_bad",
          "one_of_o_orderstatus_bad", "row_bad")
        .orderBy("o_orderkey")
    }),

    // distribution-drift contingency (Drift.bins): exact per-(column,
    // bin) counts across two snapshot sides — ONE scan per side (every
    // dimension's bin label computed in the same projection, exploded,
    // partially aggregated map-side), absent bins zero-filled. The
    // fixture drifts for real: cur drops French and truncates long docs,
    // so lang/n_chars move while source stays near-uniform; lang_tag
    // nulls zh on both sides to put mass in the z_null bin
    "q_drift_bins" -> ((s, dir) => {
      val (ref, cur) = psiSides(s, dir)
      val exprs = psiExprsFor(s, dir, "docs", ref, psiDims)
      graft.operators.Drift.binsWith(exprs, ref, cur)
        .orderBy("column", "bin")
    }),

    // the per-column PSI report over the same contingency: psi_bp =
    // round(PSI*10000) as BIGINT, computed by a sequential fold over the
    // SORTED cell list (partitioning-invariant float order) with add-one
    // smoothing on exact integer counts — the oracle replays the
    // identical term shape via DuckDB list_transform + list sum
    "q_drift_report" -> ((s, dir) => {
      val (ref, cur) = psiSides(s, dir)
      val exprs = psiExprsFor(s, dir, "docs", ref, psiDims)
      graft.operators.Drift.reportFromContingency(
        graft.operators.Drift.binsWith(exprs, ref, cur))
    }),

    // the streaming drift transform's batch face as an oracled row: the
    // per-(hour window, column, bin) contingency over the events table —
    // EXACTLY the aggregation streamingDriftBins runs per micro-batch
    // (the watermark is a no-op in batch), window starts emitted as
    // epoch seconds (the q_window_events device: no timestamp columns
    // in oracle-compared output)
    "q_drift_windows" -> ((s, dir) => {
      val (ev, exprs) = eventsDriftSide(s, dir)
      graft.streaming.StreamingOps.streamingDriftBins(ev, exprs, "1 hour", "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_s"),
          col("column"), col("bin"), col("cur_n"))
        .orderBy("window_s", "column", "bin")
    }),

    // the monitor's scoring face end-to-end in batch: every closed
    // window's contingency scored against the full-corpus reference
    // cells (collected once per session — Σbins rows, the bounded
    // ANN-codebook posture — and inlined as literals) with the EXACT
    // batch PSI semantics, ONE aggregation and zero joins;
    // StreamingSpec holds the differential proving the foreachBatch
    // monitor emits these same rows per closed window across a
    // kill/restart
    "q_drift_scored" -> ((s, dir) => {
      val (ev, exprs) = eventsDriftSide(s, dir)
      val wb = graft.streaming.StreamingOps
        .streamingDriftBins(ev, exprs, "1 hour", "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_s"),
          col("column"), col("bin"), col("cur_n"))
      // one-time bounded collect, cached like the drift label exprs so
      // re-composition stays metadata-only
      val refCells = once(s, "drift_ref_cells", dir)(
        graft.operators.Drift.collectReference(
          graft.operators.Drift.referenceCounts(ev, exprs)))
      graft.operators.Drift.scoreWindowsWith(wb, refCells, "window_s")
    }),

    // the STORABLE face of the same report: resolve the binning spec
    // once, persist it (tiny parquet, like the IVF/PQ index artifacts),
    // and score from the LOADED spec — proving month-over-month
    // monitoring sees identical bins across sessions; the oracle is
    // q_drift_report's, so the compare pins loaded == resolved
    "q_drift_spec" -> ((s, dir) => {
      driftSpecFixture(s, dir)
      val (ref, cur) = psiSides(s, dir)
      // load once (the artifact-load posture the ANN index caches
      // use): the spec is plain values, so re-composition stays
      // metadata-only after the first load (LazinessSpec)
      val spec = once(s, "drift_spec_loaded", dir)(
        graft.operators.Drift.loadSpec(s, DriftSpecDir))
      graft.operators.Drift.reportFromContingency(
        graft.operators.Drift.binsWith(
          graft.operators.Drift.exprsFromSpec(spec), ref, cur))
    }),

    // per-source drilldown of the same drift: which origin moved —
    // GLOBAL top sets (bins comparable across groups), per-group
    // zero-fill, one exact psi_bp fold per (source, column)
    "q_drift_by_source" -> ((s, dir) => {
      val (ref, cur) = psiSides(s, dir)
      val exprs = psiExprsFor(s, dir, "docs_group", ref, psiGroupDims)
      graft.operators.Drift.reportFromContingency(
        graft.operators.Drift.binsByWith(exprs, ref, cur, Seq("source")),
        extraGroupCols = Seq("source"))
    }),

    // one-pass corpus health report per language: volume (docs, tokens,
    // chars), length profile, source diversity, short-doc and exact-dup
    // counts (normalized-fingerprint distinct) — the "describe" of a
    // corpus, one grouped aggregate over one scan
    "q_corpus_profile" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
        .withColumn("toks", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("fp",
          TextAnalysis.fingerprint60(TextAnalysis.normalized(col("text"))))
      d.groupBy("lang").agg(
          count(lit(1)).as("docs"),
          sum("toks").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          (sum("toks").cast("double") / count(lit(1))).as("avg_tokens"),
          countDistinct("source").as("n_sources"),
          sum(when(col("toks") < 20, 1L).otherwise(0L)).as("short_docs"),
          (count(lit(1)) - countDistinct("fp")).as("exact_dups"))
        .orderBy("lang")
    }),

    // token-aware mixture: per-language token budgets (the form training
    // recipes state mixtures in — tokens, not document fractions); es/zh
    // absent from the budget map and therefore dropped entirely
    "q_budget_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
        .withColumn("toks", TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.selectByBudgetPerGroup(d, "lang", "n_chars", "doc_id", "toks",
          Map("en" -> 4000L, "de" -> 2000L, "fr" -> 1500L))
        .select(col("doc_id"), col("lang"), col("toks"), col("cum_tokens"))
        .orderBy("doc_id")
    }),

    // the RELEASE CUT composed from this round's operators, replayed as
    // ONE DuckDB CTE chain: leakage-safe split (near-dup clusters move
    // as a unit) -> train side -> length gate -> token-budget fill from
    // the top of the ranking -> shard-shuffle manifest order. What a
    // curation run actually ships to the trainer.
    "q_pipeline_release" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val pairs = Dedup.minhashLsh(d, "doc_id", "text")
      val split = Sampling.leakageSafeSplit(d, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val train = split
        .filter(col("split") === "train" && col("n_chars") >= 100)
        .withColumn("toks", TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.selectByBudget(train, "n_chars", "doc_id", "toks", budget = 8000L)
        .withColumn("shuffle_key", PsIO.shuffleKey(42L, col("doc_id")))
        .select("doc_id", "toks", "cum_tokens", "shuffle_key")
        .orderBy("shuffle_key")
    }),

    // leakage-safe split: near-dup docs (minhashLsh pairs -> CC
    // representative) are assigned as a UNIT, so no near-copy of a
    // training doc leaks into val/test; singletons fall back to plain
    // hashSplit assignment. Oracle: recursive-CTE components + the same
    // md5 bucketing over the representative
    "q_leakage_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashLsh(d.df, "doc_id", "text")
      Sampling.leakageSafeSplit(d.df, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")
    }),

    // reproducible train/val/test assignment by engine-portable key hash
    "q_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.hashSplit(d.df, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")
    }),

    // the end-to-end curation pipeline a training-data user actually
    // runs, composed from the verified components: quality filter ->
    // language ID -> content-fingerprint dedup -> deterministic split,
    // reported as counts + id-sums per (lang, split). One pass for the
    // row-local stages (codegen'd exprs), one shuffle for the dedup,
    // one for the final aggregate.
    "q_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val kept = d
        .filter(TextAnalysis.qualityReason(col("text")).isNull)
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .withColumn("fp",
          TextAnalysis.fingerprint60(TextAnalysis.normalized(col("text"))))
      val deduped = Dedup.exact(kept, Seq("fp"), Seq(col("doc_id")))
      Sampling.hashSplit(deduped, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("lang_pred", "split")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
        .orderBy("lang_pred", "split")
    }),

    // importance sampling: keep probability proportional to a per-row
    // quality proxy (here: length-derived, capped at 1) — deterministic
    // hash membership, so the oracle reproduces it row-for-row
    "q_weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val w = least(length(col("text")) / lit(500.0), lit(1.0))
      Sampling.sampleByWeight(d.df.withColumn("w", w), "doc_id", "w")
        .select("doc_id").orderBy("doc_id")
    }),

    // per-stratum downsampling (halve English, keep the rest)
    "q_stratsample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.stratifiedSampleByHash(d.df, "doc_id", "lang",
          Map("en" -> 0.5))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // ---- skew-safe aggregation --------------------------------------

    // salted two-stage agg must equal the plain GROUP BY (oracle is the
    // unsalted SQL — proves the decomposition, while the physical plan
    // spreads each key over 8 sub-keys)
    "q_salted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Skew.saltedAgg(li.df, Seq("l_returnflag"),
          Seq(
            Skew.SaltedSum("l_quantity", "sum_qty"),
            Skew.SaltedCount("l_quantity", "n"),
            Skew.SaltedMean("l_quantity", "avg_qty"),
            Skew.SaltedMin("l_extendedprice", "min_price"),
            Skew.SaltedMax("l_extendedprice", "max_price")),
          saltFactor = 8)
        .orderBy("l_returnflag")
    }),

    // IVF ANN top-1 per planted probe (see [[annProbes]]): the probe's
    // argmax cell equals its original's, so nProbe=4 always reaches the
    // original and the exact candidate scoring ranks it first —
    // closed-form oracle. The index build is the eager, once-per-corpus
    // step (memoized per dir, like a real offline index job); the query
    // itself is lazy and reuses the trained centroids across
    // invocations/bench iterations.
    "q_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = annProbes(e.df)
      val index = ivfIndexFor(s, dir, e.df)
      Similarity.ivfQuery(e.df, q, "vec_id", "embedding", k = 1,
          index, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // PQ shortlist + exact re-rank: the corpus scan reads m=8 ints per
    // vector instead of 64 floats; only the shortlist touches full
    // vectors. Planted probes (see [[annProbes]]) give it a closed-form
    // oracle: the original's asymmetric PQ score (≈ 1 minus bounded
    // quantization distortion) clears the ≤ 0.51-cosine field into the
    // 50-wide shortlist, where the exact re-rank puts it first.
    "q_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = annProbes(e.df)
      val cb = pqCodebookFor(s, dir, e.df)
      Similarity.pqTopK(e.df, q, "vec_id", "embedding", k = 1, cb,
          shortlist = 50)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // scalar-int8 shortlist scan + exact re-rank: the training-free
    // quantization path (1 byte/dim, per-vector affine range). Planted
    // probes (see [[annProbes]]) make the answer closed-form: int8
    // reconstruction error ≤ range/510 per element cannot invert the
    // ≈1-vs-0.51 gap, so the original always shortlists and re-ranks
    // first.
    "q_ann_int8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = annProbes(e.df)
      Similarity.int8TopK(e.df, q, "vec_id", "embedding", k = 1,
          shortlist = 50)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // int8 quantization error report per vector — the oracled window
    // into the codec: DuckDB replays the same double-precision affine
    // round-trip with list lambdas; values compare exactly because both
    // engines run the identical sequential IEEE-double recurrence
    "q_quant_err" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      e.df.filter(col("vec_id") < 200)
        .select(col("vec_id"),
          graft.plans.VectorExpressions.int8Stats(col("embedding")).as("st"))
        .select(col("vec_id"), col("st.qmin").as("qmin"),
          col("st.qmax").as("qmax"), col("st.max_abs_err").as("max_abs_err"),
          col("st.mean_abs_err").as("mean_abs_err"))
        .orderBy("vec_id")
    }),

    // faiss-shape IVF-PQ: cells prune candidates, codes prune the scan
    // payload, exact re-rank of the shortlist; reuses both cached
    // artifacts. Planted probes (see [[annProbes]]) compose both
    // closed-form arguments — the probe's argmax cell is its original's
    // (within the nProbe=8 probe set) and the original's PQ score
    // dominates the cell field into the shortlist, so the exact re-rank
    // answer is the original. Real-corpus recall@1 (16/20 on this
    // isotropic fixture at nProbe=8; full when cluster structure
    // exists) stays measured in SimilaritySpec — the recall/cost dial
    // is nProbe.
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = annProbes(e.df)
      val index = ivfIndexFor(s, dir, e.df)
      val cb = pqCodebookFor(s, dir, e.df)
      Similarity.ivfPqTopK(e.df, q, "vec_id", "embedding", k = 1,
          index, cb, nProbe = 8, shortlist = 50)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // ---- coverage for previously-untested reference ops -------------

    "q_nsmallest" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.nsmallest(15, Seq("o_totalprice", "o_orderkey"))
        .select("o_orderkey", "o_totalprice").df
    }),

    // bitwise ~ and | (untested in round 1)
    "q_bitops" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.selectExprs(
          li("l_orderkey").as("l_orderkey"),
          li("l_linenumber").as("l_linenumber"),
          (~li("l_suppkey")).as("inv"),
          li("l_partkey").bitOr(15).as("bor"))
        .sortValues(Seq("l_orderkey", "l_linenumber")).df
    }),

    // DataFrame(local data) constructor joined against a real table
    "q_local" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val seg = PsDataFrame
        .fromLocal(s, Seq(("BUILDING", 1), ("AUTOMOBILE", 2), ("MACHINERY", 3)))
        .rename(Map("_1" -> "seg", "_2" -> "pri"))
      c.merge(seg, leftOn = Seq("c_mktsegment"), rightOn = Seq("seg"))
        .groupby("seg", "pri")
        .agg(("c_custkey", "count") -> "n")
        .sortValues(Seq("seg")).df
    }),

    // ---- pandas-facade parity (round 7: oracle rows for the
    // ---- previously unit-only facades — their own column ORDER and
    // ---- NAMING is exactly where drift hides) -----------------------

    // astype: per-column cast, column-order-preserving
    "q_astype" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.astype(Map("o_orderkey" -> "string", "o_custkey" -> "double"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .sortValues(Seq("o_orderkey")).df // string sort: lexicographic in both engines
    }),

    // deterministic sample(frac, seed): hash membership reproduces
    // row-for-row in any engine (round(0.3*10000) = bucket cap 3000)
    "q_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.sample("doc_id", 0.3, seed = "r7")
        .select("doc_id", "lang").sortValues(Seq("doc_id")).df
    }),

    // merge suffixes=('_x','_y'): BOTH copies of the overlapping non-key
    // column survive under suffixed names; non-overlapping stay bare
    "q_suffixes" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val sup = t(s, dir, "supplier")
        .select("s_suppkey", "s_acctbal")
        .rename(Map("s_suppkey" -> "c_custkey", "s_acctbal" -> "c_acctbal"))
      c.merge(sup, on = Seq("c_custkey"), suffixes = Some(("_x", "_y")))
        .sortValues(Seq("c_custkey")).df
    }),

    // concat over NON-identical column sets: union-of-columns schema,
    // absent cells null (the strict reference form stays q_union)
    "q_concat_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.select("c_custkey", "c_name")
      val b = c.select("c_custkey", "c_acctbal")
      a.concatOuter(b).sortValues(Seq("c_custkey", "c_name")).df
    }),

    // ---- non-inner joins (extension over the reference, which only
    // ---- builds inner equi-joins) + CSV ingestion -------------------

    // left outer: unmatched orders keep null customer columns
    "q_join_left" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val small = c.where(c("c_custkey") < 500)
      o.merge(small, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"), how = "left")
        .select("o_orderkey", "o_custkey", "c_custkey", "c_name", "c_mktsegment")
        .sortValues(Seq("o_orderkey")).df
    }),

    // left semi: orders whose customer is in the BUILDING segment —
    // right columns never enter the output, right side never duplicates
    "q_join_semi" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val bld = c.where(c("c_mktsegment") === "BUILDING")
      o.merge(bld, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"), how = "semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .sortValues(Seq("o_orderkey")).df
    }),

    // left anti: orders with NO BUILDING-segment customer
    "q_join_anti" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val bld = c.where(c("c_mktsegment") === "BUILDING")
      o.merge(bld, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"), how = "anti")
        .select("o_orderkey", "o_custkey")
        .sortValues(Seq("o_orderkey")).df
    }),

    // right join: every BUILDING customer kept, orders attached where
    // they exist (nulls otherwise)
    "q_join_right" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val lo = o.where(o("o_orderkey") < 3000)
      val bld = c.where(c("c_mktsegment") === "BUILDING")
      lo.merge(bld, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"), how = "right")
        .select("o_orderkey", "o_custkey", "c_custkey", "c_name")
        .df.orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))
    }),

    // fillna over an outer join's null holes (TPC-H data is null-free, so
    // the join fabricates them): numeric holes -> -1, string holes -> "?"
    "q_fillna" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val lo = o.where(o("o_orderkey") < 3000)
      val small = c.where(c("c_custkey") < 500)
      lo.merge(small, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"), how = "outer")
        .select("o_orderkey", "o_custkey", "c_custkey", "c_name")
        .fillna(-1L, Seq("o_orderkey", "o_custkey", "c_custkey"))
        .fillna("?", Seq("c_name"))
        .sortValues(Seq("o_orderkey", "c_custkey")).df
    }),

    // dropna on the same join: rows with no null in the key columns ==
    // the inner-join rows
    "q_dropna" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val lo = o.where(o("o_orderkey") < 3000)
      val small = c.where(c("c_custkey") < 500)
      lo.merge(small, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"), how = "outer")
        .select("o_orderkey", "o_custkey", "c_custkey", "c_name")
        .dropna(Seq("o_orderkey", "c_custkey"))
        .sortValues(Seq("o_orderkey", "c_custkey")).df
    }),

    // full outer: non-matching rows of BOTH sides survive with nulls —
    // completes the oracle-backed join-type matrix
    // (inner/left/right/semi/anti/outer)
    "q_join_outer" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val lo = o.where(o("o_orderkey") < 3000)
      val small = c.where(c("c_custkey") < 500)
      lo.merge(small, leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"), how = "outer")
        .select("o_orderkey", "o_custkey", "c_custkey", "c_name", "c_mktsegment")
        .df.orderBy(asc_nulls_first("o_orderkey"), asc_nulls_first("c_custkey"))
    }),

    // CSV round-trip through the oracle: write nation as CSV (once per
    // process — fixture creation is setup, not part of the timed query),
    // read it back with header+inferSchema, compare against DuckDB's own
    // CSV reader on the same files — catches type-inference drift
    "q_read_csv" -> ((s, dir) => {
      csvFixture(s, dir)
      PsIO.readCsv(s, CsvFixtureDir).sortValues(Seq("n_nationkey")).df
    }),

    // JSON round-trip, mirroring q_read_csv: write nation as JSON lines,
    // read back with schema inference, compare against DuckDB
    // read_json_auto on the same files
    "q_read_json" -> ((s, dir) => {
      jsonFixture(s, dir)
      PsIO.readJson(s, JsonFixtureDir)
        .select("n_nationkey", "n_name", "n_regionkey")
        .sortValues(Seq("n_nationkey")).df
    }),

    // NPY round-trip (reference read_numpy, io.py:35-36): nation keys as
    // a 2-D f8 matrix -> readNpy -> posexplode back to scalars; oracle
    // recomputes the same matrix relationally from the table
    "q_read_npy" -> ((s, dir) => {
      npyFixture(s, dir)
      PsIO.readNpy(s, NpyFixturePath).df
        .select(col("idx"), posexplode(col("value")).as(Seq("pos", "value")))
        .orderBy("idx", "pos")
    }),

    // pickle round-trip (reference read_pickle/to_pickle, io.py:37-40):
    // write nation with toPickle, read it back with the pure-Scala
    // unpickler; the oracle recomputes the same rows relationally from
    // the parquet table — catches any value/ordering drift in the codec
    "q_read_pickle" -> ((s, dir) => {
      pickleFixture(s, dir)
      PsIO.readPickle(s, PickleFixturePath).df
        .orderBy("n_nationkey")
    }),

    // Arrow IPC (feather v2) round-trip, mirroring q_read_pickle: write
    // nation as an Arrow file (once per data dir), read it back through
    // the arrow-vector codec, compare against DuckDB over the table
    "q_read_arrow" -> ((s, dir) => {
      arrowFixture(s, dir)
      PsIO.readArrow(s, ArrowFixturePath).df
        .orderBy("n_nationkey")
    }),

    // lenient JSONL ingestion: the fixture is nation as JSON lines with
    // two malformed lines planted; good rows parse normally, the bad
    // lines land (raw) in _corrupt — the query emits the good side, the
    // oracle replays it with DuckDB's ignore_errors (which nulls bad
    // lines; the key filter sheds them). Quarantine side in IOSpec.
    "q_json_quarantine" -> ((s, dir) => {
      jsonDirtyFixture(s, dir)
      PsIO.jsonGood(PsIO.readJsonQuarantine(s, JsonDirtyFixtureDir).df)
        .orderBy("n_nationkey")
    }),

    // the CSV twin: type-corrupt, truncated, and over-long lines planted
    // among nation rows — the good side parses normally, every bad line
    // lands raw in _corrupt; the oracle replays with DuckDB's
    // ignore_errors skip, which agrees exactly on all three classes
    // (from_csv is strict on token counts, unlike the csv file source)
    "q_csv_quarantine" -> ((s, dir) => {
      csvDirtyFixture(s, dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_regionkey",
          org.apache.spark.sql.types.LongType)))
      PsIO.csvGood(
          PsIO.readCsvQuarantine(s, CsvDirtyFixtureDir, Some(schema)).df)
        .orderBy("n_nationkey")
    }),

    // schema-drift ingestion: two parquet generations of the same feed —
    // gen2 adds a column (lang), drops one (n_regionkey), widens one
    // (quality int -> double) and re-types one irreconcilably (meta
    // string -> int). readParquetEvolved unifies them with per-generation
    // cast discipline (null-fill absents, widen the lattice, stringify
    // the conflict) — the oracle is DuckDB's union_by_name over the SAME
    // files, which applies exactly these rules, so every cell of the
    // drift semantics is hash-checked
    "q_schema_drift" -> ((s, dir) => {
      driftFixture(s, dir)
      PsIO.readParquetEvolved(s, Seq(DriftGen1Dir, DriftGen2Dir),
          PsIO.StringifyConflicts)
        .df.orderBy("n_nationkey")
    }),

    // the drift ledger itself: one row per column with its disposition
    // (stable / null_fill / widen / quarantine) and the per-generation
    // types. Footer metadata only — the oracle is the PLANTED golden
    // (the fixture's drift is constructed, so the ledger is closed-form)
    "q_schema_drift_report" -> ((s, dir) => {
      driftFixture(s, dir)
      PsIO.parquetSchemaDrift(s, Seq(DriftGen1Dir, DriftGen2Dir))
        .orderBy("column")
    }),

    // keyed MERGE/upsert: base snapshot (doc_id < 400) + a change batch
    // (300-449: content refresh, every 10th a delete) -> next snapshot.
    // Deletes of absent keys (400-449 % 10) are no-ops, the MERGE rule
    "q_upsert" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.select("doc_id", "lang", "source", "n_chars")
      val base = d.filter(col("doc_id") < 400)
      val changes = d.filter(col("doc_id") >= 300 && col("doc_id") < 450)
        .withColumn("n_chars", col("n_chars") + 1000)
        .withColumn("is_delete", col("doc_id") % 10 === 0)
      graft.operators.Snapshot.applyChanges(base, changes, Seq("doc_id"), "is_delete")
        .orderBy("doc_id")
    }),

    // ORC round-trip (zstd-compressed), mirroring q_read_arrow: write
    // nation as ORC once per data dir, read it back through Spark's ORC
    // source; the oracle recomputes the rows from the parquet table, so
    // the compare validates the whole codec path (values, types, order)
    "q_read_orc" -> ((s, dir) => {
      orcFixture(s, dir)
      PsIO.readOrc(s, OrcFixtureDir).sortValues(Seq("n_nationkey")).df
    }),

    // parquet footer-stats audit: per-(file, row group, column) exact
    // integer min/max envelopes — the relation behind sort/Z-order/
    // compaction decisions, read from footers only (no data pages), one
    // task per file. The oracle is DuckDB's INDEPENDENT footer reader
    // (parquet_metadata), so the compare cross-validates against the
    // format spec, not a shared code path
    "q_parquet_stats" -> ((s, dir) => {
      manifestFixture(s, dir)
      PsIO.parquetStats(s, ManifestFixtureDir, Seq("doc_id", "n_chars"))
        .orderBy("file", "row_group", "column")
    }),

    // Avro container round-trip (the Kafka-dump ingest format): write
    // nation as one-file-per-partition Avro via the BUNDLED Avro Java
    // lib (the spark-avro DataSource module isn't in the image), read
    // it back with one task per file; the oracle recomputes the rows
    // from the parquet table, so the compare validates the whole codec
    // path — schema mapping, nullable unions, values, order
    "q_read_avro" -> ((s, dir) => {
      avroFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroFixtureDir).orderBy("n_nationkey")
    }),

    // mixed writer-schema generations in ONE directory (the normal
    // state of a Kafka dump): gen1 (key int, name, regionkey) + gen2
    // (key LONG — widened, name, n_len — new) unify through the
    // lossless lattice with per-generation null-fill; the oracle
    // replays the union/widen semantics from the nation table
    "q_read_avro_evolved" -> ((s, dir) => {
      avroEvolvedFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroEvolvedFixtureDir)
        .orderBy("n_nationkey")
    }),

    // timestamp-micros logical-type round-trip: events ts written as
    // Avro logical longs, read back as TimestampType, compared at
    // exact epoch-micros precision against DuckDB's own timestamp read
    "q_read_avro_ts" -> ((s, dir) => {
      avroTsFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroTsFixtureDir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
    }),

    // NESTED containers — the shape real Kafka events actually have
    // (an order with a customer sub-record, an item array, a string
    // map, a decimal amount): round-trip through the container codec
    // and flatten back out; the oracle recomputes every leaf from the
    // parquet orders table, so the compare validates the recursive
    // schema mapping, the nested null unions, and the decimal
    // unscaled-bytes codec at exact 2-digit scale
    "q_read_avro_nested" -> ((s, dir) => {
      avroNestedFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroNestedFixtureDir)
        .select(col("o_orderkey"),
          col("cust.custkey").as("custkey"),
          col("cust.status").as("status"),
          element_at(col("parts"), 2).as("p2"),
          element_at(col("tags"), "ck").as("ck"),
          col("total"))
        .orderBy("o_orderkey")
    }),

    // a FILTERED read of the evolved landing zone: the disjunction
    // spans both generations' null-filled columns (n_regionkey is null
    // for every gen2 row, n_len for every gen1 row), so the decode-time
    // row skip must reproduce Kleene null semantics exactly — the scan
    // pushes the conjunct (PushedFilters in the plan) and skips
    // Catalyst materialization of rejected rows while the residual
    // Filter above guards exactness
    "q_read_avro_filtered" -> ((s, dir) => {
      avroEvolvedFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroEvolvedFixtureDir)
        .filter(col("n_regionkey") >= 2 || col("n_len") > 6)
        .orderBy("n_nationkey")
    }),

    // the decision face of the footer-stats audit: which row groups
    // would `doc_id BETWEEN 200 AND 300 AND n_chars >= 0` prune on the
    // doc_id-sorted layout? The oracle replays the envelope logic from
    // DuckDB's independent parquet_metadata reader
    "q_prune_sim" -> ((s, dir) => {
      pruneFixture(s, dir)
      PsIO.parquetPruneSim(
        PsIO.parquetStats(s, PruneFixtureDir, Seq("doc_id", "n_chars")),
        Seq(("doc_id", 200L, 300L), ("n_chars", 0L, 1000000000L)))
        .orderBy("file", "row_group")
    }),

    // the per-file rollup of the same simulation — what a layout
    // decision (re-sort? compact? leave alone?) actually reads
    "q_prune_report" -> ((s, dir) => {
      pruneFixture(s, dir)
      PsIO.parquetPruneReport(PsIO.parquetPruneSim(
          PsIO.parquetStats(s, PruneFixtureDir, Seq("doc_id", "n_chars")),
          Seq(("doc_id", 200L, 300L), ("n_chars", 0L, 1000000000L))))
        .orderBy("file")
    }),

    // the Avro generation ledger over the evolved fixture: per-column
    // disposition (stable / null_fill / widen / quarantine) with the
    // per-generation types — header bytes only, golden-oracled
    "q_avro_drift_report" -> ((s, dir) => {
      avroEvolvedFixture(s, dir)
      graft.sources.AvroIo.avroSchemaDrift(s, AvroEvolvedFixtureDir)
        .orderBy("column")
    }),

    // the avro→lake PROMOTION — the step every Kafka-dump pipeline
    // ships: mixed-generation Avro landing zone → lattice-unified read
    // → contract gate (Checks.flag: n_regionkey required; the gen2
    // writer dropped it, so that generation quarantines with its rule)
    // → hive-partitioned parquet lake by region + quarantine parquet.
    // The row relation is read BACK from disk with provenance: part_reg
    // is extracted from each lake row's physical file path, so a green
    // compare proves the hive layout physically exists and every row
    // landed in the directory its region names — the oracle replays
    // generation/gate/partition semantics from the nation table
    "q_pipeline_lake" -> ((s, dir) => {
      avroLakeFixture(s, dir)
      val lake = PsIO.withProvenance(
        graft.sources.LakeVersions.read(s, AvroLakeDir))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_len"), lit("lake").as("disposition"),
          lit(null).cast("string").as("reason"),
          regexp_extract(col("source_file"), "n_regionkey=([0-9]+)", 1)
            .cast("int").as("part_reg"))
      val quarantined = PsIO.parquet(s, AvroLakeQuarantineDir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_len"), lit("quarantine").as("disposition"), col("reason"),
          lit(null).cast("int").as("part_reg"))
      lake.unionByName(quarantined).orderBy("n_nationkey")
    }),

    // the STREAMING read of the same evolved zone (AvroMicroBatchStream:
    // per-trigger file pickup, checkpointed batch log, pinned unified
    // schema): the fixture drains the zone through a bounded streaming
    // query into a parquet file sink; a green compare against the SAME
    // oracle as the batch evolved read pins streaming == batch == DuckDB
    "q_stream_avro" -> ((s, dir) => {
      avroStreamFixture(s, dir)
      PsIO.parquet(s, AvroStreamSinkDir).orderBy("n_nationkey")
    }),

    // the exactly-once streaming SINK plus zone maintenance: nation
    // lands as two micro-batch epochs of query-namespaced container
    // files, dead-producer litter is vacuumed, and the zone reads back
    // as exactly the input relation — proving the epoch commit
    // protocol and that maintenance removes only litter, never data
    "q_avro_sink" -> ((s, dir) => {
      avroSinkFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroSinkZoneDir)
        .orderBy("n_nationkey")
    }),

    // the CONTINUOUS lake promotion: the same contract gate and
    // dispositions as q_pipeline_lake, but run per micro-batch through
    // two exactly-once file sinks (hive-partitioned lake + quarantine
    // with the violated rule); the rows are read BACK from disk with
    // provenance, so a green compare proves the streaming hive layout
    // physically exists and matches the batch pipeline's oracle
    "q_pipeline_lake_stream" -> ((s, dir) => {
      avroLakeStreamFixture(s, dir)
      val lake = PsIO.withProvenance(PsIO.parquet(s, AvroLakeStreamDir))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_len"), lit("lake").as("disposition"),
          lit(null).cast("string").as("reason"),
          regexp_extract(col("source_file"), "n_regionkey=([0-9]+)", 1)
            .cast("int").as("part_reg"))
      val quarantined = PsIO.parquet(s, AvroLakeStreamQuarantineDir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_len"), lit("quarantine").as("disposition"), col("reason"),
          lit(null).cast("int").as("part_reg"))
      lake.unionByName(quarantined).orderBy("n_nationkey")
    }),

    // the VERSIONED streaming promotion: same zone, same contract,
    // same dispositions as q_pipeline_lake_stream — but each
    // micro-batch commits as one LakeVersions version per side
    // (tag-idempotent under replay), so the promoted corpus reads back
    // through the SAME manifest path as the batch promotion and gets
    // per-epoch time travel; part_reg again read from the physical
    // directory each row landed in
    "q_pipeline_lake_vstream" -> ((s, dir) => {
      avroLakeVStreamFixture(s, dir)
      val lake = PsIO.withProvenance(
        graft.sources.LakeVersions.read(s, AvroLakeVStreamDir))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_len"), lit("lake").as("disposition"),
          lit(null).cast("string").as("reason"),
          regexp_extract(col("source_file"), "n_regionkey=([0-9]+)", 1)
            .cast("int").as("part_reg"))
      val quarantined = graft.sources.LakeVersions
        .read(s, AvroLakeVStreamQuarantineDir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_len"), lit("quarantine").as("disposition"), col("reason"),
          lit(null).cast("int").as("part_reg"))
      lake.unionByName(quarantined).orderBy("n_nationkey")
    }),

    // the DSv2 batch WRITE face: nation lands through
    // write.format("graft-avro") as an overwrite (zstandard) plus an
    // append (deflate), and the mixed-codec zone reads back as exactly
    // the nation relation — the write protocol, both codecs, and the
    // append non-collision in one compare
    "q_avro_write_dsv2" -> ((s, dir) => {
      avroDsv2WriteFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroDsv2WriteDir)
        .orderBy("n_nationkey")
    }),

    // versioned lake commits (table format lite): after an overwrite
    // superseded it, pinned v2 still reads as the FULL nation relation
    // (manifest time travel) while latest reads only the overwrite's
    // slice — commit isolation and wholesale replace in one compare
    "q_lake_versions" -> ((s, dir) => {
      lakeVersionsFixture(s, dir)
      val v2 = graft.sources.LakeVersions.read(s, LakeVersionsDir, Some(2L))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          lit("v2").as("at_version"))
      val latest = graft.sources.LakeVersions.read(s, LakeVersionsDir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          lit("v3").as("at_version"))
      v2.unionByName(latest).orderBy("at_version", "n_nationkey")
    }),

    // PARTITIONED versioned commits: two commits land hive-partitioned
    // by region with the append inheriting the layout from the
    // manifest; part_reg is extracted from each row's physical file
    // path, so a green compare proves the partition-qualified relpaths
    // in the manifest point at a real hive layout and every row sits
    // in the directory its region names
    "q_lake_versions_part" -> ((s, dir) => {
      lakeVersionsPartFixture(s, dir)
      PsIO.withProvenance(
        graft.sources.LakeVersions.read(s, LakeVersionsPartDir))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          regexp_extract(col("source_file"), "n_regionkey=([0-9]+)", 1)
            .cast("int").as("part_reg"))
        .orderBy("n_nationkey")
    }),

    // lake maintenance as versioned commits (OPTIMIZE-lite): after a
    // compaction overwrite AND a z-order overwrite, the latest version
    // still reads as exactly the committed relation, and the
    // pre-maintenance version stays pinned-readable — both legs tagged
    // so one compare proves rewrites move bytes, never rows
    "q_lake_optimize" -> ((s, dir) => {
      lakeOptimizeFixture(s, dir)
      val cur = graft.sources.LakeVersions.read(s, LakeOptimizeDir)
        .select(col("c_custkey"), col("c_nationkey"),
          lit("optimized").as("phase"))
      val pre = graft.sources.LakeVersions.read(s, LakeOptimizeDir, Some(3L))
        .select(col("c_custkey"), col("c_nationkey"), lit("pre").as("phase"))
      cur.unionByName(pre).orderBy("phase", "c_custkey")
    }),

    // manifest-stats file pruning: a sorted customer lake of three
    // tight-enveloped files, a range predicate inside the first
    // tercile — readPruned plans 1 of the 3 files and the kept/total
    // counts ride INTO the relation, so the oracle compare pins both
    // the pruned read's correctness and the prune fraction
    "q_lake_prune" -> ((s, dir) => {
      lakePruneFixture(s, dir)
      val (lo, hi) = lakePruneBounds(s, dir)
      val bounds = Seq(("c_custkey", lo, hi))
      val (kept, total) =
        graft.sources.LakeVersions.pruneCounts(s, LakePruneDir, bounds)
      graft.sources.LakeVersions.readPruned(s, LakePruneDir, bounds)
        .filter(col("c_custkey").between(lo, hi))
        .select(col("c_custkey"), col("c_name"),
          lit(kept).as("files_kept"), lit(total).as("files_total"))
        .orderBy("c_custkey")
    }),

    // STRING-key manifest pruning: same three-file sorted lake, but
    // the envelope column is c_name (18 chars — past the 16-byte
    // truncation, so the recorded bounds are genuinely lossy) and the
    // predicate is a c_name range. Truncated bounds stay SOUND: 1 of
    // 3 files planned, and the oracle pins both rows and fraction.
    // doc_id/url-keyed corpora are string-keyed in practice — this is
    // the shape their sorted rewrites prune with.
    "q_lake_prune_str" -> ((s, dir) => {
      lakePruneStrFixture(s, dir)
      val (lo, hi) = lakePruneBounds(s, dir)
      val (loN, hiN) = (f"Customer#$lo%09d", f"Customer#$hi%09d")
      val strBounds = Seq(("c_name", loN, hiN))
      val (kept, total) = graft.sources.LakeVersions.pruneCounts(
        s, LakePruneStrDir, Nil, strBounds = strBounds)
      graft.sources.LakeVersions.readPruned(
          s, LakePruneStrDir, Nil, strBounds = strBounds)
        .filter(col("c_name").between(loN, hiN))
        .select(col("c_custkey"), col("c_name"),
          lit(kept).as("files_kept"), lit(total).as("files_total"))
        .orderBy("c_custkey")
    }),

    // row-level DELETE as a versioned commit (the takedown/GDPR op):
    // the predicate's tercile hits exactly 1 of the 3 sorted files —
    // that file is rewritten with the predicate anti-applied, the
    // other two carry into the new manifest BY REFERENCE (relpath
    // byte-identity is spec-asserted in LakeVersionsSpec) — and the
    // rewritten/carried counts ride into the relation so the oracle
    // pins the rewrite fraction alongside the surviving rows
    "q_lake_delete" -> ((s, dir) => {
      val (_, rewritten, carried) = lakeDeleteFixture(s, dir)
      graft.sources.LakeVersions.read(s, LakeDeleteDir)
        .select(col("c_custkey"), col("c_name"),
          lit(rewritten).as("files_rewritten"),
          lit(carried).as("files_carried"))
        .orderBy("c_custkey")
    }),

    // row-level UPDATE as a versioned commit (deleteWhere's sibling —
    // the rectification op): the first-tercile range rewrites c_name
    // in exactly 1 of the 3 sorted files, the other two carry by
    // reference; rewritten/carried counts ride into the relation so
    // the oracle pins the rewrite fraction alongside every row value
    "q_lake_update" -> ((s, dir) => {
      val (_, rewritten, carried) = lakeUpdateFixture(s, dir)
      graft.sources.LakeVersions.read(s, LakeUpdateDir)
        .select(col("c_custkey"), col("c_name"),
          lit(rewritten).as("files_rewritten"),
          lit(carried).as("files_carried"))
        .orderBy("c_custkey")
    }),

    // MERGE INTO as a versioned commit (the CDC upsert): the lake
    // holds terciles 1-2, the source is everything past cut1 with a
    // rewritten name — tercile 2 replaces in place (1 file rewritten),
    // tercile 3 inserts, tercile 1 carries by reference — and the
    // final relation must equal the full customer table with MRG names
    // past cut1
    "q_lake_merge" -> ((s, dir) => {
      val (_, rewritten, carried) = lakeMergeFixture(s, dir)
      graft.sources.LakeVersions.read(s, LakeMergeDir)
        .select(col("c_custkey"), col("c_name"),
          lit(rewritten).as("files_rewritten"),
          lit(carried).as("files_carried"))
        .orderBy("c_custkey")
    }),

    // incremental consumption between versions: terciles appended as
    // v1..v3, appendsBetween(1, 3) reads EXACTLY the two appended
    // slices from the added files alone (O(new data), not O(table)) —
    // the downstream-refresh face; the added-file count rides along
    "q_lake_incr" -> ((s, dir) => {
      val added = lakeIncrFixture(s, dir)
      graft.sources.LakeVersions.appendsBetween(s, LakeIncrDir, 1L, 3L)
        .select(col("c_custkey"), col("c_name"),
          lit(added).as("files_added"))
        .orderBy("c_custkey")
    }),

    // checkpointed incremental consumption: a consumer bootstraps on
    // the two-tercile lake, tercile 3 lands, the second consume
    // processes ONLY the increment — both windows append into one
    // target whose content must equal the full customer relation, and
    // the consumed (from, to) version windows ride into the relation
    "q_lake_consume" -> ((s, dir) => {
      val ((f1, t1), (f2, t2)) = lakeConsumeFixture(s, dir)
      PsIO.parquet(s, LakeConsumeDir + "_target")
        .select(col("c_custkey"), col("c_name"),
          lit(f1.toInt).as("boot_from"), lit(t1.toInt).as("boot_to"),
          lit(f2.toInt).as("incr_from"), lit(t2.toInt).as("incr_to"))
        .orderBy("c_custkey")
    }),

    // the SQL face over the same pruned lake: CREATE TEMPORARY VIEW
    // ... USING graftlake, then a plain WHERE — the predicate reaches
    // the manifest by PUSHDOWN (no hand-fed bounds; the scan's
    // listFiles derives them from the filters), and
    // GraftLakeSourceSpec plan-asserts the 1-of-3 planned-file count
    // plus parquet PushedFilters for this exact shape
    "q_lake_sql" -> ((s, dir) => {
      lakePruneFixture(s, dir)
      val (lo, hi) = lakePruneBounds(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW lake_sql_cust " +
        s"USING graftlake OPTIONS (path '$LakePruneDir')"): Unit
      s.sql("SELECT c_custkey, c_name FROM lake_sql_cust " +
        s"WHERE c_custkey BETWEEN $lo AND $hi ORDER BY c_custkey")
    }),

    // landing-zone maintenance: compact the multi-file Avro fixture by
    // BLOCK COPY (appendAllFrom — zero record decodes; generations
    // never mix in a bin) and read the compacted directory back; the
    // oracle recomputes the relation from the parquet nation table, so
    // a green compare proves compaction moved every row byte-faithfully
    "q_avro_compact" -> ((s, dir) => {
      avroCompactFixture(s, dir)
      graft.sources.AvroIo.readAvro(s, AvroCompactDir).orderBy("n_nationkey")
    }),

    // per-column aggregate sugar: df("c").sum() scalars, re-lifted into a
    // frame so the oracle can compare them
    "q_colagg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sumQty = li("l_quantity").sum().asInstanceOf[Double]
      val avgQty = li("l_quantity").mean().asInstanceOf[Double]
      val maxPrice = li("l_extendedprice").max().asInstanceOf[Double]
      val n = li("l_linenumber").countValues()
      PsDataFrame.fromLocal(s, Seq((sumQty, avgQty, maxPrice, n)))
        .rename(Map("_1" -> "sum_qty", "_2" -> "avg_qty",
          "_3" -> "max_price", "_4" -> "n")).df
    }),

    // explicit materialization (the reference's offload-to-SQLite): cache
    // a filtered frame and consume it from TWO downstream queries — the
    // oracle checks the fan-out reads one consistent snapshot (IOSpec
    // plan-asserts the InMemoryTableScan reuse itself)
    "q_materialize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val base = PsIO.materialize(
        li.filter(col("l_quantity") > 45)
          .select("l_orderkey", "l_quantity", "l_returnflag"))
      base.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .unionByName(
          base.agg(count(lit(1)).as("n")).withColumn("l_returnflag", lit("ALL")))
        .orderBy("l_returnflag")
    })
  )

  /** Where the registry's fixtures live: `target/tmp` resolved once
    * against the process's working directory, the convention Spark uses
    * for `spark-warehouse`. Both Spark and the DuckDB oracle read the
    * same files by absolute path — the oracle SQL interpolates the dirs
    * below, and tools/check.py runs it after the JVM has exited, so the
    * directory outlives the process. Runs from two checkouts write two
    * disjoint trees; two concurrent runs in one checkout still share
    * one. */
  val FixtureRoot: String = new java.io.File("target/tmp").getAbsolutePath
  val CsvFixtureDir = s"$FixtureRoot/nation_csv"
  val JsonFixtureDir = s"$FixtureRoot/nation_json"
  val NpyFixturePath = s"$FixtureRoot/nation_npy/nation.npy"
  val PickleFixturePath = s"$FixtureRoot/nation_pkl/nation.pkl"
  val ArrowFixturePath = s"$FixtureRoot/nation_arrow/nation.arrow"
  val OrcFixtureDir = s"$FixtureRoot/nation_orc"
  val AvroFixtureDir = s"$FixtureRoot/nation_avro"
  val JsonDirtyFixtureDir = s"$FixtureRoot/nation_jsonl_dirty"
  val CsvDirtyFixtureDir = s"$FixtureRoot/nation_csv_dirty"
  val ManifestFixtureDir = s"$FixtureRoot/documents_manifest"
  val DriftGen1Dir = s"$FixtureRoot/nation_drift_gen1"
  val DriftGen2Dir = s"$FixtureRoot/nation_drift_gen2"
  val AvroEvolvedFixtureDir = s"$FixtureRoot/nation_avro_evolved"
  val AvroNestedFixtureDir = s"$FixtureRoot/orders_avro_nested"
  val AvroTsFixtureDir = s"$FixtureRoot/events_avro_ts"
  val PruneFixtureDir = s"$FixtureRoot/documents_sorted"
  val DriftSpecDir = s"$FixtureRoot/drift_spec"
  val AvroLakeDir = s"$FixtureRoot/nation_avro_lake"
  val AvroLakeQuarantineDir = s"$FixtureRoot/nation_avro_lake_q"
  val AvroCompactDir = s"$FixtureRoot/nation_avro_compact"
  val AvroStreamSinkDir = s"$FixtureRoot/nation_avro_streamed"
  val AvroSinkZoneDir = s"$FixtureRoot/nation_avro_sink_zone"
  val AvroLakeStreamDir = s"$FixtureRoot/nation_avro_lake_stream"
  val AvroLakeStreamQuarantineDir = s"$FixtureRoot/nation_avro_lake_stream_q"
  val AvroDsv2WriteDir = s"$FixtureRoot/nation_avro_dsv2_write"
  val LakeVersionsDir = s"$FixtureRoot/nation_lake_versions"
  val LakeVersionsPartDir = s"$FixtureRoot/nation_lake_versions_part"
  val LakePruneDir = s"$FixtureRoot/customer_lake_prune"
  val LakeDeleteDir = s"$FixtureRoot/customer_lake_delete"
  val LakePruneStrDir = s"$FixtureRoot/customer_lake_prune_str"
  val LakeOptimizeDir = s"$FixtureRoot/customer_lake_optimize"
  val LakeUpdateDir = s"$FixtureRoot/customer_lake_update"
  val LakeMergeDir = s"$FixtureRoot/customer_lake_merge"
  val LakeIncrDir = s"$FixtureRoot/customer_lake_incr"
  val LakeConsumeDir = s"$FixtureRoot/customer_lake_consume"
  val AvroLakeVStreamDir = s"$FixtureRoot/nation_lake_vstream"
  val AvroLakeVStreamQuarantineDir = s"$FixtureRoot/nation_lake_vstream_quarantine"

  /** Each fixture is written once per data dir through [[once]], keyed
    * by its kind: the ingestion queries must time the READ — re-writing
    * the fixture inside the query closure put a coalesce(1) write into
    * every bench iteration and let concurrent runs race on the
    * directory — and a query composed over a different data dir
    * rewrites the fixture's one directory instead of reading the
    * previous dir's files. */
  private def csvFixture(s: SparkSession, dir: String): Unit =
    once(s, "csv", dir)(
      PsIO.toCsv(PsIO.parquet(s, s"$dir/nation.parquet").coalesce(1), CsvFixtureDir))
  private def jsonFixture(s: SparkSession, dir: String): Unit =
    once(s, "json", dir)(
      PsIO.toJson(PsIO.parquet(s, s"$dir/nation.parquet").coalesce(1), JsonFixtureDir))
  private def arrowFixture(s: SparkSession, dir: String): Unit =
    once(s, "arrow", dir) {
      new java.io.File(ArrowFixturePath).getParentFile.mkdirs()
      PsIO.toArrow(
        PsIO.parquet(s, s"$dir/nation.parquet").orderBy("n_nationkey"),
        ArrowFixturePath)
    }
  /** Two drifted generations of the nation feed (disjoint key ranges so
    * the union's sort is deterministic): gen1 carries the original
    * schema + an int quality counter + a string meta tag; gen2 (keys
    * +25) drops n_regionkey, adds lang, widens quality to double, and
    * re-types meta to int — one instance of every drift class the
    * evolved reader must handle. */
  private def driftFixture(s: SparkSession, dir: String): Unit =
    once(s, "drift", dir) {
      val n = PsIO.parquet(s, s"$dir/nation.parquet")
      n.select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          (col("n_nationkey") * 2).cast("int").as("quality"),
          concat(lit("m"), col("n_nationkey")).as("meta"))
        .coalesce(1).write.mode("overwrite").parquet(DriftGen1Dir)
      n.select((col("n_nationkey") + 25).cast("int").as("n_nationkey"),
          col("n_name"),
          ((col("n_nationkey") + 25) * 3).cast("double").divide(lit(2.0)).as("quality"),
          (col("n_nationkey") + 100).cast("int").as("meta"),
          when(col("n_nationkey") % 2 === 0, "en").otherwise("de").as("lang"))
        .coalesce(1).write.mode("overwrite").parquet(DriftGen2Dir)
    }

  private def jsonDirtyFixture(s: SparkSession, dir: String): Unit =
    once(s, "jsond", dir) {
      new java.io.File(JsonDirtyFixtureDir).mkdirs()
      val lines = PsIO.parquet(s, s"$dir/nation.parquet")
        .orderBy("n_nationkey").toJSON.collect()
      // two malformed lines planted mid-file and at the tail — the
      // shapes crawls actually produce (truncated object, stray text)
      val dirty = (lines.take(13) :+ """{"n_nationkey": 99, "n_na""") ++
        lines.drop(13) :+ "not json at all"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$JsonDirtyFixtureDir/part-00000.json"),
        dirty.mkString("\n").getBytes("UTF-8"))
    }
  private def csvDirtyFixture(s: SparkSession, dir: String): Unit =
    once(s, "csvd", dir) {
      new java.io.File(CsvDirtyFixtureDir).mkdirs()
      val rows = PsIO.parquet(s, s"$dir/nation.parquet")
        .orderBy("n_nationkey")
        .collect()
        .map(r => s"${r.getInt(0)},${r.getString(1)},${r.getInt(2)}")
      // the full malformed class both engines agree on: type-corrupt
      // cells, a truncated line, an over-long line
      val dirty = ("n_nationkey,n_name,n_regionkey" +: rows.take(7) :+
        "notanint,BROKEN ROW,7" :+ "12,TRUNCATED") ++
        rows.drop(7).take(6) ++
        (Seq("13,OVERLONG,3,extra,tokens") ++ rows.drop(13) :+ "also bad,TAIL,xx")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$CsvDirtyFixtureDir/part-00000.csv"),
        dirty.mkString("\n").getBytes("UTF-8"))
    }
  private def manifestFixture(s: SparkSession, dir: String): Unit =
    once(s, "manifest", dir) {
      PsIO.parquet(s, s"$dir/documents.parquet").repartition(3)
        .write.mode("overwrite").parquet(ManifestFixtureDir)
      // deterministic basenames: Spark's part-file UUIDs would churn the
      // per-file `file` column of q_file_manifest / q_parquet_stats on
      // every fresh JVM, making the committed DIFFCONFIG base hashes
      // meaningless across rounds (each part keeps its ordinal, so the
      // file -> content mapping stays the partitioner's)
      val d = new java.io.File(ManifestFixtureDir)
      d.listFiles().filter(f => f.getName.startsWith(".") ||
        f.getName == "_SUCCESS").foreach(_.delete())
      d.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach { f =>
          val ord = f.getName.take(10) // "part-NNNNN"
          val to = new java.io.File(d, s"$ord.parquet")
          // a silent rename failure would reintroduce UUID name churn
          // and quietly break the q_file_manifest/q_parquet_stats
          // determinism this fixture exists to provide — fail loudly
          if (f.getName != to.getName)
            require(f.renameTo(to), s"manifestFixture: rename failed: $f -> $to")
        }
    }
  private def orcFixture(s: SparkSession, dir: String): Unit =
    once(s, "orc", dir)(
      PsIO.toOrc(PsIO.parquet(s, s"$dir/nation.parquet").coalesce(1),
        OrcFixtureDir, codec = Some("zstd")))
  private def avroFixture(s: SparkSession, dir: String): Unit =
    once(s, "avro", dir)(
      graft.sources.AvroIo.toAvro(
        PsIO.parquet(s, s"$dir/nation.parquet").repartition(3), AvroFixtureDir))
  private def avroEvolvedFixture(s: SparkSession, dir: String): Unit =
    once(s, "avroevo", dir) {
      // two writer-schema generations merged into ONE directory, the
      // way a long-lived Kafka connect sink actually leaves them
      val n = PsIO.parquet(s, s"$dir/nation.parquet")
      val g1 = n.filter(col("n_nationkey") < 12)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .coalesce(1)
      val g2 = n.filter(col("n_nationkey") >= 12)
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), length(col("n_name")).cast("int").as("n_len"))
        .coalesce(1)
      val t1 = AvroEvolvedFixtureDir + "_g1"
      val t2 = AvroEvolvedFixtureDir + "_g2"
      graft.sources.AvroIo.toAvro(g1, t1)
      graft.sources.AvroIo.toAvro(g2, t2)
      val d = new java.io.File(AvroEvolvedFixtureDir)
      if (d.exists()) d.listFiles().foreach(_.delete())
      d.mkdirs()
      def move(from: String, as: String): Unit = {
        val f = new java.io.File(from).listFiles()
          .filter(_.getName.endsWith(".avro")).head
        java.nio.file.Files.copy(f.toPath, new java.io.File(d, as).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
      }
      move(t1, "gen1-part-00000.avro")
      move(t2, "gen2-part-00000.avro")
    }
  /** The avro→lake PROMOTION (q_pipeline_lake): run the whole landing-
    * zone step once per data dir — read the mixed-generation Avro dump
    * through the lattice, gate rows on the lake contract (n_regionkey
    * required: the gen2 writer dropped it, so that whole generation
    * quarantines pending backfill — exactly what q_avro_drift_report's
    * null_fill row predicts), promote passing rows into a hive-
    * partitioned parquet lake keyed by region, and park failing rows in
    * a quarantine relation that carries the violated rule. The query
    * body then reads BOTH outputs back from disk, so the oracle compare
    * validates the physical layout, not just the plan. */
  private def avroLakeFixture(s: SparkSession, dir: String): Unit = {
    once(s, "avrolake", dir) {
      avroEvolvedFixture(s, dir)
      rmTree(AvroLakeDir) // a previous process' pre-versioned layout
      val landed = graft.sources.AvroIo.readAvro(s, AvroEvolvedFixtureDir)
      val flagged = graft.operators.Checks.flag(landed,
        Seq(graft.operators.Checks.NotNull("n_regionkey")))
      // the lake side lands through a VERSIONED commit: an atomic
      // manifest swap instead of directory overwrite — a promotion
      // that dies mid-land leaves the previous version intact (the
      // crash-window spec in LakeVersionsSpec), and the promoted
      // corpus gets time travel for free
      graft.sources.LakeVersions.commit(s, AvroLakeDir,
        flagged.filter(!col("row_bad"))
          .select("n_nationkey", "n_name", "n_regionkey", "n_len"),
        overwrite = true, partitionBy = Seq("n_regionkey"),
        statsCols = Seq("n_nationkey")): Unit
      flagged.filter(col("row_bad"))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_len"),
          when(col("not_null_n_regionkey_bad"), "not_null_n_regionkey")
            .as("reason"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(AvroLakeQuarantineDir)
    }
  }
  /** A file-sink output directory must be REMOVED before a fresh
    * streaming query writes into it: the sink's `_spark_metadata`
    * commit log is authoritative, and a stale log from a previous
    * process makes a fresh-checkpoint query believe its early batches
    * already committed — silent data loss, not an error. */
  private def rmTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
      finally st.close()
    }
  }

  /** Run the evolved landing zone through the STREAMING read once per
    * process (q_stream_avro reads the sink back): bounded replay —
    * processAllAvailable drains every pending file, then the query
    * stops — so the committed sink holds exactly the zone's rows and
    * the oracle compare pins streaming decode == batch decode ==
    * DuckDB's replay of the union/widen semantics. */
  private def avroStreamFixture(s: SparkSession, dir: String): Unit = {
    once(s, "avrostream", dir) {
      avroEvolvedFixture(s, dir)
      rmTree(AvroStreamSinkDir)
      val ck = java.nio.file.Files
        .createTempDirectory("graft-avro-stream-ck").toString
      val q = graft.sources.AvroIo.readAvroStream(s, AvroEvolvedFixtureDir)
        .writeStream.format("parquet")
        .option("path", AvroStreamSinkDir)
        .option("checkpointLocation", ck)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** PRODUCE a landing zone through the exactly-once streaming sink
    * once per data dir (q_avro_sink reads it back): nation rows arrive
    * as two micro-batches from a memory stream, land as
    * query-namespaced epoch files, then planted stale litter from a
    * dead producer (an unmarked epoch file + an orphaned attempt) is
    * vacuumed — so the green compare proves the sink's commit protocol
    * lands exactly the input rows AND that maintenance removes only
    * litter, never data. */
  private def avroSinkFixture(s: SparkSession, dir: String): Unit =
    once(s, "avrosink", dir) {
      rmTree(AvroSinkZoneDir)
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = PsIO.parquet(s, s"$dir/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Int, String, Int)]
      val q = graft.sources.AvroIo.avroStreamWriter(
        input.toDF().toDF("n_nationkey", "n_name", "n_regionkey"),
        AvroSinkZoneDir, codec = None)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-avro-sink-q-ck").toString)
        .start()
      try {
        val (h1, h2) = rows.splitAt(rows.length / 2)
        input.addData(h1.toSeq)
        q.processAllAvailable()
        input.addData(h2.toSeq)
        q.processAllAvailable()
      } finally q.stop()
      // dead-producer litter: unmarked epoch file + orphaned attempt,
      // stale enough to clear the vacuum margin
      val zone = new java.io.File(AvroSinkZoneDir)
      val part = zone.listFiles().filter(f =>
        f.isFile && f.getName.startsWith("part-")).head
      val stale = System.currentTimeMillis() - 48L * 3600 * 1000
      Seq("part-qdead-e0-p00000.avro", ".attempt-qdead-e1-p00000-t9.avro")
        .foreach { n =>
          val f = new java.io.File(zone, n)
          java.nio.file.Files.copy(part.toPath, f.toPath)
          require(f.setLastModified(stale), s"avroSinkFixture: mtime on $f")
        }
      require(graft.sources.AvroIo.vacuumAvro(s, AvroSinkZoneDir) == 2,
        "avroSinkFixture: vacuum must remove exactly the planted litter")
    }

  /** The CONTINUOUS avro→lake promotion run bounded once per data dir
    * (q_pipeline_lake_stream reads both sinks back): same zone, same
    * contract, same dispositions as the batch q_pipeline_lake — but
    * routed per micro-batch through two exactly-once file sinks. */
  private def avroLakeStreamFixture(s: SparkSession, dir: String): Unit = {
    once(s, "avrolakestream", dir) {
      avroEvolvedFixture(s, dir)
      rmTree(AvroLakeStreamDir); rmTree(AvroLakeStreamQuarantineDir)
      val ck = java.nio.file.Files
        .createTempDirectory("graft-lake-stream-ck").toString
      val zone = graft.sources.AvroIo.readAvroStream(s, AvroEvolvedFixtureDir)
      val (qLake, qQuarantine) = graft.streaming.StreamingOps
        .streamingLakePromote(zone,
          Seq(graft.operators.Checks.NotNull("n_regionkey")),
          AvroLakeStreamDir, AvroLakeStreamQuarantineDir,
          Seq("n_regionkey"), ck)
      try { qLake.processAllAvailable(); qQuarantine.processAllAvailable() }
      finally { qLake.stop(); qQuarantine.stop() }
    }
  }

  /** Write nation through the DSv2 batch face once per data dir
    * (q_avro_write_dsv2 reads the zone back): the first slice lands
    * with `mode("overwrite")` under the zstandard codec, the second
    * with `mode("append")` under deflate — so one green compare proves
    * the write.format protocol (attempt/commit renames, overwrite
    * swap, append non-collision), both codecs' round-trips, and the
    * mixed-codec read in a single oracled query. */
  private def avroDsv2WriteFixture(s: SparkSession, dir: String): Unit =
    once(s, "avrodsv2write", dir) {
      rmTree(AvroDsv2WriteDir)
      val nation = PsIO.parquet(s, s"$dir/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
      nation.filter(col("n_nationkey") < 12)
        .write.format("graft-avro").option("codec", "zstandard")
        .mode("overwrite").save(AvroDsv2WriteDir)
      nation.filter(col("n_nationkey") >= 12)
        .write.format("graft-avro")
        .mode("append").save(AvroDsv2WriteDir)
    }

  /** Three versioned commits over one lake table once per data dir
    * (q_lake_versions reads two of them back): v1 overwrites with the
    * low-key half of nation, v2 APPENDS the rest (so v2 == the full
    * relation through manifest composition), v3 overwrites with the
    * region-0 slice — so a green compare on pinned-v2 + latest proves
    * commit isolation, manifest-pinned time travel AFTER an overwrite,
    * and that overwrite replaces wholesale. */
  private def lakeVersionsFixture(s: SparkSession, dir: String): Unit =
    once(s, "lakeversions", dir) {
      rmTree(LakeVersionsDir)
      val nation = PsIO.parquet(s, s"$dir/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.LakeVersions.commit(s, LakeVersionsDir,
        nation.filter(col("n_nationkey") < 12), overwrite = true): Unit
      graft.sources.LakeVersions.commit(s, LakeVersionsDir,
        nation.filter(col("n_nationkey") >= 12)): Unit
      graft.sources.LakeVersions.commit(s, LakeVersionsDir,
        nation.filter(col("n_regionkey") === 0), overwrite = true): Unit
    }

  /** The VERSIONED streaming promotion run bounded once per data dir
    * (q_pipeline_lake_vstream reads both tables back): same zone, same
    * contract, same dispositions as [[avroLakeStreamFixture]] — but
    * every micro-batch lands as one tag-idempotent LakeVersions commit
    * per side, partitioned + footer-stat'd on the lake side. */
  private def avroLakeVStreamFixture(s: SparkSession, dir: String): Unit = {
    once(s, "avrolakevstream", dir) {
      avroEvolvedFixture(s, dir)
      rmTree(AvroLakeVStreamDir); rmTree(AvroLakeVStreamQuarantineDir)
      val ck = java.nio.file.Files
        .createTempDirectory("graft-lake-vstream-ck").toString
      val q = graft.streaming.StreamingOps.streamingLakePromoteVersioned(
        graft.sources.AvroIo.readAvroStream(s, AvroEvolvedFixtureDir),
        Seq(graft.operators.Checks.NotNull("n_regionkey")),
        AvroLakeVStreamDir, AvroLakeVStreamQuarantineDir,
        Seq("n_regionkey"), ck, statsCols = Seq("n_nationkey"))
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** Two PARTITIONED versioned commits once per data dir
    * (q_lake_versions_part reads the latest back): v1 overwrites with
    * the low-key half of nation hive-partitioned by region (footer
    * stats on the key), v2 appends the rest WITHOUT declaring a layout
    * — it must inherit `n_regionkey` from the manifest, or the rows
    * would land flat and the part_reg extraction in the query body
    * would come back empty. */
  private def lakeVersionsPartFixture(s: SparkSession, dir: String): Unit =
    once(s, "lakeversionspart", dir) {
      rmTree(LakeVersionsPartDir)
      val nation = PsIO.parquet(s, s"$dir/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.LakeVersions.commit(s, LakeVersionsPartDir,
        nation.filter(col("n_nationkey") < 12), overwrite = true,
        partitionBy = Seq("n_regionkey"), statsCols = Seq("n_nationkey")): Unit
      graft.sources.LakeVersions.commit(s, LakeVersionsPartDir,
        nation.filter(col("n_nationkey") >= 12),
        statsCols = Seq("n_nationkey")): Unit
    }

  /** The [[lakePruneFixture]] predicate range: inside the first
    * tercile of c_custkey at ANY scale factor, so exactly one of the
    * three committed files survives pruning. Integer floor division on
    * positives — identical in Scala and DuckDB's `//`, so the oracle
    * derives the same bounds from `max(c_custkey)`. Cached per dir:
    * the max(c_custkey) job runs once per data dir, keeping the query's
    * COMPOSE metadata-only (LazinessSpec's contract). */
  private def lakePruneBounds(s: SparkSession, dir: String): (Long, Long) =
    once(s, "lakeprunebounds", dir) {
      val maxId = PsIO.parquet(s, s"$dir/customer.parquet")
        .agg(max("c_custkey")).head().getLong(0)
      (maxId / 3 / 4, maxId / 3 / 2)
    }

  /** Lake maintenance once per data dir (q_lake_optimize reads latest +
    * pinned v3 back): three customer appends (v1-v3), a compaction
    * overwrite (v4) and a z-order overwrite on (c_custkey,
    * c_nationkey) (v5) — both expressed as [[graft.sources.LakeVersions]]
    * commits, so the pre-maintenance layout stays time-travelable. */
  private def lakeOptimizeFixture(s: SparkSession, dir: String): Unit =
    once(s, "lakeoptimize", dir) {
      rmTree(LakeOptimizeDir)
      val cust = PsIO.parquet(s, s"$dir/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val maxId = cust.agg(max("c_custkey")).head().getLong(0)
      val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
      Seq(col("c_custkey") <= cut1,
        col("c_custkey") > cut1 && col("c_custkey") <= cut2,
        col("c_custkey") > cut2).foreach { slice =>
        graft.sources.LakeVersions.commit(s, LakeOptimizeDir,
          cust.filter(slice).coalesce(1), statsCols = Seq("c_custkey")): Unit
      }
      graft.sources.LakeVersions.compactCommit(s, LakeOptimizeDir): Unit
      graft.sources.LakeVersions.zOrderCommit(s, LakeOptimizeDir,
        Seq("c_custkey", "c_nationkey"), partitions = 3): Unit
    }

  /** A sorted customer lake with STRING envelopes once per data dir
    * (q_lake_prune_str reads it pruned): the [[lakePruneFixture]]
    * layout, but footer stats recorded on c_name — at 18 chars the
    * manifest stores 16-byte truncated bounds, which is the lossy
    * case worth pinning. */
  private def lakePruneStrFixture(s: SparkSession, dir: String): Unit =
    once(s, "lakeprunestr", dir)(
      terciledCustomerLake(s, dir, LakePruneStrDir,
        statsCol = "c_name"): Unit)

  /** A sorted customer lake + one row-level DELETE once per data dir
    * (q_lake_delete reads the result): same three-file layout as
    * [[lakePruneFixture]] in its own dir, then deleteWhere over the
    * first-tercile range — exactly 1 file rewritten, 2 carried by
    * reference. Returns (version, filesRewritten, filesCarried). */
  private def lakeDeleteFixture(s: SparkSession, dir: String): (Long, Int, Int) =
    once(s, "lakedelete", dir) {
      terciledCustomerLake(s, dir, LakeDeleteDir): Unit
      val (lo, hi) = lakePruneBounds(s, dir)
      graft.sources.LakeVersions.deleteWhere(s, LakeDeleteDir,
        col("c_custkey").between(lo, hi))
    }

  /** The layout every lake fixture shares: the first `n` c_custkey
    * terciles of customer committed as one-file sorted appends (tight
    * disjoint envelopes — what a sorted rewrite produces). Clears
    * `lakeDir` first; returns (cut1, cut2). */
  private def terciledCustomerLake(s: SparkSession, dir: String,
      lakeDir: String, n: Int = 3,
      statsCol: String = "c_custkey"): (Long, Long) = {
    rmTree(lakeDir)
    val cust = PsIO.parquet(s, s"$dir/customer.parquet")
      .select("c_custkey", "c_name")
    val maxId = cust.agg(max("c_custkey")).head().getLong(0)
    val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
    Seq(col("c_custkey") <= cut1,
      col("c_custkey") > cut1 && col("c_custkey") <= cut2,
      col("c_custkey") > cut2).take(n).foreach { slice =>
      graft.sources.LakeVersions.commit(s, lakeDir,
        cust.filter(slice).coalesce(1), statsCols = Seq(statsCol)): Unit
    }
    (cut1, cut2)
  }

  /** A sorted customer lake + one row-level UPDATE once per data dir
    * (q_lake_update reads the result): the three-file tercile layout,
    * then updateWhere over the first-tercile range rewriting c_name —
    * 1 file rewritten, 2 carried by reference. */
  private def lakeUpdateFixture(s: SparkSession, dir: String): (Long, Int, Int) =
    once(s, "lakeupdate", dir) {
      terciledCustomerLake(s, dir, LakeUpdateDir): Unit
      val (lo, hi) = lakePruneBounds(s, dir)
      graft.sources.LakeVersions.updateWhere(s, LakeUpdateDir,
        col("c_custkey").between(lo, hi),
        Map("c_name" -> concat(lit("UPD:"), col("c_name"))))
    }

  /** A two-tercile customer lake + one MERGE once per data dir
    * (q_lake_merge reads the result): the lake holds terciles 1-2;
    * the CDC source is every customer past cut1 with a rewritten
    * name — so tercile 2 REPLACES (its file rewrites), tercile 3
    * INSERTS, tercile 1 carries by reference. */
  private def lakeMergeFixture(s: SparkSession, dir: String): (Long, Int, Int) =
    once(s, "lakemerge", dir) {
      val (cut1, _) = terciledCustomerLake(s, dir, LakeMergeDir, n = 2)
      val source = PsIO.parquet(s, s"$dir/customer.parquet")
        .filter(col("c_custkey") > cut1)
        .select(col("c_custkey"),
          concat(lit("MRG:"), col("c_name")).as("c_name"))
      graft.sources.LakeVersions.mergeInto(s, LakeMergeDir, source,
        Seq("c_custkey"))
    }

  /** An incrementally-appended customer lake once per data dir
    * (q_lake_incr consumes it): tercile 1 as v1, then terciles 2 and
    * 3 appended as v2 and v3 — appendsBetween(1, 3) must read exactly
    * the two appended slices from the two added files. Returns the
    * fileChanges added-file count for the v1..v3 window (cached here:
    * deriving it in the query's compose would run an action and break
    * the laziness contract). */
  private def lakeIncrFixture(s: SparkSession, dir: String): Int =
    once(s, "lakeincr", dir) {
      terciledCustomerLake(s, dir, LakeIncrDir): Unit
      graft.sources.LakeVersions.fileChanges(s, LakeIncrDir, 1L, 3L)
        .filter(col("change") === "added").count().toInt
    }

  /** A consumed lake once per data dir (q_lake_consume reads the
    * consumer's target): terciles 1-2 committed, a consumer bootstraps
    * into the target, tercile 3 lands, a second consume appends the
    * increment. Returns the two (from, to) windows. */
  private def lakeConsumeFixture(s: SparkSession, dir: String)
      : ((Long, Long), (Long, Long)) =
    once(s, "lakeconsume", dir) {
      val target = LakeConsumeDir + "_target"
      rmTree(target)
      val ck = LakeConsumeDir + "_ck/consumer"
      rmTree(LakeConsumeDir + "_ck")
      val (_, cut2) = terciledCustomerLake(s, dir, LakeConsumeDir, n = 2)
      val w1 = graft.sources.LakeVersions.consumeAppends(s, LakeConsumeDir,
        ck)(df => df.write.mode("append").parquet(target))
      graft.sources.LakeVersions.commit(s, LakeConsumeDir,
        PsIO.parquet(s, s"$dir/customer.parquet")
          .filter(col("c_custkey") > cut2)
          .select("c_custkey", "c_name").coalesce(1),
        statsCols = Seq("c_custkey")): Unit
      val w2 = graft.sources.LakeVersions.consumeAppends(s, LakeConsumeDir,
        ck)(df => df.write.mode("append").parquet(target))
      (w1, w2)
    }

  /** A sorted customer lake once per data dir (q_lake_prune reads it
    * pruned): three appended commits with tight disjoint c_custkey
    * envelopes — the layout a sorted rewrite produces — each one file,
    * with footer stats recorded in the manifest. */
  private def lakePruneFixture(s: SparkSession, dir: String): Unit =
    once(s, "lakeprune", dir)(
      terciledCustomerLake(s, dir, LakePruneDir): Unit)

  /** Compaction of the 3-file nation Avro fixture into one file by
    * block copy (q_avro_compact reads the result back). */
  private def avroCompactFixture(s: SparkSession, dir: String): Unit =
    once(s, "avrocompact", dir) {
      avroFixture(s, dir)
      graft.sources.AvroIo.compactAvro(s, AvroFixtureDir, AvroCompactDir): Unit
    }
  private def avroNestedFixture(s: SparkSession, dir: String): Unit =
    once(s, "avronested", dir)(
      graft.sources.AvroIo.toAvro(
        PsIO.parquet(s, s"$dir/orders.parquet")
          .filter(col("o_orderkey") < 200)
          .select(col("o_orderkey"),
            struct(col("o_custkey").as("custkey"),
              col("o_orderstatus").as("status")).as("cust"),
            array(col("o_orderkey") * 2, col("o_orderkey") * 3).as("parts"),
            map(lit("ck"), col("o_custkey")).as("tags"),
            // o_orderkey + 0.25 is exact in binary, so the decimal cast
            // is rounding-free on both engines
            (col("o_orderkey") + lit(0.25)).cast("decimal(12,2)").as("total"))
          .repartition(2),
        AvroNestedFixtureDir))
  private def avroTsFixture(s: SparkSession, dir: String): Unit =
    once(s, "avrots", dir)(
      graft.sources.AvroIo.toAvro(
        events(s, dir).filter(col("event_id") < 500)
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts")) // ns -> µs
          .coalesce(1),
        AvroTsFixtureDir))
  private def pruneFixture(s: SparkSession, dir: String): Unit =
    once(s, "prune", dir) {
      // three files with TIGHT DISJOINT doc_id envelopes (the layout
      // writeSorted produces) so range predicates genuinely prune —
      // deterministic part names for the oracle's per-file compare
      val docs = PsIO.parquet(s, s"$dir/documents.parquet")
        .select("doc_id", "n_chars")
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val cut1 = maxId / 3
      val cut2 = 2 * maxId / 3
      val ranges = Seq(
        col("doc_id") <= cut1,
        col("doc_id") > cut1 && col("doc_id") <= cut2,
        col("doc_id") > cut2)
      val d = new java.io.File(PruneFixtureDir)
      if (d.exists()) d.listFiles().foreach(_.delete())
      d.mkdirs()
      ranges.zipWithIndex.foreach { case (p, g) =>
        val tmp = PruneFixtureDir + s"_tmp$g"
        docs.filter(p).coalesce(1).write.mode("overwrite").parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(d, f"part-$g%05d.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
      }
    }
  private def driftSpecFixture(s: SparkSession, dir: String): Unit =
    once(s, "driftspec", dir) {
      val (ref, _) = psiSides(s, dir)
      graft.operators.Drift.saveSpec(s,
        graft.operators.Drift.resolve(ref, psiDims), DriftSpecDir)
    }
  private def pickleFixture(s: SparkSession, dir: String): Unit =
    once(s, "pkl", dir) {
      new java.io.File(PickleFixturePath).getParentFile.mkdirs()
      PsIO.toPickle(
        PsIO.parquet(s, s"$dir/nation.parquet").orderBy("n_nationkey"),
        PickleFixturePath)
    }
  private def npyFixture(s: SparkSession, dir: String): Unit =
    once(s, "npy", dir) {
      new java.io.File(NpyFixturePath).getParentFile.mkdirs()
      PsIO.toNpy(
        PsIO.parquet(s, s"$dir/nation.parquet").orderBy("n_nationkey")
          .select(array(col("n_nationkey").cast("double"),
            col("n_regionkey").cast("double")).as("v")),
        "v", NpyFixturePath)
    }

  // ------------------------------------------------------------ oracles

  private val docShingleCte =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT doc_id,
                     list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' '))) AS dsh
              FROM toks WHERE len(w) >= 3),
       p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                    len(list_intersect(a.dsh, b.dsh)) AS inter,
                    len(a.dsh) AS na, len(b.dsh) AS nb
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id)"""

  private def jaccardOracle(threshold: Double): String =
    s"""$docShingleCte
       SELECT a_id, b_id, inter::DOUBLE / (na + nb - inter) AS jaccard
       FROM p WHERE inter::DOUBLE / (na + nb - inter) >= $threshold
       ORDER BY a_id, b_id"""

  /** Recursive-CTE connected components over the brute-force near-dup
    * pair set: `walk` carries every (node, reachable-label) pair; min per
    * node = the component's min id — the fixpoint
    * [[Components.clusterLabels]] iterates to, at any diameter. */
  private def componentCte(threshold: Double): String =
    docShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
    s""", e AS (SELECT a_id, b_id FROM p
                WHERE inter::DOUBLE / (na + nb - inter) >= $threshold),
       symm AS (SELECT a_id AS src, b_id AS dst FROM e
                UNION ALL SELECT b_id, a_id FROM e),
       walk(node, lab) AS (
         SELECT src, src FROM symm
         UNION
         SELECT s2.dst, w.lab FROM walk w JOIN symm s2 ON s2.src = w.node)"""

  private val normFp = """('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT"""

  private val stopList = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private def langRatio(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(string_split(text, ' '), t -> list_contains($lst, t)))::DOUBLE / len(string_split(text, ' '))"
  }

  def oracleSql: Map[String, String] = Map(
    "q_astype" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
            CAST(o_custkey AS DOUBLE) AS o_custkey,
            o_orderstatus, o_totalprice
         FROM orders ORDER BY CAST(o_orderkey AS VARCHAR)""",
    "q_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             ('0x' || substr(md5(doc_id::VARCHAR || 'r7'), 1, 15))::BIGINT % 10000 AS b
           FROM documents)
         WHERE b < 3000 ORDER BY doc_id""",
    "q_suffixes" ->
      """SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
            c.c_acctbal AS c_acctbal_x, s.s_acctbal AS c_acctbal_y
         FROM customer c JOIN supplier s ON c.c_custkey = s.s_suppkey
         ORDER BY c_custkey""",
    "q_concat_outer" ->
      """SELECT c_custkey, c_name, NULL AS c_acctbal FROM customer
         UNION ALL
         SELECT c_custkey, NULL AS c_name, c_acctbal FROM customer
         ORDER BY c_custkey, c_name NULLS FIRST""",
    "q_dedup_key" ->
      """SELECT doc_id, lang, source, n_chars FROM (
           SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id""",
    "q_dedup_text" ->
      s"""SELECT doc_id, fp FROM (
            SELECT doc_id, $normFp AS fp,
                   row_number() OVER (PARTITION BY $normFp ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1 ORDER BY doc_id""",
    "q_jaccard_pairs" -> jaccardOracle(0.6),
    "q_minhash_lsh" -> jaccardOracle(0.8),
    // same shingle CTE, but pairs generated strictly ACROSS the
    // train/eval split instead of a_id < b_id within the corpus
    "q_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                       list_distinct(list_transform(range(len(w) - 2),
                         i -> array_to_string(w[i+1:i+3], ' '))) AS dsh
                FROM toks WHERE len(w) >= 3),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                      len(list_intersect(a.dsh, b.dsh)) AS inter,
                      len(a.dsh) AS na, len(b.dsh) AS nb
               FROM sh a JOIN sh b ON a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0)
         SELECT a_id, b_id, inter::DOUBLE / (na + nb - inter) AS jaccard
         FROM p WHERE inter::DOUBLE / (na + nb - inter) >= 0.6
         ORDER BY a_id, b_id""",
    "q_decontaminated" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                       list_distinct(list_transform(range(len(w) - 2),
                         i -> array_to_string(w[i+1:i+3], ' '))) AS dsh
                FROM toks WHERE len(w) >= 3),
         p AS (SELECT a.doc_id AS a_id,
                      len(list_intersect(a.dsh, b.dsh)) AS inter,
                      len(a.dsh) AS na, len(b.dsh) AS nb
               FROM sh a JOIN sh b ON a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0),
         hit AS (SELECT DISTINCT a_id FROM p
                 WHERE inter::DOUBLE / (na + nb - inter) >= 0.6)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT a_id FROM hit)
         ORDER BY doc_id""",
    "q_dedup_incr" ->
      s"""SELECT doc_id, lang FROM documents
          WHERE doc_id % 5 = 0
            AND $normFp NOT IN
              (SELECT $normFp FROM documents WHERE doc_id % 2 = 0)
          ORDER BY doc_id""",
    "q_json_extract" ->
      """SELECT event_type, count(*) AS cnt,
                sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
                sum(json_extract(props, '$.k')::BIGINT)::DOUBLE / count(*) AS avg_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_bloom_join" ->
      """SELECT c_nationkey, count(*) AS n, sum(o_orderkey)::BIGINT AS key_sum
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_shared_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 14),
                  i -> array_to_string(w[i+1:i+15], ' '))) AS dsh
                FROM toks WHERE len(w) >= 15),
         u AS (SELECT doc_id, unnest(dsh) AS s FROM sh)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_spans
         FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY a_id, b_id ORDER BY a_id, b_id""",
    // n-gram multiset restated relationally: unnest + GROUP BY per doc;
    // docs with < n tokens fall out of the grouped CTEs and coalesce to 0
    "q_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g2 AS (SELECT doc_id, len(w) AS nt,
                       list_transform(range(len(w) - 1),
                         i -> array_to_string(w[i+1:i+2], ' ')) AS sh
                FROM toks WHERE len(w) >= 2),
         u2 AS (SELECT doc_id, nt, unnest(sh) AS g FROM g2),
         c2 AS (SELECT doc_id, nt, g, count(*) AS c FROM u2 GROUP BY doc_id, nt, g),
         m2 AS (SELECT doc_id, least(1.0, (max(c) * 2)::DOUBLE / nt) AS top2
                FROM c2 GROUP BY doc_id, nt),
         g3 AS (SELECT doc_id,
                       list_transform(range(len(w) - 2),
                         i -> array_to_string(w[i+1:i+3], ' ')) AS sh
                FROM toks WHERE len(w) >= 3),
         u3 AS (SELECT doc_id, unnest(sh) AS g FROM g3),
         c3 AS (SELECT doc_id, g, count(*) AS c FROM u3 GROUP BY doc_id, g),
         m3 AS (SELECT doc_id,
                       coalesce(sum(c) FILTER (c > 1), 0)::DOUBLE / sum(c) AS dup3
                FROM c3 GROUP BY doc_id)
         SELECT d.doc_id, coalesce(m2.top2, 0.0) AS top2_frac,
                coalesce(m3.dup3, 0.0) AS dup3_frac
         FROM documents d
         LEFT JOIN m2 ON m2.doc_id = d.doc_id
         LEFT JOIN m3 ON m3.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "q_dedup_clusters" ->
      s"""${componentCte(0.8)}
         SELECT node AS doc_id, min(lab) AS cluster_id FROM walk
         GROUP BY node ORDER BY doc_id""",
    "q_cluster_dedup" ->
      s"""${componentCte(0.8)},
         losers AS (SELECT node FROM walk GROUP BY node
                    HAVING min(lab) <> node)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT node FROM losers) ORDER BY doc_id""",
    "q_simhash" ->
      (Dedup.simhashOracleSql("documents", "doc_id", "text") + " ORDER BY id"),
    "q_simhash_pairs" ->
      (Dedup.simhashPairsOracleSql("documents", "doc_id", "text", maxHamming = 3) +
        " ORDER BY a_id, b_id"),
    "q_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp_hex,
            ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp60,
            md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_norm_hex
          FROM documents ORDER BY doc_id""",
    "q_textstats" ->
      s"""SELECT doc_id, n_tokens, n_subwords, n_chars_c, punct_ratio, mean_tok_len, stop_ratio,
            ((CASE WHEN n_chars_c BETWEEN 100 AND 10000 THEN 1.0
                   WHEN n_chars_c < 100 THEN n_chars_c::DOUBLE / 100.0
                   ELSE 0.5 END)
             + least(stop_ratio * 5.0, 1.0)
             + (1.0 - least(punct_ratio * 4.0, 1.0))
             + (CASE WHEN mean_tok_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)) / 4.0 AS quality
          FROM (
            SELECT doc_id,
              len(string_split(text, ' ')) AS n_tokens,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords,
              length(text) AS n_chars_c,
              CASE WHEN length(text) = 0 THEN 0.0
                   ELSE length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text) END AS punct_ratio,
              CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                   ELSE list_sum(list_transform(string_split(text, ' '), t -> length(t)))::DOUBLE
                        / len(string_split(text, ' ')) END AS mean_tok_len,
              CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                   ELSE len(list_filter(string_split(text, ' '), t -> list_contains($stopList, t)))::DOUBLE
                        / len(string_split(text, ' ')) END AS stop_ratio
            FROM documents) ORDER BY doc_id""",
    "q_quality" ->
      """SELECT doc_id, dup_ratio, drop_reason, (drop_reason IS NULL) AS keep
         FROM (
           SELECT doc_id,
             CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE (n_tokens - n_distinct)::DOUBLE / n_tokens END AS dup_ratio,
             CASE WHEN n_chars_c < 100 THEN 'too_short'
                  WHEN n_chars_c > 20000 THEN 'too_long'
                  WHEN punct_ratio > 0.25 THEN 'high_punct'
                  WHEN CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE (n_tokens - n_distinct)::DOUBLE / n_tokens END > 0.6
                    THEN 'repetitive'
                  WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0 THEN 'weird_tokens'
                  ELSE NULL END AS drop_reason
           FROM (
             SELECT doc_id, length(text) AS n_chars_c,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) END AS punct_ratio,
               CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                    ELSE list_sum(list_transform(string_split(text, ' '), t -> length(t)))::DOUBLE
                         / len(string_split(text, ' ')) END AS mean_tok_len
             FROM documents))
         ORDER BY doc_id""",
    "q_langid" -> {
      val profiles = TextAnalysis.LangProfiles
      val scoreDefs = profiles
        .map { case (l, ws) => s"${langRatio(ws)} AS s_$l" }.mkString(",\n              ")
      val best = profiles.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val cases = profiles
        .map { case (l, _) => s"WHEN s_$l = best AND s_$l > 0 THEN '$l'" }
        .mkString(" ")
      s"""SELECT doc_id, lang,
            CASE $cases ELSE 'und' END AS lang_pred
          FROM (SELECT *, $best AS best FROM (
            SELECT doc_id, lang,
              $scoreDefs
            FROM documents)) ORDER BY doc_id"""
    },
    "q_pipeline" -> {
      val profiles = TextAnalysis.LangProfiles
      val scoreDefs = profiles
        .map { case (l, ws) => s"${langRatio(ws)} AS s_$l" }.mkString(",\n              ")
      val best = profiles.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val cases = profiles
        .map { case (l, _) => s"WHEN s_$l = best AND s_$l > 0 THEN '$l'" }
        .mkString(" ")
      s"""WITH qreason AS (
            SELECT doc_id,
              CASE WHEN n_chars_c < 100 THEN 'too_short'
                   WHEN n_chars_c > 20000 THEN 'too_long'
                   WHEN punct_ratio > 0.25 THEN 'high_punct'
                   WHEN CASE WHEN n_tokens = 0 THEN 0.0
                             ELSE (n_tokens - n_distinct)::DOUBLE / n_tokens END > 0.6
                     THEN 'repetitive'
                   WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0 THEN 'weird_tokens'
                   ELSE NULL END AS drop_reason
            FROM (
              SELECT doc_id, length(text) AS n_chars_c,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' '))) AS n_distinct,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text) END AS punct_ratio,
                CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                     ELSE list_sum(list_transform(string_split(text, ' '), t -> length(t)))::DOUBLE
                          / len(string_split(text, ' ')) END AS mean_tok_len
              FROM documents)),
          lpred AS (
            SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
            FROM (SELECT *, $best AS best FROM (
              SELECT doc_id, $scoreDefs FROM documents))),
          kept AS (
            SELECT d.doc_id, lpred.lang_pred, $normFp AS fp
            FROM documents d
            JOIN qreason USING (doc_id) JOIN lpred USING (doc_id)
            WHERE qreason.drop_reason IS NULL),
          dedup AS (
            SELECT doc_id, lang_pred,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept),
          sp AS (
            SELECT doc_id, lang_pred,
                   CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, lang_pred,
                    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS b
                  FROM dedup WHERE rn = 1))
          SELECT lang_pred, split, COUNT(*) AS n, SUM(doc_id)::BIGINT AS id_sum
          FROM sp GROUP BY lang_pred, split ORDER BY lang_pred, split"""
    },
    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
         sc AS (SELECT qid, nid, list_cosine_similarity(qv, cv) AS score
                FROM q JOIN c ON qid != nid),
         r AS (SELECT qid AS query_id, nid AS neighbor_id,
                      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
               FROM sc)
         SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 5
         ORDER BY query_id, rnk""",
    // the five ANN variants share one closed-form planted-probe oracle
    // (see annProbes): each +1e-4-shifted out-of-corpus probe's true —
    // and, for every index shape, found — top-1 is its original
    "q_ann_lsh" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
                1::BIGINT AS rnk
         FROM embeddings WHERE vec_id < 20 ORDER BY query_id""",
    "q_ann_ivf" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
                1::BIGINT AS rnk
         FROM embeddings WHERE vec_id < 20 ORDER BY query_id""",
    "q_ann_pq" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
                1::BIGINT AS rnk
         FROM embeddings WHERE vec_id < 20 ORDER BY query_id""",
    "q_ann_int8" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
                1::BIGINT AS rnk
         FROM embeddings WHERE vec_id < 20 ORDER BY query_id""",
    "q_ann_ivfpq" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
                1::BIGINT AS rnk
         FROM embeddings WHERE vec_id < 20 ORDER BY query_id""",
    // replays Int8Stats' sequential double recurrence with list lambdas:
    // float->double casts are exact, min/max are comparisons, and DuckDB's
    // round() (half away from zero) agrees with the engine's rounding on
    // the non-negative scaled values — verified bit-exact, no rounding
    // slop needed (the scaladoc on Int8Stats pins the op order)
    "q_quant_err" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200),
         s AS (SELECT vec_id, v, list_aggregate(v, 'min') AS mn, list_aggregate(v, 'max') AS mx,
                      (list_aggregate(v, 'max') - list_aggregate(v, 'min'))/255.0 AS sc FROM e),
         err AS (SELECT vec_id, mn, mx, len(v) AS d,
                   CASE WHEN sc = 0 THEN NULL
                        ELSE list_transform(v, x -> abs(mn + round((x - mn)/sc)*sc - x)) END AS es
                 FROM s)
         SELECT vec_id, mn AS qmin, mx AS qmax,
                COALESCE(list_aggregate(es, 'max'), 0.0) AS max_abs_err,
                CASE WHEN es IS NULL THEN 0.0 ELSE list_aggregate(es, 'sum')/d END AS mean_abs_err
         FROM err ORDER BY vec_id""",
    "q_multimodal" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS payload_md5
         FROM documents ORDER BY doc_id""",
    // closed-form recomputation of the decoded-PNG pixel stats: the
    // fixture plants pixel i = (doc_id*7 + i) % 256 in a 16x12 RGB image
    "q_multimodal_img" ->
      """SELECT doc_id, 16::BIGINT AS width, 12::BIGINT AS height,
                3::BIGINT AS channels, 576::BIGINT AS n_bytes,
                (SELECT sum((doc_id*7 + i) % 256) FROM range(576) t(i))::BIGINT AS pix_sum
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    // planting rule: doc_id%3==0 is a real PNG (decodes), %3==1 is a
    // corrupt image payload, %3==2 a codec-less compressed type
    "q_media_quarantine" ->
      """SELECT doc_id, (doc_id % 3 = 0) AS decoded
         FROM documents WHERE doc_id < 60 ORDER BY doc_id""",
    "q_window_events" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_s, event_type,
            count(*) AS n, (sum(value::DECIMAL(18,2)))::DOUBLE AS total_value
         FROM events GROUP BY hour_s, event_type ORDER BY hour_s, event_type""",
    // sliding windows: every event belongs to the 4 15-min-aligned
    // 1-hour windows covering it (offsets 0..3 back from its slide slot)
    "q_window_sliding" ->
      """WITH e AS (SELECT (epoch_ms(ts)::BIGINT // 1000) AS sec, event_type, value
                    FROM events),
         w AS (SELECT ((sec // 900) - o.o) * 900 AS win_s, event_type, value
               FROM e CROSS JOIN (SELECT unnest(range(4)) AS o) o)
         SELECT win_s, event_type, count(*) AS n,
                (sum(value::DECIMAL(18,2)))::DOUBLE AS total_value
         FROM w GROUP BY win_s, event_type ORDER BY win_s, event_type""",
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts)::BIGINT AS ms, value FROM events),
         x AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e),
         y AS (SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS brk FROM x),
         z AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id FROM y)
         SELECT user_id, session_id::BIGINT AS session_id, min(ms) AS start_ms, max(ms) AS end_ms,
                count(*) AS n_events, (sum(value::DECIMAL(18,2)))::DOUBLE AS total_value
         FROM z GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q_vocab" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS df
         FROM t GROUP BY token ORDER BY cnt DESC, token LIMIT 30""",
    "q_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents WHERE doc_id < 20),
         tf AS (SELECT doc_id AS id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
         df AS (SELECT token, count(DISTINCT doc_id) AS df FROM t GROUP BY token)
         SELECT id, token, tf, df FROM tf JOIN df USING (token)
         ORDER BY id, token""",
    // exact columns recomputed; the error booleans are pinned true — a
    // sketch drifting past its bound turns this row red
    "q_sketches_err" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
                true AS hll_ok, true AS p50_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_hll_incr" ->
      """SELECT lang, count(DISTINCT doc_id) AS exact_distinct, true AS est_ok
         FROM documents GROUP BY lang ORDER BY lang""",
    // exact n recomputed; the quartile-error and n-exactness booleans
    // are pinned true (KLL rank error stays under one value step on
    // this fixture at k=256 across partitionings — KllSpec margins it)
    "q_kll_quantiles" ->
      """SELECT l_returnflag, COUNT(*)::BIGINT AS n, true AS n_exact,
                true AS q25_ok, true AS q50_ok, true AS q75_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         tot AS (SELECT count(*) AS n FROM t),
         e AS (SELECT token, count(*) AS exact_cnt FROM t GROUP BY token)
         SELECT token, exact_cnt, true AS present, true AS bound_ok
         FROM e, tot WHERE exact_cnt * 65 > n ORDER BY token""",
    "q_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts)::BIGINT AS ms, event_type, value FROM events),
         c AS (SELECT event_id, user_id, ms FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ms, max(value) AS p_value FROM e
               WHERE event_type = 'purchase' GROUP BY user_id, ms)
         SELECT c.event_id, c.user_id, c.ms, p.ms AS p_ms, p.p_value
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ms >= p.ms
         ORDER BY c.event_id""",
    "q_asof_fwd" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts)::BIGINT AS ms, event_type, value FROM events),
         c AS (SELECT event_id, user_id, ms FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ms, max(value) AS p_value FROM e
               WHERE event_type = 'purchase' GROUP BY user_id, ms)
         SELECT c.event_id, c.user_id, c.ms,
           CASE WHEN p.ms - c.ms <= 3600000 THEN p.ms END AS p_ms,
           CASE WHEN p.ms - c.ms <= 3600000 THEN p.p_value END AS p_value
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ms <= p.ms
         ORDER BY c.event_id""",
    "q_asof_near" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts)::BIGINT AS ms, event_type, value FROM events),
         c AS (SELECT event_id, user_id, ms FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ms, max(value) AS p_value FROM e
               WHERE event_type = 'purchase' GROUP BY user_id, ms),
         b AS (SELECT c.event_id, p.ms AS bms, p.p_value AS bval
               FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ms >= p.ms),
         f AS (SELECT c.event_id, p.ms AS fms, p.p_value AS fval
               FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ms <= p.ms)
         SELECT c.event_id, c.user_id, c.ms,
           CASE WHEN bms IS NOT NULL AND (fms IS NULL OR c.ms - bms <= fms - c.ms)
                THEN bms ELSE fms END AS p_ms,
           CASE WHEN bms IS NOT NULL AND (fms IS NULL OR c.ms - bms <= fms - c.ms)
                THEN bval ELSE fval END AS p_value
         FROM c JOIN b USING (event_id) JOIN f USING (event_id)
         ORDER BY c.event_id""",
    // ns epoch integers on both sides (DuckDB epoch_ns == the ns longs
    // readEventsNs normalizes ts to, whatever the file's physical type)
    "q_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)::BIGINT AS ns,
                           event_type FROM events)
         SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id
         FROM e l JOIN e r
           ON l.user_id = r.user_id
          AND r.ns >= l.ns AND r.ns <= l.ns + 1800000000000
          AND l.event_type = 'click' AND r.event_type = 'purchase'
         ORDER BY l_event_id, r_event_id""",
    "q_range_join" ->
      """SELECT o.o_orderkey, i.i_id
         FROM orders o
         JOIN (SELECT p_partkey AS i_id, p_retailprice * 50 AS lo,
                      p_retailprice * 50 + 20000 AS hi
               FROM part WHERE p_partkey % 200 = 0) i
           ON o.o_totalprice >= i.lo AND o.o_totalprice <= i.hi
         ORDER BY o_orderkey, i_id""",
    "q_sql_vector" ->
      """SELECT l_orderkey, l_linenumber,
            ((l_quantity * 1.0) + ((l_discount * 100) * 2.0)) + ((l_tax * 100) * 3.0) AS d
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_cut" ->
      """SELECT band, COUNT(*) AS n, SUM(o_orderkey)::BIGINT AS key_sum FROM (
           SELECT CASE WHEN o_totalprice > 0      AND o_totalprice <= 100000 THEN 'xs'
                       WHEN o_totalprice > 100000 AND o_totalprice <= 200000 THEN 's'
                       WHEN o_totalprice > 200000 AND o_totalprice <= 300000 THEN 'm'
                       WHEN o_totalprice > 300000 AND o_totalprice <= 400000 THEN 'l'
                  END AS band, o_orderkey FROM orders)
         GROUP BY band ORDER BY band""",
    "q_qcut" ->
      """WITH e AS (SELECT quantile_cont(o_totalprice, 0.25) AS e1,
                           quantile_cont(o_totalprice, 0.50) AS e2,
                           quantile_cont(o_totalprice, 0.75) AS e3 FROM orders)
         SELECT o_orderkey,
                1 + (o_totalprice > e1)::INT + (o_totalprice > e2)::INT
                  + (o_totalprice > e3)::INT AS band
         FROM orders, e ORDER BY o_orderkey""",
    "q_qcut_group" ->
      """SELECT o_orderkey, o_orderpriority,
            1 + (o_totalprice > e1)::INT + (o_totalprice > e2)::INT
              + (o_totalprice > e3)::INT AS band
         FROM (SELECT o_orderkey, o_orderpriority, o_totalprice,
                 quantile_cont(o_totalprice, 0.25) OVER (PARTITION BY o_orderpriority) AS e1,
                 quantile_cont(o_totalprice, 0.50) OVER (PARTITION BY o_orderpriority) AS e2,
                 quantile_cont(o_totalprice, 0.75) OVER (PARTITION BY o_orderpriority) AS e3
               FROM orders)
         ORDER BY o_orderkey""",
    "q_transform" ->
      """SELECT o_orderkey, o_custkey, cnt, ((p_d * cnt) - sum_d)::DOUBLE AS dev_scaled
         FROM (SELECT o_orderkey, o_custkey,
                      o_totalprice::DECIMAL(18,2) AS p_d,
                      COUNT(*) OVER (PARTITION BY o_custkey) AS cnt,
                      SUM(o_totalprice::DECIMAL(18,2)) OVER (PARTITION BY o_custkey) AS sum_d
               FROM orders)
         ORDER BY o_orderkey""",
    "q_cumsum" ->
      """SELECT o_custkey, o_orderkey,
            (sum(o_totalprice::DECIMAL(18,2)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS UNBOUNDED PRECEDING))::DOUBLE AS cum_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    // chunking: list slicing is 1-based-inclusive and end-clamped in both
    // engines; chunk count = ceil((n-overlap)/step) via the same floored
    // double division
    "q_chunk" ->
      """WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS toks
                    FROM documents),
              e AS (SELECT id, toks,
                      unnest(generate_series(0,
                        greatest(1, floor((len(toks) - 8 + 31) / 32.0))::INT - 1))
                        AS chunk_id
                    FROM d)
         SELECT id, chunk_id::INTEGER AS chunk_id,
            array_to_string(toks[chunk_id*32+1 : chunk_id*32+40], ' ')
              AS chunk_text,
            len(toks[chunk_id*32+1 : chunk_id*32+40])::INTEGER AS n_tokens
         FROM e ORDER BY id, chunk_id""",
    "q_pack" ->
      """WITH d AS (SELECT doc_id,
              len(string_split(text, ' '))::INTEGER AS n_tok,
              ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard
            FROM documents)
         SELECT doc_id, n_tok, shard,
            floor((sum(n_tok::BIGINT) OVER w - n_tok) / 512.0)::BIGINT AS pack_id
         FROM d
         WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING)
         ORDER BY doc_id""",
    // pack offsets: q_pack's CTE + one more window on (shard, pack_id)
    "q_pack_offsets" ->
      """WITH d AS (SELECT doc_id,
              len(string_split(text, ' '))::INTEGER AS n_tok,
              ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard
            FROM documents),
         p AS (SELECT doc_id, n_tok, shard,
              floor((sum(n_tok::BIGINT) OVER w - n_tok) / 512.0)::BIGINT AS pack_id
            FROM d
            WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING))
         SELECT doc_id, shard, pack_id,
            (sum(n_tok::BIGINT) OVER w2 - n_tok)::BIGINT AS pack_offset
         FROM p
         WINDOW w2 AS (PARTITION BY shard, pack_id ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING)
         ORDER BY doc_id""",
    // NFC: DuckDB's nfc_normalize on the same decomposed/composed forms
    "q_nfc" ->
      """SELECT doc_id,
            nfc_normalize(text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber')
              AS norm,
            nfc_normalize(text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber')
              = nfc_normalize(text || ' caf' || chr(233) || ' ' || chr(252) || 'ber')
              AS forms_agree
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    // unchunk: replay chunking (q_chunk's CTE), strip the 8-token overlap
    // from every non-first chunk, stitch with an ordered string_agg
    "q_unchunk" ->
      """WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS toks,
                      text AS orig
                    FROM documents),
              e AS (SELECT id, toks, orig,
                      unnest(generate_series(0,
                        greatest(1, floor((len(toks) - 8 + 31) / 32.0))::INT - 1))
                        AS chunk_id
                    FROM d),
              c AS (SELECT id, orig, chunk_id,
                      array_to_string(toks[chunk_id*32+1 : chunk_id*32+40], ' ')
                        AS chunk_text
                    FROM e),
              b AS (SELECT id, orig, chunk_id,
                      CASE WHEN chunk_id = 0 THEN chunk_text
                           ELSE array_to_string(
                             string_split(chunk_text, ' ')[9:], ' ') END AS body
                    FROM c),
              r AS (SELECT id, any_value(orig) AS orig,
                      string_agg(body, ' ' ORDER BY chunk_id) AS text
                    FROM b GROUP BY id)
         SELECT id, text, text = orig AS matches FROM r ORDER BY id""",
    // snapshot diff: same deterministic "new" snapshot, FULL JOIN delta
    "q_snapshot_diff" ->
      """WITH nu AS (
           SELECT doc_id,
              CASE WHEN doc_id % 10 = 4 THEN upper(text) ELSE text END AS text,
              lang, source
           FROM documents WHERE doc_id % 10 <> 3
           UNION ALL
           SELECT doc_id + 1000000, text, lang, source
           FROM documents WHERE doc_id % 10 = 5)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
            CASE WHEN o.doc_id IS NULL THEN 'added'
                 WHEN n.doc_id IS NULL THEN 'removed'
                 WHEN o.text IS NOT DISTINCT FROM n.text AND o.lang IS NOT DISTINCT FROM n.lang
                      AND o.source IS NOT DISTINCT FROM n.source THEN 'unchanged'
                 ELSE 'changed' END AS status
         FROM documents o FULL JOIN nu n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",
    // edit pairs: brute-force all-pairs levenshtein — the prefix-filtered
    // engine plan must agree bit-for-bit (exactness differential)
    "q_edit_pairs" ->
      """WITH t AS (SELECT doc_id,
              source || '-' || lang || ' doc ' || (doc_id % 1000) AS title
            FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            levenshtein(a.title, b.title)::INTEGER AS dist
         FROM t a JOIN t b ON a.doc_id < b.doc_id
         WHERE abs(length(a.title) - length(b.title)) <= 1
           AND levenshtein(a.title, b.title) <= 1
         ORDER BY a_id, b_id""",
    // quality model: same integer features x integer weights
    "q_quality_model" ->
      """WITH f AS (SELECT doc_id,
              len(string_split(text, ' ')) AS n_tok,
              length(text) AS n_chars,
              len(list_filter(string_split(text, ' '),
                x -> length(x) <= 2)) AS n_short,
              length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS n_digit,
              len(string_split(text, ' '))
                - len(list_distinct(string_split(text, ' '))) AS n_rep
            FROM documents)
         SELECT doc_id,
            (8*n_tok + n_chars - 16*n_short - 4*n_digit - 2*n_rep)::BIGINT
              AS score
         FROM f
         WHERE 8*n_tok + n_chars - 16*n_short - 4*n_digit - 2*n_rep >= 600
         ORDER BY doc_id""",
    // exact-k per-group sample: same salted md5 rank in QUALIFY
    "q_sample_k" ->
      """SELECT doc_id, lang FROM documents
         QUALIFY row_number() OVER (PARTITION BY lang
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'r11'), 1, 15))::BIGINT,
                    doc_id) <= 5
         ORDER BY doc_id""",
    // interleave: per-lang hash-order position x integer stride
    "q_interleave" ->
      """WITH p AS (SELECT doc_id, lang,
              row_number() OVER (PARTITION BY lang
                ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'r11'), 1, 15))::BIGINT,
                         doc_id) - 1 AS pos
            FROM documents)
         SELECT doc_id, lang,
            (pos * CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 3 WHEN 'es' THEN 3
                             WHEN 'fr' THEN 4 WHEN 'zh' THEN 3 END)::BIGINT AS sched
         FROM p ORDER BY doc_id""",
    // incremental refresh: one CTE replay of diff -> gate -> anti-join
    "q_pipeline_incr" ->
      """WITH nu AS (
           SELECT doc_id,
              CASE WHEN doc_id % 10 = 4 THEN upper(text) ELSE text END AS text,
              lang, source
           FROM documents WHERE doc_id % 10 <> 3
           UNION ALL
           SELECT doc_id + 1000000, text, lang, source
           FROM documents WHERE doc_id % 10 = 5),
         delta AS (
           SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN n.doc_id IS NULL THEN 'removed'
                   WHEN o.text IS NOT DISTINCT FROM n.text AND o.lang IS NOT DISTINCT FROM n.lang
                        AND o.source IS NOT DISTINCT FROM n.source THEN 'unchanged'
                   ELSE 'changed' END AS status
           FROM documents o FULL JOIN nu n ON o.doc_id = n.doc_id),
         fresh AS (
           SELECT d.doc_id, d.status, n.text
           FROM delta d JOIN nu n USING (doc_id)
           WHERE d.status IN ('added', 'changed')),
         scored AS (
           SELECT doc_id, status, text,
              (8*len(string_split(text, ' ')) + length(text)
               - 16*len(list_filter(string_split(text, ' '), x -> length(x) <= 2))
               - 4*(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               - 2*(len(string_split(text, ' '))
                    - len(list_distinct(string_split(text, ' ')))))::BIGINT
                AS score
           FROM fresh)
         SELECT doc_id, status, score,
            len(string_split(text, ' '))::BIGINT AS n_tok
         FROM scored s
         WHERE score >= 600
           AND NOT EXISTS (SELECT 1 FROM documents c
                WHERE ('0x' || substr(md5(c.text), 1, 15))::BIGINT
                      = ('0x' || substr(md5(s.text), 1, 15))::BIGINT)
         ORDER BY doc_id""",
    // bigram coverage: same integer counts, one exact closing division
    "q_lm_coverage" ->
      """WITH ref AS (
           SELECT toks[i] || ' ' || toks[i+1] AS bg
           FROM (SELECT string_split(text, ' ') AS toks,
                    unnest(generate_series(1,
                      greatest(len(string_split(text, ' ')) - 1, 0))) AS i
                 FROM documents WHERE doc_id % 2 = 0)
           GROUP BY 1 HAVING count(*) >= 3),
         bg AS (
           SELECT id, toks[i] || ' ' || toks[i+1] AS bg
           FROM (SELECT doc_id AS id, string_split(text, ' ') AS toks,
                    unnest(generate_series(1,
                      greatest(len(string_split(text, ' ')) - 1, 0))) AS i
                 FROM documents)),
         j AS (SELECT b.id, b.bg, r.bg IS NOT NULL AS hit
               FROM bg b LEFT JOIN ref r USING (bg))
         SELECT d.doc_id AS id,
            count(j.bg)::BIGINT AS n_bigrams,
            count(CASE WHEN j.hit THEN 1 END)::BIGINT AS n_matched,
            CASE WHEN count(j.bg) > 0
                 THEN count(CASE WHEN j.hit THEN 1 END)::DOUBLE / count(j.bg)
            END AS coverage
         FROM documents d LEFT JOIN j ON d.doc_id = j.id
         GROUP BY d.doc_id ORDER BY id""",
    "q_nunique_all" ->
      """SELECT count(DISTINCT o_custkey) AS o_custkey,
            count(DISTINCT o_orderstatus) AS o_orderstatus,
            count(DISTINCT o_orderpriority) AS o_orderpriority
         FROM orders""",
    "q_str_join" ->
      """SELECT source,
            string_agg(substr(text, 1, 40), ' | ' ORDER BY doc_id)
              AS assembled
         FROM documents GROUP BY source ORDER BY source""",
    // redaction: same spike, same three patterns (Java∩RE2 subset), same
    // URL -> email -> phone order; 'g' replays Spark's replace-all
    // host recomputed in closed form from the planting rule; the seeded
    // hash60 selection order replayed like q_sample_k's
    "q_domain_cap" ->
      """SELECT doc_id, 'w' || (doc_id % 7)::VARCHAR || '.example.com' AS host
         FROM documents
         QUALIFY row_number() OVER (PARTITION BY doc_id % 7
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'r12'), 1, 15))::BIGINT,
                    doc_id) <= 30
         ORDER BY doc_id""",
    // closed-form semantic expectation: the extractor must recover
    // title + heading + entity-decoded body + footer from the planted
    // page — no regex replay, so engine dialects can't diverge
    "q_html_extract" ->
      """SELECT doc_id,
            'Doc Doc ' || doc_id::VARCHAR || ' '
              || replace(text, 'the', 'the&') || ' fin' AS extracted
         FROM documents ORDER BY doc_id""",
    "q_redact" ->
      """SELECT doc_id,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  text || ' contact user' || doc_id::VARCHAR
                       || '@mail.example.com visit https://ex.example/'
                       || doc_id::VARCHAR || ' call +1 555-01' || doc_id::VARCHAR,
                  'https?://[^ \t\n]+', '<URL>', 'g'),
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\+?[0-9][0-9() \-]{6,}[0-9]', '<PHONE>', 'g') AS clean
         FROM documents ORDER BY doc_id""",
    "q_dedup_lines" ->
      """WITH p AS (SELECT doc_id,
              text || chr(10) || 'subscribe to our newsletter' || chr(10) ||
              text || chr(10) || 'footer ' || doc_id::VARCHAR || chr(10) ||
              'subscribe to our newsletter' AS page FROM documents),
         s AS (SELECT doc_id, string_split(page, chr(10)) AS l FROM p),
         d AS (SELECT doc_id, l,
                      list_filter(l, (x, i) -> list_position(l, x) = i) AS kept
               FROM s)
         SELECT doc_id, len(l)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept,
                md5(array_to_string(kept, chr(10))) AS clean_md5
         FROM d ORDER BY doc_id""",
    "q_strip_boilerplate" ->
      """WITH p AS (SELECT doc_id,
              text || chr(10) || 'subscribe to our newsletter' || chr(10) ||
              'footer ' || doc_id::VARCHAR AS page FROM documents),
         e AS (SELECT doc_id, unnest(string_split(page, chr(10))) AS line FROM p),
         hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
                                   FROM e GROUP BY line) t WHERE df > 10),
         hl AS (SELECT coalesce(list(line), []) AS hs FROM hot),
         c AS (SELECT doc_id,
                 array_to_string(list_filter(string_split(page, chr(10)),
                   x -> NOT list_contains(hs, x)), chr(10)) AS clean
               FROM p CROSS JOIN hl)
         SELECT doc_id, length(clean)::BIGINT AS n_chars_clean,
                md5(clean) AS clean_md5
         FROM c ORDER BY doc_id""",
    // GOLDEN merge table for the sf0.01 documents fixture: BPE training
    // is iterative (not SQL-expressible), but it IS deterministic given
    // the corpus (BpeSpec pins determinism and merge-for-merge parity
    // with classic batch=1 BPE), so the expected artifact is committed
    // as a literal relation — a trainer regression (tie-break drift,
    // count bug, batching change) turns this row red. Regenerate with
    // `runMain graft.Verify <sf0.01> /tmp/v q_bpe_vocab` after any
    // INTENDED trainer change.
    "q_bpe_vocab" ->
      """SELECT * FROM (VALUES (0, 'e', 'r', 4568::BIGINT),
           (1, 'n', '</w>', 2834::BIGINT),
           (2, 'o', 'w', 2747::BIGINT),
           (3, 's', 't', 2676::BIGINT),
           (4, 'l', 'u', 1831::BIGINT),
           (5, 'p', 'a', 1758::BIGINT),
           (6, 'c', 'h', 937::BIGINT),
           (7, 'e', '</w>', 4473::BIGINT),
           (8, 'o', 'r', 2696::BIGINT),
           (9, 'm', 'er', 1852::BIGINT),
           (10, 'a', 't', 1845::BIGINT),
           (11, 'i', 'n', 1796::BIGINT),
           (12, 's', 'h', 947::BIGINT),
           (13, 'c', 'u', 934::BIGINT),
           (14, 'ow', '</w>', 2747::BIGINT),
           (15, 'pa', 'r', 1758::BIGINT),
           (16, 'i', 'n</w>', 964::BIGINT),
           (17, 'j', 'o', 964::BIGINT),
           (18, 'a', 'sh', 947::BIGINT),
           (19, 'at', 'ch', 937::BIGINT),
           (20, 's', 'c', 936::BIGINT),
           (21, 'cu', 'st', 934::BIGINT),
           (22, 'er', '</w>', 1845::BIGINT),
           (23, 'jo', 'in</w>', 964::BIGINT),
           (24, 'h', 'ash', 947::BIGINT),
           (25, 'r', 'ow</w>', 943::BIGINT),
           (26, 'b', 'atch', 937::BIGINT),
           (27, 'a', 'n</w>', 936::BIGINT),
           (28, 'c', 'o', 934::BIGINT),
           (29, 'lu', 'm', 934::BIGINT),
           (30, 'a', '</w>', 1788::BIGINT),
           (31, 'sc', 'an</w>', 936::BIGINT),
           (32, 'co', 'lum', 934::BIGINT),
           (33, 'cust', 'o', 934::BIGINT),
           (34, 'f', 'i', 933::BIGINT),
           (35, 'l', 't', 933::BIGINT),
           (36, 's', 'm', 928::BIGINT),
           (37, 'g', 'e</w>', 918::BIGINT),
           (38, 'g', '</w>', 1777::BIGINT),
           (39, 'colum', 'n</w>', 934::BIGINT))
         t(rank, "left", "right", cnt) ORDER BY rank""",
    // golden subword counts for doc_id < 50 under the merge table above
    // (deterministic for the same reason; regenerate alongside it).
    // Both BPE goldens are PINNED to the sf0.01 fixture (the driver
    // gate's scale) — tools/check.py skips them loudly at any other sf
    "q_bpe_tokens" ->
      """SELECT * FROM (VALUES (0::BIGINT, 102::BIGINT), (1::BIGINT, 252::BIGINT), (2::BIGINT, 151::BIGINT), (3::BIGINT, 90::BIGINT), (4::BIGINT, 152::BIGINT), (5::BIGINT, 197::BIGINT), (6::BIGINT, 44::BIGINT), (7::BIGINT, 211::BIGINT), (8::BIGINT, 262::BIGINT), (9::BIGINT, 217::BIGINT), (10::BIGINT, 136::BIGINT), (11::BIGINT, 189::BIGINT), (12::BIGINT, 201::BIGINT), (13::BIGINT, 224::BIGINT), (14::BIGINT, 309::BIGINT), (15::BIGINT, 140::BIGINT), (16::BIGINT, 51::BIGINT), (17::BIGINT, 265::BIGINT), (18::BIGINT, 236::BIGINT), (19::BIGINT, 40::BIGINT), (20::BIGINT, 218::BIGINT), (21::BIGINT, 103::BIGINT), (22::BIGINT, 322::BIGINT), (23::BIGINT, 99::BIGINT), (24::BIGINT, 316::BIGINT), (25::BIGINT, 315::BIGINT), (26::BIGINT, 50::BIGINT), (27::BIGINT, 208::BIGINT), (28::BIGINT, 207::BIGINT), (29::BIGINT, 123::BIGINT), (30::BIGINT, 107::BIGINT), (31::BIGINT, 141::BIGINT), (32::BIGINT, 304::BIGINT), (33::BIGINT, 136::BIGINT), (34::BIGINT, 97::BIGINT), (35::BIGINT, 257::BIGINT), (36::BIGINT, 80::BIGINT), (37::BIGINT, 212::BIGINT), (38::BIGINT, 117::BIGINT), (39::BIGINT, 66::BIGINT), (40::BIGINT, 243::BIGINT), (41::BIGINT, 199::BIGINT), (42::BIGINT, 173::BIGINT), (43::BIGINT, 102::BIGINT), (44::BIGINT, 67::BIGINT), (45::BIGINT, 258::BIGINT), (46::BIGINT, 303::BIGINT), (47::BIGINT, 122::BIGINT), (48::BIGINT, 91::BIGINT), (49::BIGINT, 149::BIGINT))
         t(id, n_subwords) ORDER BY id""",
    // planted-twin survivor set: every twin falls to its smaller-id
    // original, so the survivors are exactly the original corpus
    "q_semdedup" ->
      """SELECT vec_id FROM embeddings ORDER BY vec_id""",
    // planted-pair relation: every embedding pairs with exactly its
    // +1e-3-shifted twin (cosine ~1 > 0.99; max cross-pair cosine 0.51,
    // and candidates are exact-cosine-verified, so no false positives)
    "q_embed_neardup" ->
      """SELECT vec_id AS a_id, vec_id + 1000000 AS b_id
         FROM embeddings ORDER BY a_id, b_id""",
    // the planted-pair relation IS the expected output: each doc pairs
    // with exactly its downscaled twin (see imageNearDupMedia on why
    // cross-doc dHashes stay far)
    "q_image_neardup" ->
      """SELECT doc_id::BIGINT AS a_id, (doc_id + 1000000)::BIGINT AS b_id
         FROM documents WHERE doc_id < 50 ORDER BY a_id, b_id""",
    // frame inventory in closed form: doc_id % 3 + 2 frames per doc,
    // all 8x8 (dims are exact through JPEG)
    "q_video_frames" ->
      """SELECT doc_id::BIGINT AS id, i::BIGINT AS frame_index,
                8::BIGINT AS width, 8::BIGINT AS height
         FROM documents CROSS JOIN range(4) t(i)
         WHERE doc_id < 50 AND i < doc_id % 3 + 2
         ORDER BY id, frame_index""",
    // planted-pair relation again: each clip pairs with exactly its
    // within-bin-permuted twin
    "q_audio_neardup" ->
      """SELECT doc_id::BIGINT AS a_id, (doc_id + 1000000)::BIGINT AS b_id
         FROM documents WHERE doc_id < 50 ORDER BY a_id, b_id""",
    // cluster-dedup survivors: each planted cluster {doc, twin} keeps its
    // min id — exactly the originals
    "q_image_dedup" ->
      """SELECT doc_id::BIGINT AS id FROM documents WHERE doc_id < 50
         ORDER BY id""",
    // closed-form recomputation of the decoded-WAV facts: sample i =
    // (doc_id*3 + i) % 256, 1000 samples, 8 kHz mono 8-bit
    "q_multimodal_wav" ->
      """SELECT doc_id, 1::BIGINT AS channels, 8000::BIGINT AS sample_rate,
                125::BIGINT AS duration_ms, 1000::BIGINT AS n_bytes,
                (SELECT sum((doc_id*3 + i) % 256) FROM range(1000) t(i))::BIGINT AS pcm_sum
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    // survivors are the originals: 18x16 px, 864-byte RGB buffers
    "q_pipeline_media" ->
      """SELECT doc_id::BIGINT AS id, 18::BIGINT AS width,
                16::BIGINT AS height, 864::BIGINT AS n_bytes
         FROM documents WHERE doc_id < 50 ORDER BY id""",
    // every GIF here has <= 4 frames, so the ceiling-stride sample is
    // the identity walk: indices 0..nF-1, gray = (doc_id*5 + i*40) % 256
    "q_gif_frames" ->
      """SELECT doc_id::BIGINT AS id, i::BIGINT AS frame_index,
                8::BIGINT AS width, 8::BIGINT AS height,
                ((doc_id * 5 + i * 40) % 256)::BIGINT AS gray
         FROM documents CROSS JOIN range(4) t(i)
         WHERE doc_id < 50 AND i < doc_id % 3 + 2
         ORDER BY id, frame_index""",
    // 1010 samples at 16 kHz: duration rounds to 63 ms, decoded PCM is
    // 2020 bytes; snr_ok is engine-gated and must be TRUE everywhere
    "q_multimodal_adpcm" ->
      """SELECT doc_id, 1::BIGINT AS channels, 16000::BIGINT AS sample_rate,
                63::BIGINT AS duration_ms, 2020::BIGINT AS n_bytes,
                TRUE AS snr_ok
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    "q_pipeline_curate" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         lang AS (SELECT doc_id, text FROM (
             SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM (
               SELECT doc_id, text,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['the', 'a', 'an', 'of', 'to', 'in', 'and', 'or', 'is', 'it'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_en,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'ein'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_de,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['le', 'la', 'les', 'de', 'et', 'est', 'un', 'une'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_fr,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['el', 'la', 'los', 'de', 'y', 'es', 'un', 'una'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_es
               FROM train))
           WHERE s_en = best AND s_en > 0
             AND len(string_split(text, ' ')) >= 20),
         ded AS (SELECT doc_id, text FROM (
             SELECT doc_id, text, row_number() OVER (
               PARTITION BY ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT
               ORDER BY doc_id) AS rn
             FROM lang) WHERE rn = 1),
         tsh AS (SELECT doc_id,
                        list_distinct(list_transform(range(len(w) - 2),
                          i -> array_to_string(w[i+1:i+3], ' '))) AS dsh
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM ded)
                 WHERE len(w) >= 3),
         hsh AS (SELECT doc_id,
                        list_distinct(list_transform(range(len(w) - 2),
                          i -> array_to_string(w[i+1:i+3], ' '))) AS dsh
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE doc_id % 5 = 0)
                 WHERE len(w) >= 3),
         p AS (SELECT a.doc_id AS a_id,
                      len(list_intersect(a.dsh, b.dsh)) AS inter,
                      len(a.dsh) AS na, len(b.dsh) AS nb
               FROM tsh a CROSS JOIN hsh b),
         hit AS (SELECT DISTINCT a_id FROM p
                 WHERE inter::DOUBLE / (na + nb - inter) >= 0.6)
         SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM ded WHERE doc_id NOT IN (SELECT a_id FROM hit)
         ORDER BY doc_id""",
    // web pipeline: closed-form extraction (q_html_extract's oracle
    // expression), the langid replay re-scored over the EXTRACTED text,
    // length gate, then the q_domain_cap-style hash60 cap replay
    "q_pipeline_web" ->
      """WITH ext AS (
           SELECT doc_id,
             'w' || (doc_id % 7)::VARCHAR || '.example.com' AS host,
             'Doc Doc ' || doc_id::VARCHAR || ' '
               || replace(text, 'the', 'the&') || ' fin' AS text
           FROM documents),
         lang AS (SELECT doc_id, host, text FROM (
             SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM (
               SELECT doc_id, host, text,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['the', 'a', 'an', 'of', 'to', 'in', 'and', 'or', 'is', 'it'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_en,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'ein'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_de,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['le', 'la', 'les', 'de', 'et', 'est', 'un', 'une'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_fr,
                 len(list_filter(string_split(text, ' '), t -> list_contains(['el', 'la', 'los', 'de', 'y', 'es', 'un', 'una'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_es
               FROM ext))
           WHERE s_en = best AND s_en > 0
             AND len(string_split(text, ' ')) >= 25)
         SELECT doc_id, host, len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM lang
         QUALIFY row_number() OVER (PARTITION BY host
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'web'), 1, 15))::BIGINT,
                    doc_id) <= 25
         ORDER BY doc_id""",
    // audit: the curate CTEs restated as a disposition CASE; attribution
    // follows pipeline order (holdout > lang > length > dup > contam)
    "q_pipeline_audit" ->
      """WITH scored AS (
           SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tok,
             len(list_filter(string_split(text, ' '), t -> list_contains(['the', 'a', 'an', 'of', 'to', 'in', 'and', 'or', 'is', 'it'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_en,
             len(list_filter(string_split(text, ' '), t -> list_contains(['der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'ein'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_de,
             len(list_filter(string_split(text, ' '), t -> list_contains(['le', 'la', 'les', 'de', 'et', 'est', 'un', 'une'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_fr,
             len(list_filter(string_split(text, ' '), t -> list_contains(['el', 'la', 'los', 'de', 'y', 'es', 'un', 'una'], t)))::DOUBLE / len(string_split(text, ' ')) AS s_es
           FROM documents),
         langok AS (
           SELECT doc_id, text, n_tok,
             (s_en = greatest(s_en, s_de, s_fr, s_es) AND s_en > 0) AS is_en
           FROM scored),
         gated AS (
           SELECT doc_id, text,
             row_number() OVER (
               PARTITION BY ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT
               ORDER BY doc_id) AS rn
           FROM langok WHERE doc_id % 5 <> 0 AND is_en AND n_tok >= 20),
         tsh AS (SELECT doc_id,
                        list_distinct(list_transform(range(len(w) - 2),
                          i -> array_to_string(w[i+1:i+3], ' '))) AS dsh
                 FROM (SELECT doc_id, string_split(text, ' ') AS w
                       FROM gated WHERE rn = 1)
                 WHERE len(w) >= 3),
         hsh AS (SELECT doc_id,
                        list_distinct(list_transform(range(len(w) - 2),
                          i -> array_to_string(w[i+1:i+3], ' '))) AS dsh
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE doc_id % 5 = 0)
                 WHERE len(w) >= 3),
         hit AS (SELECT DISTINCT a.doc_id AS a_id
                 FROM tsh a CROSS JOIN hsh b
                 WHERE len(list_intersect(a.dsh, b.dsh))::DOUBLE
                       / (len(a.dsh) + len(b.dsh) - len(list_intersect(a.dsh, b.dsh))) >= 0.6)
         SELECT l.doc_id AS id,
           CASE WHEN l.doc_id % 5 = 0 THEN 'holdout'
                WHEN NOT l.is_en THEN 'lang'
                WHEN l.n_tok < 20 THEN 'length'
                WHEN g.rn IS NULL OR g.rn > 1 THEN 'dup'
                WHEN l.doc_id IN (SELECT a_id FROM hit) THEN 'contaminated'
                ELSE 'kept' END AS disposition
         FROM langok l LEFT JOIN gated g ON l.doc_id = g.doc_id
         ORDER BY id""",
    "q_strip_known" ->
      """WITH p AS (SELECT doc_id,
              text || chr(10) || 'subscribe to our newsletter' || chr(10) ||
              'footer ' || doc_id::VARCHAR AS page FROM documents)
         SELECT doc_id,
                md5(array_to_string(list_filter(string_split(page, chr(10)),
                  x -> x != 'subscribe to our newsletter'), chr(10))) AS clean_md5
         FROM p ORDER BY doc_id""",
    "q_mix" ->
      """WITH b AS (SELECT doc_id, lang,
              ('0x' || substr(md5(doc_id::VARCHAR || 'en_down'), 1, 15))::BIGINT
                % 10000 AS b_en
            FROM documents)
         SELECT doc_id, lang, 'en_down' AS mix_source FROM b
         WHERE lang = 'en' AND b_en < 2500
         UNION ALL
         SELECT doc_id, lang, 'rest_full' FROM b WHERE lang <> 'en'
         ORDER BY doc_id""",
    "q_dummies" ->
      """SELECT c_custkey,
            (c_mktsegment = 'AUTOMOBILE')::INT AS seg_AUTOMOBILE,
            (c_mktsegment = 'BUILDING')::INT   AS seg_BUILDING,
            (c_mktsegment = 'FURNITURE')::INT  AS seg_FURNITURE,
            (c_mktsegment = 'HOUSEHOLD')::INT  AS seg_HOUSEHOLD,
            (c_mktsegment = 'MACHINERY')::INT  AS seg_MACHINERY
         FROM customer ORDER BY c_custkey""",
    "q_crosstab" ->
      """SELECT o_orderpriority,
            count(*) FILTER (o_orderstatus = 'F') AS "F",
            count(*) FILTER (o_orderstatus = 'O') AS "O",
            count(*) FILTER (o_orderstatus = 'P') AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_combine_first" ->
      """WITH l AS (SELECT c_custkey,
                      CASE WHEN c_nationkey % 3 = 0 THEN NULL
                           ELSE c_acctbal END AS c_acctbal,
                      c_name FROM customer),
              r AS (SELECT c_custkey, c_acctbal, c_mktsegment
                    FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(l.c_custkey, r.c_custkey) AS c_custkey,
                COALESCE(l.c_acctbal, r.c_acctbal) AS c_acctbal,
                l.c_name, r.c_mktsegment
         FROM l FULL OUTER JOIN r ON l.c_custkey = r.c_custkey
         ORDER BY c_custkey""",
    "q_merge_ind" ->
      """WITH l AS (SELECT o_orderkey, o_custkey FROM orders),
              r AS (SELECT c_custkey, c_acctbal FROM customer
                    WHERE c_acctbal > 5000)
         SELECT l.o_orderkey,
            COALESCE(l.o_custkey, r.c_custkey) AS o_custkey,
            r.c_acctbal,
            CASE WHEN l.o_custkey IS NOT NULL AND r.c_custkey IS NOT NULL
                   THEN 'both'
                 WHEN l.o_custkey IS NOT NULL THEN 'left_only'
                 ELSE 'right_only' END AS _merge
         FROM l FULL OUTER JOIN r ON l.o_custkey = r.c_custkey
         ORDER BY o_custkey, o_orderkey""",
    "q_group_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         QUALIFY count(*) OVER (PARTITION BY l_orderkey) >= 5
         ORDER BY l_orderkey, l_linenumber""",
    "q_cube" ->
      """SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS gid,
         count(n_chars) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY CUBE(lang, source)
         ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""",
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
         count(o_orderkey) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_grouping_sets" ->
      """SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS gid,
         count(n_chars) AS n
         FROM documents GROUP BY GROUPING SETS ((lang), (source), ())
         ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""",
    "q_mode" ->
      """SELECT source, lang AS top_lang FROM (
           SELECT source, lang,
              row_number() OVER (PARTITION BY source
                ORDER BY count(*) DESC, lang ASC) AS rn
           FROM documents GROUP BY source, lang)
         WHERE rn = 1 ORDER BY source""",
    "q_replace" ->
      """SELECT doc_id,
            CASE WHEN lang = 'en' THEN 'english'
                 WHEN lang = 'de' THEN 'german'
                 ELSE lang END AS lang
         FROM documents ORDER BY doc_id""",
    // corr/cov: decimal co-sums are exact (so merge-order-free); the
    // closing double arithmetic replays corrExact's exact op sequence
    "q_corr" ->
      """WITH s AS (
           SELECT l_returnflag,
              count(*)::DOUBLE AS n,
              (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sx,
              (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sy,
              (sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)))::DOUBLE AS sxx,
              (sum(l_extendedprice::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)))::DOUBLE AS syy,
              (sum(l_quantity::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag,
            (n*sxy - sx*sy) / sqrt(n*sxx - sx*sx) / sqrt(n*syy - sy*sy) AS qp_corr,
            (n*sxy - sx*sy) / n / (n - 1) AS qp_cov
         FROM s ORDER BY l_returnflag""",
    // ordered aggregates: the window formulation restates the struct-
    // extrema tie rules exactly (idxmax ties -> largest key, idxmin ->
    // smallest; first/last anchored on the unique o_orderkey)
    "q_idxmax" ->
      """WITH r AS (
           SELECT o_custkey, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderkey ASC) AS rfirst,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderkey DESC) AS rlast
           FROM orders)
         SELECT o_custkey,
            max(CASE WHEN rmax = 1 THEN o_orderkey END) AS best_order,
            max(CASE WHEN rmin = 1 THEN o_orderkey END) AS worst_order,
            max(CASE WHEN rfirst = 1 THEN o_totalprice END) AS first_price,
            max(CASE WHEN rlast = 1 THEN o_totalprice END) AS last_price
         FROM r GROUP BY o_custkey ORDER BY o_custkey""",
    "q_diff" ->
      """SELECT o_custkey, o_orderkey,
            o_totalprice - lag(o_totalprice, 1) OVER w AS d_price,
            o_totalprice / lag(o_totalprice, 1) OVER w - 1 AS pct_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q_cummax" ->
      """SELECT o_custkey, o_orderkey,
            max(o_totalprice) OVER w AS run_max,
            min(o_totalprice) OVER w AS run_min
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS UNBOUNDED PRECEDING)
         ORDER BY o_custkey, o_orderkey""",
    // gap filling: IGNORE NULLS windows + the same closing arithmetic
    // sequence (positions are exact ints, division is one IEEE op)
    "q_interp" ->
      """WITH m AS (SELECT o_custkey, o_orderkey,
                      CASE WHEN o_orderkey % 5 < 2 THEN NULL
                           ELSE o_totalprice END AS price
                    FROM orders),
              p AS (SELECT m.*, row_number() OVER (
                      PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
                    FROM m),
              w AS (SELECT p.*,
                      last_value(price IGNORE NULLS) OVER wp AS pv,
                      last_value(CASE WHEN price IS NOT NULL THEN rn END
                                 IGNORE NULLS) OVER wp AS pp,
                      first_value(price IGNORE NULLS) OVER wn AS nv,
                      first_value(CASE WHEN price IS NOT NULL THEN rn END
                                  IGNORE NULLS) OVER wn AS np
                    FROM p
                    WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_orderkey
                                  ROWS UNBOUNDED PRECEDING),
                           wn AS (PARTITION BY o_custkey ORDER BY o_orderkey
                                  ROWS BETWEEN CURRENT ROW
                                           AND UNBOUNDED FOLLOWING))
         SELECT o_custkey, o_orderkey, price,
            pv AS price_ff, nv AS price_bf,
            CASE WHEN price IS NOT NULL THEN price
                 WHEN pv IS NOT NULL AND nv IS NOT NULL
                   THEN pv + (nv - pv) * (rn - pp) / (np - pp) END AS price_li
         FROM w ORDER BY o_custkey, o_orderkey""",
    "q_ranklag" ->
      """SELECT o_custkey, o_orderkey,
            rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
            lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_price
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_rank_pct" ->
      """SELECT o_custkey, o_orderkey,
            (rank() OVER wo + (count(*) OVER wt - 1) / 2.0)
              / (count(*) OVER wp) AS pct,
            (row_number() OVER wu - 1)::INTEGER AS pos
         FROM orders
         WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_totalprice),
                wt AS (PARTITION BY o_custkey ORDER BY o_totalprice
                       RANGE BETWEEN CURRENT ROW AND CURRENT ROW),
                wp AS (PARTITION BY o_custkey),
                wu AS (PARTITION BY o_custkey
                       ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q_group_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice
         FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) <= 3
         ORDER BY o_orderpriority, o_orderkey""",
    "q_value_counts" ->
      """SELECT lang, count(*) AS count FROM documents
         GROUP BY lang ORDER BY count DESC, lang""",
    "q_clip" ->
      """SELECT l_orderkey, l_linenumber,
            least(greatest(l_quantity, 10), 40) AS qty_clip,
            l_quantity BETWEEN 10 AND 40 AS in_band
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // str ops: DuckDB replace/substr/lpad/split_part match Spark's
    // literal semantics; length casts to INT to mirror Spark's int32
    "q_strops" ->
      """SELECT p_partkey, upper(p_name) AS name_up,
            length(p_name)::INTEGER AS name_len,
            split_part(p_type, ' ', 1) AS type_first,
            replace(p_brand, 'Brand#', 'B-') AS brand_dash,
            substr(p_name, 1, 8) AS name8,
            lpad(p_brand, 10, '_') AS brand_pad
         FROM part ORDER BY p_partkey""",
    // regex family: NULLIF mirrors Spark-side ''->null mapping; len of
    // extract_all mirrors regexp_count; ^(?:...) anchors pandas match
    "q_regex" ->
      """SELECT doc_id,
            NULLIF(regexp_extract(text, '([A-Za-z]{6,})', 1), '') AS first_long,
            len(regexp_extract_all(text, '[aeiou]'))::INTEGER AS vowels,
            regexp_matches(text, '^(?:[A-Z])') AS starts_upper
         FROM documents ORDER BY doc_id""",
    // dt ops: EXTRACT returns BIGINT in DuckDB -> ::INTEGER to mirror
    // Spark's int32; isodow-1 = pandas Monday=0; datediff vs a pinned date
    "q_datetime" ->
      """SELECT o_orderkey,
            EXTRACT(year FROM o_orderdate)::INTEGER AS yr,
            EXTRACT(month FROM o_orderdate)::INTEGER AS mo,
            EXTRACT(day FROM o_orderdate)::INTEGER AS dy,
            EXTRACT(quarter FROM o_orderdate)::INTEGER AS qtr,
            (isodow(o_orderdate) - 1)::INTEGER AS dow,
            date_trunc('month', o_orderdate) AS mstart,
            date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::INTEGER
              AS days_since
         FROM orders ORDER BY o_orderkey""",
    "q_intersect" ->
      """SELECT l_orderkey AS k FROM lineitem
         INTERSECT
         SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY k""",
    "q_except" ->
      """SELECT l_orderkey AS k FROM lineitem
         EXCEPT
         SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY k""",
    "q_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
         FROM region CROSS JOIN nation
         ORDER BY r_regionkey, n_nationkey""",
    // rolling mean: NULL until the frame holds `window` rows (pandas
    // min_periods default); integer-valued daily sums keep the ratio exact
    "q_rolling" ->
      """WITH daily AS (
           SELECT l_returnflag, l_shipdate, sum(l_quantity) AS qty
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_shipdate, qty,
            CASE WHEN count(qty) OVER w >= 7
                 THEN avg(qty) OVER w END AS qty_ma7
         FROM daily
         WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_shipdate
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY l_returnflag, l_shipdate""",
    // time-based rolling: DuckDB's RANGE frame on the ns epoch axis is
    // inclusive [t-5min, t], exactly Spark's rangeBetween; windowed
    // sum(BIGINT) widens to HUGEINT -> ::BIGINT; the mean divides the
    // same two exact integers on both engines
    "q_rolling_time" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)::BIGINT AS ns,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events)
         SELECT event_id, user_id, ns,
           count(cents) OVER w AS roll_n,
           (sum(cents) OVER w)::BIGINT AS roll_sum_cents,
           min(cents) OVER w AS roll_min_cents,
           max(cents) OVER w AS roll_max_cents,
           (sum(cents) OVER w)::BIGINT / (count(cents) OVER w * 100.0) AS roll_mean
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ns
                      RANGE BETWEEN 300000000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    // rolling var/std: the SAME sum/sumsq expression the Scala side
    // computes, term-for-term — exact integer windowed sums cast to
    // double, division last, null when n < 2 (ddof=1)
    "q_rolling_var" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)::BIGINT AS ns,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
         m AS (SELECT event_id, user_id,
                 count(cents) OVER w AS roll_n,
                 (sum(cents) OVER w)::BIGINT AS s,
                 (sum(cents*cents) OVER w)::BIGINT AS ss
               FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY ns
                            RANGE BETWEEN 600000000000 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, roll_n,
           CASE WHEN roll_n > 1 THEN
             (ss::DOUBLE - s::DOUBLE * s::DOUBLE / roll_n::DOUBLE)
               / (roll_n::DOUBLE - 1.0) END AS roll_var_cents,
           CASE WHEN roll_n > 1 THEN
             sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE / roll_n::DOUBLE)
               / (roll_n::DOUBLE - 1.0)) END AS roll_std_cents
         FROM m
         ORDER BY event_id""",
    "q_std" ->
      """SELECT l_returnflag,
            stddev_samp(l_quantity) AS qty_std,
            var_samp(l_quantity) AS qty_var,
            quantile_cont(l_quantity, 0.5) AS qty_med,
            avg(l_quantity) AS qty_mean
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_quantile" ->
      """SELECT l_returnflag,
            quantile_cont(l_quantity, 0.25) AS qty_q25
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // describe: one UNION ALL branch per stat row, everything ::DOUBLE to
    // match the stack unpivot's common type
    "q_describe" ->
      """SELECT 'count' AS agg, count(l_linenumber)::DOUBLE AS l_linenumber,
                count(l_quantity)::DOUBLE AS l_quantity FROM lineitem
         UNION ALL SELECT 'mean', avg(l_linenumber), avg(l_quantity) FROM lineitem
         UNION ALL SELECT 'std', stddev_samp(l_linenumber), stddev_samp(l_quantity) FROM lineitem
         UNION ALL SELECT 'min', min(l_linenumber)::DOUBLE, min(l_quantity) FROM lineitem
         UNION ALL SELECT 'p25', quantile_cont(l_linenumber, 0.25), quantile_cont(l_quantity, 0.25) FROM lineitem
         UNION ALL SELECT 'median', quantile_cont(l_linenumber, 0.5), quantile_cont(l_quantity, 0.5) FROM lineitem
         UNION ALL SELECT 'p75', quantile_cont(l_linenumber, 0.75), quantile_cont(l_quantity, 0.75) FROM lineitem
         UNION ALL SELECT 'max', max(l_linenumber)::DOUBLE, max(l_quantity) FROM lineitem
         ORDER BY agg""",
    "q_explode" ->
      """SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
         FROM part ORDER BY p_partkey, word""",
    "q_mask" ->
      """SELECT l_orderkey, l_linenumber,
            CASE WHEN l_quantity <= 25 THEN l_quantity END AS qty_small,
            CASE WHEN l_quantity > 25 THEN 25 ELSE l_quantity END AS qty_capped
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_duplicated" ->
      """SELECT doc_id,
            (row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1)
              AS duplicated
         FROM documents ORDER BY doc_id""",
    "q_melt" ->
      """SELECT l_orderkey, l_linenumber, variable, value FROM (
           SELECT l_orderkey, l_linenumber, 'qty_d' AS variable,
                  l_quantity::DOUBLE AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
           FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
           FROM lineitem)
         ORDER BY l_orderkey, l_linenumber, variable""",
    // conditional aggregation is the relational spelling of a pivot.
    // Spark's pivot emits NULL for a cell with no input rows (pandas NaN
    // semantics, verified in RelationalSpec); NULLIF aligns DuckDB's
    // 0-count to that
    "q_pivot" ->
      """SELECT o_orderpriority,
            nullif(count(*) FILTER (o_orderstatus = 'O'), 0) AS "O",
            nullif(count(*) FILTER (o_orderstatus = 'F'), 0) AS "F",
            nullif(count(*) FILTER (o_orderstatus = 'P'), 0) AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_nunique" ->
      """SELECT l_returnflag,
            count(DISTINCT l_partkey) AS n_parts,
            count(DISTINCT l_suppkey) AS n_supp
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_shuffle" ->
      """SELECT doc_id, md5('42:' || doc_id) AS shuffle_key
         FROM documents ORDER BY shuffle_key""",
    // running-sum replay of the distributed prefix sum; sum casts back
    // to BIGINT (DuckDB widens to HUGEINT), token count matches the
    // engine's size(split(text,' ')) convention (q_vocab precedent)
    "q_select_budget" ->
      """WITH d AS (SELECT doc_id, n_chars,
                           len(string_split(text, ' '))::BIGINT AS toks
                    FROM documents),
         r AS (SELECT doc_id, n_chars, toks,
                      (sum(toks) OVER (ORDER BY n_chars DESC, doc_id
                                       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
               FROM d)
         SELECT doc_id, n_chars, toks, cum_tokens FROM r
         WHERE cum_tokens <= 10000 ORDER BY doc_id""",
    "q_file_manifest" ->
      s"""SELECT regexp_extract(filename, '[^/]+$$') AS file,
                 count(*) AS n_rows,
                 sum(('0x' || substr(md5(concat_ws(chr(1),
                       coalesce(doc_id::VARCHAR, chr(2)), coalesce(text, chr(2)),
                       coalesce(lang, chr(2)), coalesce(source, chr(2)),
                       coalesce(n_chars::VARCHAR, chr(2)))), 1, 15))::BIGINT::DECIMAL(38,0))::VARCHAR AS checksum
          FROM read_parquet('$ManifestFixtureDir/*.parquet', filename=true)
          GROUP BY 1 ORDER BY 1""",
    // coalesce-to-chr(2) mirrors the engine's null sentinel (concat_ws
    // would otherwise skip null columns and alias rows)
    "q_content_fp" ->
      """SELECT count(*) AS n_rows,
                sum(('0x' || substr(md5(concat_ws(chr(1),
                      coalesce(doc_id::VARCHAR, chr(2)), coalesce(text, chr(2)),
                      coalesce(lang, chr(2)), coalesce(source, chr(2)),
                      coalesce(n_chars::VARCHAR, chr(2)))), 1, 15))::BIGINT::DECIMAL(38,0))::VARCHAR AS checksum
         FROM documents""",
    // data-quality gate: one UNION ALL branch per rule, count(*) FILTER
    // keeps every violation count BIGINT (sum would widen to HUGEINT);
    // "column" is quoted (reserved word) but lands as the same name
    "q_checks" ->
      """WITH tot AS (SELECT count(*) AS total FROM orders)
         SELECT rule, "column", violations, total, violations = 0 AS pass
         FROM (
           SELECT 'not_null' AS rule, 'o_custkey' AS "column",
                  (SELECT count(*) FILTER (WHERE o_custkey IS NULL)
                   FROM orders) AS violations
           UNION ALL
           SELECT 'in_range', 'o_totalprice',
                  (SELECT count(*) FILTER (WHERE o_totalprice IS NOT NULL
                     AND (o_totalprice < 0 OR o_totalprice > 300000))
                   FROM orders)
           UNION ALL
           SELECT 'matches', 'o_orderpriority',
                  (SELECT count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                     AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
                   FROM orders)
           UNION ALL
           SELECT 'one_of', 'o_orderstatus',
                  (SELECT count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F', 'O'))
                   FROM orders)
           UNION ALL
           SELECT 'unique', 'o_orderkey',
                  (SELECT coalesce(sum(n - 1), 0)::BIGINT FROM
                    (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) g)
           UNION ALL
           SELECT 'unique', 'o_custkey',
                  (SELECT coalesce(sum(n - 1), 0)::BIGINT FROM
                    (SELECT count(*) AS n FROM orders GROUP BY o_custkey) g)
           UNION ALL
           SELECT 'ref_in', 'o_custkey',
                  (SELECT count(*) FROM orders
                   WHERE o_custkey IS NOT NULL AND NOT EXISTS
                     (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
           UNION ALL
           -- the RefInParquet face checks the SAME dimension from disk:
           -- a second, identical ref_in row
           SELECT 'ref_in', 'o_custkey',
                  (SELECT count(*) FROM orders
                   WHERE o_custkey IS NOT NULL AND NOT EXISTS
                     (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
         ) r, tot
         ORDER BY rule, "column"""",
    "q_checks_flag" ->
      """SELECT o_orderkey,
           (o_totalprice IS NOT NULL AND
             (o_totalprice < 0 OR o_totalprice > 300000)) AS in_range_o_totalprice_bad,
           (o_orderstatus IS NOT NULL AND
             o_orderstatus NOT IN ('F', 'O')) AS one_of_o_orderstatus_bad,
           ((o_totalprice IS NOT NULL AND
             (o_totalprice < 0 OR o_totalprice > 300000)) OR
            (o_orderstatus IS NOT NULL AND
             o_orderstatus NOT IN ('F', 'O'))) AS row_bad
         FROM orders ORDER BY o_orderkey""",
    // distribution drift: DuckDB replays the engine's binning contract
    // term-for-term — numeric CASE chain on explicit edges, categorical
    // top sets computed from the REFERENCE side (count desc, value asc),
    // z_null / y_other buckets, absent bins zero-filled via full outer
    "q_drift_bins" ->
      s"""WITH base AS (SELECT lang, source, n_chars,
                               nullif(lang, 'zh') AS lang_tag FROM documents),
          cur AS (SELECT lang, source, least(n_chars, 300) AS n_chars,
                         lang_tag FROM base WHERE lang <> 'fr'),
          $psiCellCtes,
          rc AS (SELECT "column", bin, count(*) AS rn FROM rcell GROUP BY 1, 2),
          cc AS (SELECT "column", bin, count(*) AS cn FROM ccell GROUP BY 1, 2)
          SELECT coalesce(rc."column", cc."column") AS "column",
                 coalesce(rc.bin, cc.bin) AS bin,
                 coalesce(rn, 0)::BIGINT AS ref_n,
                 coalesce(cn, 0)::BIGINT AS cur_n
          FROM rc FULL OUTER JOIN cc
            ON rc."column" = cc."column" AND rc.bin = cc.bin
          ORDER BY 1, 2""",
    // the PSI report: per-column totals + a sequential left-to-right
    // fold over the bin-sorted cell list — list_transform + list_sum
    // replays Spark's aggregate() recurrence bit-exactly (same term
    // shape, same order); PSI terms are >= 0 so round() half-away-from-
    // zero agrees in both engines, and psi_bp lands as exact BIGINT
    "q_drift_report" -> driftReportOracle,
    // IDENTICAL oracle by construction: q_drift_spec computes the same
    // report from the save/load round-tripped spec, so a green row here
    // pins loaded bins == resolved bins cell-for-cell
    "q_drift_spec" -> driftReportOracle,
    // the windowed contingency: binning CASE chains + reference top set
    // replayed per calendar hour (date_trunc == Spark's epoch-aligned
    // 1-hour window under the UTC session tz)
    "q_drift_windows" ->
      """WITH top_et AS (SELECT event_type AS v FROM events
                         WHERE event_type IS NOT NULL
                         GROUP BY 1 ORDER BY count(*) DESC, v LIMIT 3),
          cells AS (
            SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_s,
                   'value' AS "column",
                   CASE WHEN value IS NULL THEN 'z_null'
                        WHEN isnan(value) THEN 'y_nan'
                        WHEN value < 10 THEN 'b00'
                        WHEN value < 100 THEN 'b01'
                        ELSE 'b02' END AS bin
            FROM events
            UNION ALL
            SELECT epoch(date_trunc('hour', ts))::BIGINT, 'event_type',
                   CASE WHEN event_type IS NULL THEN 'z_null'
                        WHEN event_type IN (SELECT v FROM top_et)
                          THEN 'v_' || event_type
                        ELSE 'y_other' END
            FROM events)
          SELECT window_s, "column", bin, count(*) AS cur_n
          FROM cells GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // the scored-windows face: every hourly window's contingency gets
    // the FULL reference bin set (cross join of windows x ref cells,
    // zero-filled where the window is silent), then the same sorted
    // sequential PSI fold as q_drift_report — replaying Spark's
    // scoreWindows term-for-term
    "q_drift_scored" ->
      s"""WITH top_et AS (SELECT event_type AS v FROM events
                          WHERE event_type IS NOT NULL
                          GROUP BY 1 ORDER BY count(*) DESC, v LIMIT 3),
          rawcell AS (
            SELECT ts, 'value' AS "column",
                   CASE WHEN value IS NULL THEN 'z_null'
                        WHEN isnan(value) THEN 'y_nan'
                        WHEN value < 10 THEN 'b00'
                        WHEN value < 100 THEN 'b01'
                        ELSE 'b02' END AS bin
            FROM events
            UNION ALL
            SELECT ts, 'event_type',
                   CASE WHEN event_type IS NULL THEN 'z_null'
                        WHEN event_type IN (SELECT v FROM top_et)
                          THEN 'v_' || event_type
                        ELSE 'y_other' END
            FROM events),
          cur AS (SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_s,
                         "column", bin, count(*) AS cn
                  FROM rawcell GROUP BY 1, 2, 3),
          refc AS (SELECT "column", bin, count(*) AS rn
                   FROM rawcell GROUP BY 1, 2),
          w AS (SELECT DISTINCT window_s FROM cur),
          wr AS (SELECT w.window_s, refc."column", refc.bin, refc.rn
                 FROM w CROSS JOIN refc),
          b AS (SELECT coalesce(wr.window_s, cur.window_s) AS window_s,
                       coalesce(wr."column", cur."column") AS "column",
                       coalesce(wr.bin, cur.bin) AS bin,
                       coalesce(rn, 0)::BIGINT AS ref_n,
                       coalesce(cn, 0)::BIGINT AS cur_n
                FROM wr FULL OUTER JOIN cur
                  ON wr.window_s = cur.window_s
                 AND wr."column" = cur."column" AND wr.bin = cur.bin),
          percol AS (SELECT window_s, "column",
                            sum(ref_n)::BIGINT AS ref_n,
                            sum(cur_n)::BIGINT AS cur_n,
                            count(*)::BIGINT AS bins,
                            list(struct_pack(bin := bin, rn := ref_n,
                                             cn := cur_n)
                                 ORDER BY bin) AS cells
                     FROM b GROUP BY 1, 2)
          SELECT window_s, "column", ref_n, cur_n, bins,
                 $psiFoldSql AS psi_bp,
                 $psiFoldSql >= 1000 AS drifted
          FROM percol ORDER BY window_s, "column"""",
    // per-group drilldown: the same snapshots scored per origin source.
    // Top sets stay GLOBAL (comparable bins across groups — the engine's
    // binsBy contract); bins zero-fill per (source, column, bin)
    "q_drift_by_source" ->
      s"""WITH base AS (SELECT lang, source, n_chars,
                               nullif(lang, 'zh') AS lang_tag FROM documents),
          cur AS (SELECT lang, source, least(n_chars, 300) AS n_chars,
                         lang_tag FROM base WHERE lang <> 'fr'),
          top_lang AS (SELECT lang_tag AS v FROM base
                       WHERE lang_tag IS NOT NULL
                       GROUP BY 1 ORDER BY count(*) DESC, v LIMIT 3),
          rcell AS ($psiGroupCellSql FROM base
                    UNION ALL $psiGroupCatCellSql FROM base),
          ccell AS ($psiGroupCellSql FROM cur
                    UNION ALL $psiGroupCatCellSql FROM cur),
          rc AS (SELECT source, "column", bin, count(*) AS rn
                 FROM rcell GROUP BY 1, 2, 3),
          cc AS (SELECT source, "column", bin, count(*) AS cn
                 FROM ccell GROUP BY 1, 2, 3),
          b AS (SELECT coalesce(rc.source, cc.source) AS source,
                       coalesce(rc."column", cc."column") AS "column",
                       coalesce(rc.bin, cc.bin) AS bin,
                       coalesce(rn, 0)::BIGINT AS ref_n,
                       coalesce(cn, 0)::BIGINT AS cur_n
                FROM rc FULL OUTER JOIN cc
                  ON rc.source = cc.source AND rc."column" = cc."column"
                 AND rc.bin = cc.bin),
          percol AS (SELECT source, "column",
                            sum(ref_n)::BIGINT AS ref_n,
                            sum(cur_n)::BIGINT AS cur_n,
                            count(*)::BIGINT AS bins,
                            list(struct_pack(bin := bin, rn := ref_n,
                                             cn := cur_n)
                                 ORDER BY bin) AS cells
                     FROM b GROUP BY 1, 2)
          SELECT source, "column", ref_n, cur_n, bins,
                 $psiFoldSql AS psi_bp,
                 $psiFoldSql >= 1000 AS drifted
          FROM percol ORDER BY source, "column"""",
    "q_corpus_profile" ->
      """WITH d AS (SELECT lang, source, n_chars,
                           len(string_split(text, ' '))::BIGINT AS toks,
                           ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp
                    FROM documents)
         SELECT lang, count(*) AS docs, sum(toks)::BIGINT AS total_tokens,
                sum(n_chars)::BIGINT AS total_chars,
                (sum(toks)::DOUBLE / count(*)) AS avg_tokens,
                count(DISTINCT source) AS n_sources,
                sum(CASE WHEN toks < 20 THEN 1 ELSE 0 END)::BIGINT AS short_docs,
                (count(*) - count(DISTINCT fp))::BIGINT AS exact_dups
         FROM d GROUP BY lang ORDER BY lang""",
    "q_budget_mix" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
                           len(string_split(text, ' '))::BIGINT AS toks
                    FROM documents),
         r AS (SELECT doc_id, lang, toks,
                      (sum(toks) OVER (PARTITION BY lang
                                       ORDER BY n_chars DESC, doc_id
                                       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
               FROM d)
         SELECT doc_id, lang, toks, cum_tokens FROM r
         WHERE (lang = 'en' AND cum_tokens <= 4000)
            OR (lang = 'de' AND cum_tokens <= 2000)
            OR (lang = 'fr' AND cum_tokens <= 1500)
         ORDER BY doc_id""",
    "q_split" ->
      """SELECT doc_id,
            CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS b
               FROM documents) ORDER BY doc_id""",
    "q_pipeline_release" ->
      s"""${componentCte(0.8)},
         rep AS (SELECT node AS doc_id, min(lab) AS r FROM walk GROUP BY node),
         sp AS (SELECT doc_id, n_chars, toks,
                  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
                FROM (SELECT d.doc_id, d.n_chars,
                        len(string_split(d.text, ' '))::BIGINT AS toks,
                        ('0x' || substr(md5(COALESCE(rep.r, d.doc_id)::VARCHAR), 1, 15))::BIGINT % 10000 AS b
                      FROM documents d LEFT JOIN rep ON rep.doc_id = d.doc_id)),
         tr AS (SELECT * FROM sp WHERE split = 'train' AND n_chars >= 100),
         cum AS (SELECT doc_id, toks,
                   (sum(toks) OVER (ORDER BY n_chars DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
                 FROM tr)
         SELECT doc_id, toks, cum_tokens, md5('42:' || doc_id) AS shuffle_key
         FROM cum WHERE cum_tokens <= 8000 ORDER BY shuffle_key""",
    "q_leakage_split" ->
      s"""${componentCte(0.8)},
         rep AS (SELECT node AS doc_id, min(lab) AS r FROM walk GROUP BY node)
         SELECT doc_id,
            CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT d.doc_id,
                 ('0x' || substr(md5(COALESCE(rep.r, d.doc_id)::VARCHAR), 1, 15))::BIGINT % 10000 AS b
               FROM documents d LEFT JOIN rep ON rep.doc_id = d.doc_id)
         ORDER BY doc_id""",
    "q_weighted_sample" ->
      """SELECT doc_id FROM (
           SELECT doc_id, least(length(text) / 500.0, 1.0) AS w,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS b
           FROM documents)
         WHERE b < floor(w * 10000) ORDER BY doc_id""",
    "q_stratsample" ->
      """SELECT doc_id, lang
         FROM (SELECT doc_id, lang,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS b
               FROM documents)
         WHERE b < CASE WHEN lang = 'en' THEN 5000 ELSE 10000 END
         ORDER BY doc_id""",
    "q_salted" ->
      """SELECT l_returnflag,
            sum(l_quantity) AS sum_qty,
            count(l_quantity) AS n,
            sum(l_quantity) / count(l_quantity) AS avg_qty,
            min(l_extendedprice) AS min_price,
            max(l_extendedprice) AS max_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_nsmallest" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 15""",
    "q_bitops" ->
      """SELECT l_orderkey, l_linenumber, ~l_suppkey AS inv, l_partkey | 15 AS bor
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_local" ->
      """SELECT seg, pri, count(c_custkey) AS n
         FROM customer JOIN (VALUES ('BUILDING', 1), ('AUTOMOBILE', 2), ('MACHINERY', 3)) AS t(seg, pri)
           ON c_mktsegment = seg
         GROUP BY seg, pri ORDER BY seg""",
    "q_join_left" ->
      """SELECT o_orderkey, o_custkey, c_custkey, c_name, c_mktsegment
         FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_custkey < 500) c
           ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "q_join_semi" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         ORDER BY o_orderkey""",
    "q_join_anti" ->
      """SELECT o_orderkey, o_custkey FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey
                             AND c.c_mktsegment = 'BUILDING')
         ORDER BY o_orderkey""",
    "q_join_right" ->
      """SELECT o_orderkey, o_custkey, c_custkey, c_name
         FROM (SELECT * FROM orders WHERE o_orderkey < 3000) o
         RIGHT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
           ON o.o_custkey = c.c_custkey
         ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""",
    "q_fillna" ->
      """SELECT coalesce(o_orderkey, -1) AS o_orderkey,
                coalesce(o_custkey, -1) AS o_custkey,
                coalesce(c_custkey, -1) AS c_custkey,
                coalesce(c_name, '?') AS c_name
         FROM (SELECT * FROM orders WHERE o_orderkey < 3000) o
         FULL JOIN (SELECT * FROM customer WHERE c_custkey < 500) c
           ON o.o_custkey = c.c_custkey
         ORDER BY o_orderkey, c_custkey""",
    "q_dropna" ->
      """SELECT o_orderkey, o_custkey, c_custkey, c_name
         FROM (SELECT * FROM orders WHERE o_orderkey < 3000) o
         FULL JOIN (SELECT * FROM customer WHERE c_custkey < 500) c
           ON o.o_custkey = c.c_custkey
         WHERE o_orderkey IS NOT NULL AND c_custkey IS NOT NULL
         ORDER BY o_orderkey, c_custkey""",
    "q_join_outer" ->
      """SELECT o_orderkey, o_custkey, c_custkey, c_name, c_mktsegment
         FROM (SELECT * FROM orders WHERE o_orderkey < 3000) o
         FULL JOIN (SELECT * FROM customer WHERE c_custkey < 500) c
           ON o.o_custkey = c.c_custkey
         ORDER BY o_orderkey NULLS FIRST, c_custkey NULLS FIRST""",
    "q_read_csv" ->
      s"""SELECT n_nationkey::INTEGER AS n_nationkey, n_name,
                 n_regionkey::INTEGER AS n_regionkey
          FROM read_csv_auto('$CsvFixtureDir/*.csv', header=true)
          ORDER BY n_nationkey""",
    // Spark's JSON schema inference types integral numbers as bigint;
    // DuckDB's read_json_auto does the same (BIGINT), so no casts
    "q_read_json" ->
      s"""SELECT n_nationkey, n_name, n_regionkey
          FROM read_json_auto('$JsonFixtureDir/*.json')
          ORDER BY n_nationkey""",
    // the pickle fixture is nation itself round-tripped through the
    // codec; ints widen to BIGINT through the object-list path
    "q_read_pickle" ->
      """SELECT n_nationkey::BIGINT AS n_nationkey, n_name,
                n_regionkey::BIGINT AS n_regionkey
         FROM nation ORDER BY n_nationkey""",
    "q_read_arrow" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // DuckDB's ignore_errors nulls malformed lines rather than skipping
    // them; the never-null key filter sheds exactly those rows
    "q_json_quarantine" ->
      s"""SELECT n_name, n_nationkey, n_regionkey
          FROM read_json('$JsonDirtyFixtureDir/*.json',
                         format='newline_delimited', ignore_errors=true)
          WHERE n_nationkey IS NOT NULL ORDER BY n_nationkey""",
    // the CSV twin: ignore_errors skips exactly the type-corrupt lines
    "q_csv_quarantine" ->
      s"""SELECT n_nationkey, n_name, n_regionkey
          FROM read_csv('$CsvDirtyFixtureDir/*.csv', header=true,
                        ignore_errors=true,
                        columns={'n_nationkey': 'BIGINT',
                                 'n_name': 'VARCHAR',
                                 'n_regionkey': 'BIGINT'})
          ORDER BY n_nationkey""",
    // DuckDB union_by_name over the same two generation directories
    // applies the identical drift rules (null-fill absents, widen
    // int->double, coerce the string/int conflict to varchar), so the
    // evolved read is cell-for-cell comparable — no recomputation, both
    // engines read the same parquet bytes
    "q_schema_drift" ->
      s"""SELECT n_nationkey, n_name, n_regionkey, quality, meta, lang
          FROM read_parquet(['$DriftGen1Dir/*.parquet',
                             '$DriftGen2Dir/*.parquet'], union_by_name=true)
          ORDER BY n_nationkey""",
    // the ledger is closed-form for the constructed fixture — planted
    // golden (same pattern as the sketch/ANN probes): one row per
    // column, dispositions pinned
    "q_schema_drift_report" ->
      """SELECT * FROM (VALUES
           ('lang','null_fill','string','-,string'),
           ('meta','quarantine','-','string,int'),
           ('n_name','stable','string','string,string'),
           ('n_nationkey','stable','int','int,int'),
           ('n_regionkey','null_fill','int','int,-'),
           ('quality','widen','double','int,double'))
         AS t("column", action, unified_type, types_seen)
         ORDER BY "column"""",
    "q_upsert" ->
      """WITH d AS (SELECT doc_id, lang, source, n_chars FROM documents),
         chg AS (SELECT doc_id, lang, source, n_chars + 1000 AS n_chars,
                        doc_id % 10 = 0 AS is_delete
                 FROM d WHERE doc_id >= 300 AND doc_id < 450)
         SELECT doc_id, lang, source, n_chars FROM d
         WHERE doc_id < 400 AND doc_id NOT IN (SELECT doc_id FROM chg)
         UNION ALL
         SELECT doc_id, lang, source, n_chars FROM chg WHERE NOT is_delete
         ORDER BY doc_id""",
    // the ORC fixture is nation round-tripped through Spark's ORC codec
    // (zstd); types survive exactly, so the oracle is the table itself
    "q_read_orc" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // footer-stats audit vs DuckDB's independent parquet_metadata reader
    "q_parquet_stats" ->
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file,
                 row_group_id::BIGINT AS row_group,
                 path_in_schema AS "column",
                 num_values::BIGINT AS num_values,
                 stats_null_count::BIGINT AS null_count,
                 stats_min_value::BIGINT AS min_v,
                 stats_max_value::BIGINT AS max_v
          FROM parquet_metadata('$ManifestFixtureDir/*.parquet')
          WHERE path_in_schema IN ('doc_id', 'n_chars')
          ORDER BY 1, 2, 3""",
    // the Avro fixture is nation round-tripped through the container
    // codec; the supported type lattice preserves these exactly
    "q_read_avro" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // compaction is byte-faithful block copy, so the compacted
    // directory reads back as exactly the original relation
    "q_avro_compact" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // the evolved fixture splits nation at key 12: gen1 carries
    // (int key, name, regionkey), gen2 (long key, name, n_len) — the
    // oracle replays the unified frame's widen + null-fill dispositions
    "q_read_avro_evolved" ->
      """SELECT n_nationkey::BIGINT AS n_nationkey, n_name,
                CASE WHEN n_nationkey < 12 THEN n_regionkey END AS n_regionkey,
                CASE WHEN n_nationkey >= 12 THEN len(n_name)::INTEGER END AS n_len
         FROM nation ORDER BY n_nationkey""",
    // the filtered evolved read: DuckDB replays the unified relation,
    // then the same disjunction under SQL null semantics — a green
    // compare pins the decode-time row skip to Kleene-exact
    "q_read_avro_filtered" ->
      """WITH uni AS (
           SELECT n_nationkey::BIGINT AS n_nationkey, n_name,
                  CASE WHEN n_nationkey < 12 THEN n_regionkey END AS n_regionkey,
                  CASE WHEN n_nationkey >= 12 THEN len(n_name)::INTEGER END AS n_len
           FROM nation)
         SELECT * FROM uni WHERE n_regionkey >= 2 OR n_len > 6
         ORDER BY n_nationkey""",
    // timestamp round-trip compared at exact epoch-micros: DuckDB reads
    // the parquet timestamps natively, Spark reads them back through
    // the Avro timestamp-micros logical type
    "q_read_avro_ts" ->
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
         WHERE event_id < 500 ORDER BY event_id""",
    // every leaf of the nested fixture recomputed relationally: struct
    // fields, array element, map value, and the exact decimal
    "q_read_avro_nested" ->
      """SELECT o_orderkey, o_custkey AS custkey, o_orderstatus AS status,
                o_orderkey * 3 AS p2, o_custkey AS ck,
                (o_orderkey + 0.25)::DECIMAL(12,2) AS total
         FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""",
    // prune simulation vs DuckDB's independent footer reader: a row
    // group is pruned when some predicate column's envelope excludes
    // its range (or the chunk is provably all-null); missing stats
    // conservatively keep the group
    "q_prune_sim" ->
      s"""WITH $pruneSimCtes
          SELECT file, row_group, bool_or(excluded) AS pruned,
                 count(*)::BIGINT AS cols_checked
          FROM fl GROUP BY 1, 2 ORDER BY 1, 2""",
    // the per-file rollup a layout decision reads: prune fractions are
    // exact small-integer ratios, so the double division is replayed
    // term-for-term
    "q_prune_report" ->
      s"""WITH $pruneSimCtes,
          sim AS (SELECT file, row_group, bool_or(excluded) AS pruned
                  FROM fl GROUP BY 1, 2)
          SELECT file, count(*)::BIGINT AS row_groups,
                 sum(CASE WHEN pruned THEN 1 ELSE 0 END)::BIGINT AS pruned_groups,
                 (sum(CASE WHEN pruned THEN 1 ELSE 0 END)::DOUBLE
                  / count(*)::DOUBLE) AS prune_frac
          FROM sim GROUP BY 1 ORDER BY 1""",
    // golden ledger for the evolved-generation fixture: the disposition
    // of every column across gen1/gen2 is fixture-pinned and
    // deterministic (first-seen generation order = name-sorted files)
    "q_avro_drift_report" ->
      """SELECT * FROM (VALUES
           ('n_len', 'null_fill', 'int', '-,int'),
           ('n_name', 'stable', 'string', 'string,string'),
           ('n_nationkey', 'widen', 'bigint', 'int,bigint'),
           ('n_regionkey', 'null_fill', 'int', 'int,-'))
           t("column", action, unified_type, types_seen)
         ORDER BY 1""",
    // the avro→lake promotion replayed end-to-end from the nation
    // table: generation split (gen1 < 12 keeps n_regionkey; gen2 drops
    // it and adds n_len), the NotNull contract gate, and — because
    // part_reg is extracted from each lake row's PHYSICAL directory —
    // the hive partition every promoted row must have landed in
    "q_pipeline_lake" ->
      """WITH unified AS (
           SELECT n_nationkey::BIGINT AS n_nationkey, n_name,
                  CASE WHEN n_nationkey < 12 THEN n_regionkey END AS n_regionkey,
                  CASE WHEN n_nationkey >= 12 THEN len(n_name)::INTEGER END AS n_len
           FROM nation)
         SELECT n_nationkey, n_name, n_regionkey, n_len,
                CASE WHEN n_regionkey IS NOT NULL
                     THEN 'lake' ELSE 'quarantine' END AS disposition,
                CASE WHEN n_regionkey IS NULL
                     THEN 'not_null_n_regionkey' END AS reason,
                n_regionkey AS part_reg
         FROM unified ORDER BY n_nationkey""",
    // the streamed zone shares the batch evolved read's oracle: the
    // micro-batch pickup + pinned-schema projection must land exactly
    // the relation the one-shot batch read produces
    "q_stream_avro" ->
      """SELECT n_nationkey::BIGINT AS n_nationkey, n_name,
                CASE WHEN n_nationkey < 12 THEN n_regionkey END AS n_regionkey,
                CASE WHEN n_nationkey >= 12 THEN len(n_name)::INTEGER END AS n_len
         FROM nation ORDER BY n_nationkey""",
    // the sink round-trip: the zone the streaming sink committed reads
    // back as exactly the nation relation it was fed
    "q_avro_sink" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // the batch write.format round-trip: overwrite + append across two
    // codecs must read back as exactly the relation written
    "q_avro_write_dsv2" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // versioned commits: pinned v2 (overwrite + append) is the full
    // relation even after v3 overwrote it; latest is only v3's slice
    "q_lake_versions" ->
      """SELECT n_nationkey, n_name, n_regionkey, 'v2' AS at_version
         FROM nation
         UNION ALL
         SELECT n_nationkey, n_name, n_regionkey, 'v3' AS at_version
         FROM nation WHERE n_regionkey = 0
         ORDER BY at_version, n_nationkey""",
    // the versioned streaming promotion shares the batch pipeline's
    // oracle: per-epoch manifest commits must produce the identical
    // lake/quarantine dispositions and hive layout
    "q_pipeline_lake_vstream" ->
      """WITH unified AS (
           SELECT n_nationkey::BIGINT AS n_nationkey, n_name,
                  CASE WHEN n_nationkey < 12 THEN n_regionkey END AS n_regionkey,
                  CASE WHEN n_nationkey >= 12 THEN len(n_name)::INTEGER END AS n_len
           FROM nation)
         SELECT n_nationkey, n_name, n_regionkey, n_len,
                CASE WHEN n_regionkey IS NOT NULL
                     THEN 'lake' ELSE 'quarantine' END AS disposition,
                CASE WHEN n_regionkey IS NULL
                     THEN 'not_null_n_regionkey' END AS reason,
                n_regionkey AS part_reg
         FROM unified ORDER BY n_nationkey""",
    // partitioned versioned commits: the latest version is the full
    // relation (overwrite + inherited-layout append), and part_reg —
    // read from each row's physical directory — must equal its region
    "q_lake_versions_part" ->
      """SELECT n_nationkey, n_name, n_regionkey,
                n_regionkey AS part_reg
         FROM nation ORDER BY n_nationkey""",
    // lake maintenance: compaction + z-order rewrites move bytes, never
    // rows — latest reads the full relation and pinned v3 still does
    "q_lake_optimize" ->
      """SELECT c_custkey, c_nationkey, 'optimized' AS phase FROM customer
         UNION ALL
         SELECT c_custkey, c_nationkey, 'pre' AS phase FROM customer
         ORDER BY phase, c_custkey""",
    // manifest-stats pruning: the pruned read inside the first tercile
    // must return exactly the range's rows (no file dropped that held
    // data), and the embedded kept/total counts pin the prune fraction
    // — 1 of 3 files planned. The bounds derive from max(c_custkey) by
    // integer floor division, matching the Scala side at any SF.
    "q_lake_prune" ->
      """SELECT c_custkey, c_name,
                1 AS files_kept, 3 AS files_total
         FROM customer
         WHERE c_custkey BETWEEN (SELECT max(c_custkey)//3//4 FROM customer)
                             AND (SELECT max(c_custkey)//3//2 FROM customer)
         ORDER BY c_custkey""",
    // string-key pruning: identical row set to q_lake_prune, reached
    // through a c_name range (c_name embeds the zero-padded key, so
    // the name range selects exactly the key range)
    "q_lake_prune_str" ->
      """SELECT c_custkey, c_name,
                1 AS files_kept, 3 AS files_total
         FROM customer
         WHERE c_name BETWEEN
                 'Customer#' || lpad((SELECT max(c_custkey)//3//4 FROM customer)::VARCHAR, 9, '0')
             AND 'Customer#' || lpad((SELECT max(c_custkey)//3//2 FROM customer)::VARCHAR, 9, '0')
         ORDER BY c_custkey""",
    // row-level DELETE: everything OUTSIDE the deleted tercile range
    // survives, 1 of 3 files rewritten, 2 carried by reference
    "q_lake_delete" ->
      """SELECT c_custkey, c_name,
                1 AS files_rewritten, 2 AS files_carried
         FROM customer
         WHERE c_custkey NOT BETWEEN (SELECT max(c_custkey)//3//4 FROM customer)
                                 AND (SELECT max(c_custkey)//3//2 FROM customer)
         ORDER BY c_custkey""",
    // row-level UPDATE: rows inside the first-tercile range carry the
    // rewritten name, everything else is untouched; 1 of 3 files
    // rewritten, 2 carried by reference
    "q_lake_update" ->
      """SELECT c_custkey,
                CASE WHEN c_custkey BETWEEN (SELECT max(c_custkey)//3//4 FROM customer)
                                        AND (SELECT max(c_custkey)//3//2 FROM customer)
                     THEN 'UPD:' || c_name ELSE c_name END AS c_name,
                1 AS files_rewritten, 2 AS files_carried
         FROM customer
         ORDER BY c_custkey""",
    // MERGE INTO: the two-tercile lake upserted with every customer
    // past cut1 under an MRG name — tercile 2 replaced, tercile 3
    // inserted, tercile 1 untouched; 1 file rewritten, 1 carried
    "q_lake_merge" ->
      """SELECT c_custkey,
                CASE WHEN c_custkey > (SELECT max(c_custkey)//3 FROM customer)
                     THEN 'MRG:' || c_name ELSE c_name END AS c_name,
                1 AS files_rewritten, 1 AS files_carried
         FROM customer
         ORDER BY c_custkey""",
    // incremental consumption: appendsBetween(v1, v3) is exactly the
    // rows past the first tercile cut (the two appended slices), read
    // from the 2 added files alone
    "q_lake_incr" ->
      """SELECT c_custkey, c_name, 2 AS files_added
         FROM customer
         WHERE c_custkey > (SELECT max(c_custkey)//3 FROM customer)
         ORDER BY c_custkey""",
    // checkpointed consumption: bootstrap (v0->2) + one increment
    // (v2->3) append into the target, whose content must be exactly
    // the full customer relation — nothing dropped, nothing doubled
    "q_lake_consume" ->
      """SELECT c_custkey, c_name,
                0 AS boot_from, 2 AS boot_to,
                2 AS incr_from, 3 AS incr_to
         FROM customer
         ORDER BY c_custkey""",
    // the SQL face over the same lake: identical relation through
    // CREATE TEMPORARY VIEW ... USING graftlake + plain WHERE (the
    // manifest pruning is automatic; the plan assert lives in
    // GraftLakeSourceSpec)
    "q_lake_sql" ->
      """SELECT c_custkey, c_name
         FROM customer
         WHERE c_custkey BETWEEN (SELECT max(c_custkey)//3//4 FROM customer)
                             AND (SELECT max(c_custkey)//3//2 FROM customer)
         ORDER BY c_custkey""",
    // the streaming promotion shares the batch pipeline's oracle:
    // micro-batch routing through two exactly-once file sinks must
    // produce the identical lake/quarantine dispositions and layout
    "q_pipeline_lake_stream" ->
      """WITH unified AS (
           SELECT n_nationkey::BIGINT AS n_nationkey, n_name,
                  CASE WHEN n_nationkey < 12 THEN n_regionkey END AS n_regionkey,
                  CASE WHEN n_nationkey >= 12 THEN len(n_name)::INTEGER END AS n_len
           FROM nation)
         SELECT n_nationkey, n_name, n_regionkey, n_len,
                CASE WHEN n_regionkey IS NOT NULL
                     THEN 'lake' ELSE 'quarantine' END AS disposition,
                CASE WHEN n_regionkey IS NULL
                     THEN 'not_null_n_regionkey' END AS reason,
                n_regionkey AS part_reg
         FROM unified ORDER BY n_nationkey""",
    // the npy fixture is written ordered by n_nationkey, so idx is the
    // rank of n_nationkey; DuckDB rebuilds (idx, pos, value) relationally
    "q_read_npy" ->
      """WITH n AS (SELECT n_nationkey, n_regionkey,
                           row_number() OVER (ORDER BY n_nationkey) - 1 AS idx
                    FROM nation)
         SELECT idx, pos, value FROM (
           SELECT idx, 0 AS pos, n_nationkey::DOUBLE AS value FROM n
           UNION ALL
           SELECT idx, 1 AS pos, n_regionkey::DOUBLE AS value FROM n)
         ORDER BY idx, pos""",
    "q_materialize" ->
      """WITH base AS (SELECT l_orderkey, l_quantity, l_returnflag
                       FROM lineitem WHERE l_quantity > 45)
         SELECT l_returnflag, count(*) AS n FROM base GROUP BY l_returnflag
         UNION ALL
         SELECT 'ALL' AS l_returnflag, count(*) AS n FROM base
         ORDER BY l_returnflag""",
    "q_colagg" ->
      """SELECT CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                avg(l_quantity) AS avg_qty,
                max(l_extendedprice) AS max_price,
                count(l_linenumber) AS n
         FROM lineitem"""
  )
}
