package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.sources.PsIO

/** Similarity search over an embedding column (`array<float|double>`).
  *
  * Two paths, both fully declarative (the dot products run inside
  * whole-stage codegen via `zip_with`/`aggregate` — no UDF, no collect):
  *
  *  - [[bruteForceTopK]]: exact top-k. The query set is broadcast, scores
  *    are computed map-side in one pass over the corpus, and per-query
  *    top-k uses a rank window partitioned by query (shuffle volume = one
  *    row per (corpus row × query), reduced map-side only by the final
  *    window). Right for ≤ a few thousand queries, any corpus size.
  *  - [[lshTopK]]: approximate. Random-hyperplane signatures bucket the
  *    corpus (multi-probe via several independent tables); only same-bucket
  *    pairs are scored. Right when the query set itself is huge —
  *    candidate generation becomes an equi-join on (table, bucket) instead
  *    of a broadcast fan-out.
  *
  * All scores are computed in double regardless of storage precision so
  * rankings are reproducible across engines (float accumulation error is
  * of the same magnitude as real top-k rank gaps on unit vectors).
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double — custom codegen'd expression
    * ([[graft.plans.ArrayDotProduct]]): the declarative
    * `aggregate(zip_with(...))` form evaluates its lambdas interpreted,
    * ~100µs/row at dim 64, which would dominate every similarity scan. */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** one fused pass: dot and both norms in the same loop. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.cosine(a, b)

  /** Exact cosine top-k: for every row of `queries`, the `k` nearest rows
    * of `corpus` (self-matches on equal ids excluded). Output:
    * (query_id, neighbor_id, rank, score). `queries` is broadcast — keep
    * it small relative to executor memory; the corpus streams.
    *
    * Scoring is map-side (broadcast join, codegen'd cosine); per-query
    * top-k is a bounded-heap aggregate ([[graft.functions.TopKAgg]]) with
    * PARTIAL aggregation, so the only shuffle carries ≤ partitions·Q·k
    * pre-reduced entries — never the N·Q scored rows (a rank window here
    * would shuffle the full cross volume; at a 100 TB corpus even Q=1000
    * makes that 1000× the corpus). Integral-id corpora take this path;
    * other id types fall back to the rank window.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    perQueryTopK(scored, corpus.schema(idCol).dataType, k)
  }

  /** Per-query top-k over ("query_id", "neighbor_id", "score") rows.
    * Integral-id inputs take the bounded-heap PARTIAL aggregate
    * ([[graft.functions.TopKAgg]]): each partition reduces to ≤ Q·k
    * entries before the shuffle, so the shuffle never carries the full
    * scored/candidate volume (a rank window would). Other id types fall
    * back to the rank window. Shared by the brute-force, LSH and IVF
    * paths so all three have the same scale posture and tie-break
    * ordering (score desc, id asc). */
  private def perQueryTopK(
      scored: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      k: Int): DataFrame =
    idType match {
      case LongType | IntegerType =>
        val topk = graft.functions.TopKAggregate.topK(k)
        scored.groupBy("query_id")
          .agg(topk(col("score"), col("neighbor_id").cast("long")).as("tk"))
          .select(col("query_id"), posexplode(col("tk")))
          .select(col("query_id"),
            col("col.id").cast(idType).as("neighbor_id"),
            (col("pos") + 1).as("rank"),
            col("col.score").as("score"))
      case _ =>
        val w = Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))
        scored
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "neighbor_id", "rank", "score")
    }

  /** Random-hyperplane (SimHash-for-vectors) bucket ids, all `tables` at
    * once: bit i of table t's bucket = sign of ⟨v, plane_{t,i}⟩. Planes
    * are seeded-deterministic (one RNG stream per table, seed + t, so
    * bucket values match the historical per-table formulation), generated
    * driver-side, and ride into the plan as ONE flat double[] reference
    * inside the fused [[graft.plans.HyperplaneBuckets]] expression — the
    * earlier tables×bits `when(dot > 0)` tree generated a projection
    * method past the JVM's JIT HugeMethodLimit and ran interpreted
    * (~0.7 ms/row); the fused loop is ~50× faster. Returns `array<long>`
    * of length `tables`; `posexplode` yields (table, bucket) rows.
    */
  def hyperplaneBuckets(vec: Column, dim: Int, bits: Int, tables: Int, seed: Long): Column = {
    val planes = (0 until tables).flatMap { t =>
      val rnd = new scala.util.Random(seed + t)
      Seq.fill(bits * dim)(rnd.nextGaussian())
    }
    graft.plans.VectorExpressions.hyperplaneBuckets(vec, planes, dim, bits, tables)
  }

  /** Approximate cosine top-k via multi-table hyperplane LSH.
    *
    * Each of `tables` independent signatures buckets every vector; query
    * and corpus rows meet on (table, bucket) equi-join — shuffle is
    * hash-partitioned on bucket ids, no broadcast of the query set needed.
    * Recall rises with `tables`, bucket selectivity with `bits`.
    * Output: (query_id, neighbor_id, rank, score) — per-query top-k among
    * candidates found in any table.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      bits: Int = 8,
      tables: Int = 8,
      seed: Long = 42L): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(
        col(idCol).as(id), col(vecCol).as(vec),
        posexplode(hyperplaneBuckets(col(vecCol), dim, bits, tables, seed))
          .as(Seq("table", "bucket")))

    val qb = withBuckets(queries, "query_id", "q_vec")
    val cb = withBuckets(corpus, "neighbor_id", "c_vec")
    // candidate generation and dedup carry ONLY ids — a pair colliding in
    // several tables would otherwise push its two dim-sized vectors
    // through the join and the distinct shuffle once per collision; the
    // vectors are equi-joined back exactly once per UNIQUE pair
    val candidates = qb.select("table", "bucket", "query_id")
      .join(cb.select("table", "bucket", "neighbor_id"), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    // join strategy stays Catalyst/AQE's choice: with a small candidate
    // set the corpus join broadcasts the candidates and streams the
    // corpus map-side (zero corpus shuffle); with a huge one AQE picks
    // the shuffle join on id
    val scored = candidates
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        "neighbor_id")
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    perQueryTopK(scored, corpus.schema(idCol).dataType, k)
  }

  /** A trained IVF index: the `nCells` cell centroids. Driver-resident by
    * design — bounded at nCells·dim doubles (a few hundred cells at most),
    * never corpus-sized — and foldable into query plans as `typedLit`
    * constants. Build once with [[buildIvfIndex]], reuse across any number
    * of [[ivfQuery]] calls (at 100 TB the build is an offline job; queries
    * must not retrain). */
  final case class IvfIndex(centroids: Seq[Seq[Double]])

  /** Persist a trained index as parquet (cell, pos, value) — engine- and
    * language-portable, and tiny (nCells·dim rows). The offline-build /
    * online-query split of a production ANN service: build once, save,
    * load in every query job. */
  def saveIvfIndex(spark: SparkSession, index: IvfIndex, path: String): Unit = {
    import spark.implicits._
    index.centroids.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toDF("cell", "pos", "value")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val rows = PsIO.parquet(spark, path)
      .select("cell", "pos", "value").collect()
    val cells = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    IvfIndex(cells.map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
    })
  }

  /** Train an IVF index: a deterministic corpus sample refined by
    * `iterations` rounds of distributed Lloyd's k-means. This is the one
    * EAGER step of the IVF path (it runs Spark jobs — call it once,
    * offline, like any index build). The projected vector column is
    * cached across Lloyd iterations so each round costs one in-memory
    * assign scan + a (cell, pos)-keyed partial mean — the driver receives
    * only nCells·dim averaged coordinates per round, never vectors.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int = 16,
      iterations: Int = 0,
      seed: Long = 42L,
      trainSample: Int = 0): IvfIndex = {
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // trainSample > 0 bounds Lloyd training to a deterministic hash-
    // ordered sample (faiss practice: centroids train on O(nCells)
    // samples, not the corpus) so build cost is sample·nCells·dim per
    // iteration regardless of corpus size; TakeOrdered keeps the
    // sampling itself a bounded-heap pass, not a global sort.
    val train =
      if (trainSample > 0)
        vecs.orderBy(
          pmod(xxhash64(col("id"), lit(seed ^ 0x5deece66dL)), lit(1000003L)),
          col("id")).limit(trainSample)
      else vecs
    val work = if (iterations > 0) train.cache() else train
    try {
      // deterministic centroid sample: first nCells corpus vectors by a
      // seeded hash of the id (stable under partitioning)
      val sampled: Seq[Seq[Double]] = work
        .orderBy(pmod(xxhash64(col("id"), lit(seed)), lit(1000003L)), col("id"))
        .limit(nCells)
        .collect()
        .map(_.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }.toSeq).toSeq

      // Lloyd refinement: assign (map-side argmax) -> per-cell element-wise
      // mean (posexplode + partial-agg avg, one shuffle of nCells·dim
      // partial sums) -> new centroids. Empty cells keep their old centroid.
      val centroids: Seq[Seq[Double]] =
        (0 until iterations).foldLeft(sampled) { (cur, _) =>
          val assigned = work.select(
            argmaxCell(col("v"), cur).as("cell"), col("v"))
          val means = assigned
            .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
            .groupBy("cell", "pos").agg(avg(col("x").cast("double")).as("m"))
            .collect()
            .groupBy(_.getInt(0))
            .map { case (cell, rows) =>
              cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
            }
          cur.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
        }
      IvfIndex(centroids)
    } finally {
      if (iterations > 0) work.unpersist(blocking = false)
    }
  }

  /** IVF (inverted-file) approximate top-k over a pre-built index: each
    * query scores only the cells whose centroids rank in its `nProbe`
    * nearest. Fully LAZY — the index centroids fold into the plan as
    * `typedLit` constants, so both assignment passes are map-side
    * codegen'd cosine argmax and the only shuffle is the (cell)-keyed
    * candidate join. Output: (query_id, neighbor_id, rank, score).
    */
  def ivfQuery(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      index: IvfIndex,
      nProbe: Int = 4): DataFrame = {
    val centroids = index.centroids
    require(nProbe <= centroids.size)

    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      argmaxCell(col(vecCol), centroids).as("cell"))

    // queries probe their nProbe best cells: ONE fused scores pass,
    // posexploded to (cell, score) rows — nCells rows per query
    val qScored = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        posexplode(graft.plans.VectorExpressions
          .centroidScores(col(vecCol), centroids)).as(Seq("cell", "s")))
      .select(col("query_id"), col("q_vec"), col("s"), col("cell"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("s").desc, col("cell"))
    val qb = qScored
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "q_vec", "cell")

    // join strategy stays Catalyst/AQE's choice: the probed query side
    // is usually the small one and broadcasts, so the corpus (with its
    // computed cell assignment) streams map-side with zero shuffle — the
    // big side is never the broadcast build, so no driver re-eval risk
    val scored = qb.join(cb, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    perQueryTopK(scored, corpus.schema(idCol).dataType, k)
  }

  /** Build-then-query convenience: trains a fresh index on `corpus`
    * ([[buildIvfIndex]] — eager) and answers with [[ivfQuery]]. For
    * repeated queries over the same corpus, build the index once and
    * call [[ivfQuery]] directly instead. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      iterations: Int = 0,
      seed: Long = 42L): DataFrame =
    ivfQuery(corpus, queries, idCol, vecCol, k,
      buildIvfIndex(corpus, idCol, vecCol, nCells, iterations, seed), nProbe)

  /** argmax cell for a vector, over the fused [[graft.plans.CentroidScores]]
    * pass (generated code is ONE call regardless of nCells — the earlier
    * per-cell unrolled form compiled in O(nCells) source size and blew the
    * JIT method limit at 64 cells, SCALEPROBE.md round 6). Ties break to
    * the smallest cell id (array_position returns the first hit). */
  /** Cell assignment for a prebuilt index — the public face of
    * [[argmaxCell]] (cell-histogram audits, probe volume accounting). */
  def cellOf(vec: Column, index: IvfIndex): Column =
    argmaxCell(vec, index.centroids)

  private def argmaxCell(vec: Column, cents: Seq[Seq[Double]]): Column = {
    val scores = graft.plans.VectorExpressions.centroidScores(vec, cents)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  // ----------------------------------------------------- product quantization

  /** PQ codebook: `m` subspaces × `nCodes` sub-centroids × `dsub` dims.
    * The memory-bounded ANN representation (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11 — the PQ half
    * of faiss's IVF-PQ): a corpus vector stores as m small ints instead
    * of m·dsub floats, and shortlist scoring reads only those ints. */
  final case class PqCodebook(codebooks: Seq[Seq[Seq[Double]]]) {
    def m: Int = codebooks.size
    def nCodes: Int = codebooks.head.size
    def dsub: Int = codebooks.head.head.size
  }

  /** Persist a trained codebook as parquet (sub, code, pos, value) —
    * tiny (m·nCodes·dsub rows), engine-portable, same offline-build /
    * online-query split as [[saveIvfIndex]]. */
  def savePqCodebook(spark: SparkSession, cb: PqCodebook, path: String): Unit = {
    import spark.implicits._
    cb.codebooks.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.flatMap { case (cent, c) =>
        cent.zipWithIndex.map { case (v, p) => (s, c, p, v) }
      }
    }.toDF("sub", "code", "pos", "value")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPqCodebook(spark: SparkSession, path: String): PqCodebook = {
    val rows = PsIO.parquet(spark, path)
      .select("sub", "code", "pos", "value").collect()
    PqCodebook(rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, subRows) =>
      subRows.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (_, centRows) =>
        centRows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
      }
    })
  }

  /** Train a PQ codebook: deterministic per-subspace sample refined by
    * `iterations` rounds of distributed Lloyd's k-means under L2 on each
    * subvector — all m subspaces assigned in ONE fused [[graft.plans.PqEncode]]
    * pass per round (never a pass per subspace). EAGER like
    * [[buildIvfIndex]]: an offline index build that runs jobs; the
    * driver receives only m·nCodes·dsub averaged coordinates per round.
    * `dim` must be divisible by `m`. */
  def buildPqCodebook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      nCodes: Int = 16,
      iterations: Int = 1,
      seed: Long = 42L): PqCodebook = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val work = if (iterations > 0) vecs.cache() else vecs
    try {
      // deterministic init: nCodes sample vectors by seeded id hash,
      // each sliced into its m subvectors
      val sampled: Seq[Seq[Double]] = work
        .orderBy(pmod(xxhash64(col("id"), lit(seed)), lit(1000003L)), col("id"))
        .limit(nCodes)
        .collect()
        .map(_.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }.padTo(dim, 0.0).toSeq).toSeq
      val init: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
        sampled.map(v => v.slice(s * dsub, (s + 1) * dsub))
      }

      val trained = (0 until iterations).foldLeft(init) { (cur, _) =>
        // assign: one fused encode pass; mean: (sub, code, pos)-keyed
        // partial-agg avg — the shuffle carries m·nCodes·dsub partials
        val enc = work.select(col("v"),
          graft.plans.VectorExpressions.pqEncode(col("v"), cur).as("codes"))
        val means = enc
          .select(posexplode(col("v")).as(Seq("pos", "x")), col("codes"))
          .select(
            (col("pos") / dsub).cast("int").as("sub"),
            (col("pos") % dsub).as("spos"),
            element_at(col("codes"), (col("pos") / dsub).cast("int") + 1).as("code"),
            col("x").cast("double").as("x"))
          .groupBy("sub", "code", "spos").agg(avg(col("x")).as("mv"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (k, rows) =>
            k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
          }
        // empty codes keep their previous centroid
        cur.zipWithIndex.map { case (codes, s) =>
          codes.zipWithIndex.map { case (old, c) => means.getOrElse((s, c), old) }
        }
      }
      PqCodebook(trained)
    } finally {
      if (iterations > 0) work.unpersist(blocking = false)
    }
  }

  /** Encode a corpus to (id, codes) — the compact searchable form to
    * write once ([[graft.sources.PsIO.toParquet]]) and scan thereafter:
    * m ints per vector instead of dim floats. Lazy map-side pass. */
  def pqEncodeCorpus(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cb: PqCodebook): DataFrame =
    corpus.select(col(idCol).as("id"),
      graft.plans.VectorExpressions.pqEncode(col(vecCol), cb.codebooks).as("codes"))

  /** PQ approximate top-k with exact re-rank: shortlist `shortlist`
    * candidates per query by the asymmetric PQ score (a scan of the m-int
    * codes — the cheap, memory-bounded pass), then re-score ONLY the
    * shortlist with exact cosine against the full vectors and keep `k`.
    * Lazy; queries broadcast like [[bruteForceTopK]], and both top-k
    * reductions ride the bounded-heap partial aggregate, so no stage
    * shuffles the full scored volume. Output: (query_id, neighbor_id,
    * rank, score) with EXACT scores — PQ only decides who gets re-ranked,
    * so recall@k is the only approximation. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      cb: PqCodebook,
      shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val codes = pqEncodeCorpus(corpus, idCol, vecCol, cb)
      .select(col("id").as("neighbor_id"), col("codes"))
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val approx = codes.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        graft.plans.VectorExpressions.pqCosine(col("q_vec"), col("codes"), cb.codebooks))
    val short = perQueryTopK(approx, corpus.schema(idCol).dataType, shortlist)
      .select("query_id", "neighbor_id")
    val exact = short
      .join(q, Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        Seq("neighbor_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    perQueryTopK(exact, corpus.schema(idCol).dataType, k)
  }

  /** Scalar int8 quantization of the embedding column: one shuffle-free
    * map pass, no training stage, 1 byte/dim (+16 bytes of range) on
    * disk instead of 4 — the storage/scan cut for corpora that keep
    * embeddings alongside documents. Output: (`id` — the id column
    * renamed, matching the other index artifacts — , `q8`
    * struct(codes, qmin, qscale)); write it with
    * [[graft.sources.PsIO]] as the shortlist-scan artifact. */
  def quantizeInt8(
      corpus: DataFrame,
      idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol).as("id"),
      graft.plans.VectorExpressions.int8Encode(col(vecCol)).as("q8"))

  /** Int8 approximate top-k with exact re-rank — [[pqTopK]]'s shape over
    * the scalar-quantized corpus: shortlist by the asymmetric int8 score
    * (scan reads 1 byte/dim), then exact-cosine re-rank of the shortlist
    * only. Both reductions ride the bounded-heap partial aggregate;
    * reported scores are exact, so recall@k is the only approximation
    * (and int8's reconstruction error is ≤ range/510 per element, far
    * inside typical top-k score gaps — recall in practice ≈ 1). */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val codes = quantizeInt8(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("q8"))
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val approx = codes.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", graft.plans.VectorExpressions.int8Cosine(
        col("q_vec"), col("q8.codes"), col("q8.qmin"), col("q8.qscale")))
    val short = perQueryTopK(approx, corpus.schema(idCol).dataType, shortlist)
      .select("query_id", "neighbor_id")
    val exact = short
      .join(q, Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        Seq("neighbor_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    perQueryTopK(exact, corpus.schema(idCol).dataType, k)
  }

  /** IVF-PQ: the two index structures composed the way faiss ships them
    * — the IVF cells prune WHICH corpus rows are candidates (nProbe
    * cells per query instead of the full corpus), and PQ codes prune
    * WHAT the candidate scan reads (m ints per row instead of dim
    * floats); an exact-cosine re-rank of the shortlist keeps reported
    * scores exact. Fully lazy over the two prebuilt artifacts. At 100 TB
    * this is the standard shape: candidate volume bounded by cell
    * assignment, scan payload bounded by quantization, full vectors
    * touched only for shortlist·Q rows. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      index: IvfIndex,
      cb: PqCodebook,
      nProbe: Int = 4,
      shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val centroids = index.centroids
    require(nProbe <= centroids.size)
    val cbase = corpus.select(col(idCol).as("neighbor_id"),
      argmaxCell(col(vecCol), centroids).as("cell"),
      graft.plans.VectorExpressions.pqEncode(col(vecCol), cb.codebooks).as("codes"))
    val qScored = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        posexplode(graft.plans.VectorExpressions
          .centroidScores(col(vecCol), centroids)).as(Seq("cell", "s")))
    val wProbe = Window.partitionBy("query_id").orderBy(col("s").desc, col("cell"))
    val qb = qScored
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "q_vec", "cell")
    val cand = qb.join(cbase, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        graft.plans.VectorExpressions.pqCosine(col("q_vec"), col("codes"), cb.codebooks))
    val short = perQueryTopK(cand, corpus.schema(idCol).dataType, shortlist)
      .select("query_id", "neighbor_id")
    val exact = short
      .join(broadcast(queries.select(
        col(idCol).as("query_id"), col(vecCol).as("q_vec"))), Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        Seq("neighbor_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    perQueryTopK(exact, corpus.schema(idCol).dataType, k)
  }

  /** Exact embedding near-duplicate pairs: all (a,b), a<b, with cosine ≥
    * `threshold`, via bucketed LSH candidates (for the corpus-vs-itself
    * case). Output: (a_id, b_id, score).
    *
    * Default bits=12 (4096 buckets/table), deliberately finer than
    * [[lshTopK]]'s 8: near-dup pairs at a high threshold sit at a tiny
    * angle (cos 0.99 → 8.1°, per-bit agreement 0.955), so even 12 bits
    * keep a boundary pair's per-table collision odds at 0.575 and the
    * 8-table miss under 0.2% — while random-pair candidate volume
    * (≈ n²·tables/2·4096 on uniform data) drops 16× vs 8 bits. Top-k
    * search can NOT use buckets this fine: a merely-nearest (not
    * near-dup) neighbor at cos ≈ 0.5 would almost never collide. */
  def nearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bits: Int = 12,
      tables: Int = 8,
      seed: Long = 42L): DataFrame = {
    // candidate generation/dedup carries only ids (a pair colliding in
    // several tables would otherwise shuffle its two vectors once per
    // collision); vectors join back once per unique pair — same shape
    // as [[lshTopK]]
    val b = corpus.select(
      col(idCol).as("id"),
      posexplode(hyperplaneBuckets(col(vecCol), dim, bits, tables, seed))
        .as(Seq("table", "bucket")))
    val l = b.select(col("table"), col("bucket"), col("id").as("a_id"))
    val r = b.select(col("table"), col("bucket"), col("id").as("b_id"))
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    l.join(r, Seq("table", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
      .join(vecs.select(col("id").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(vecs.select(col("id").as("b_id"), col("vec").as("b_vec")), "b_id")
      .withColumn("score", cosine(col("a_vec"), col("b_vec")))
      .filter(col("score") >= threshold)
      .select("a_id", "b_id", "score")
  }

  // ------------------------------------------------------------- SemDeDup

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space, then compare
    * pairwise ONLY within a cluster — candidate volume is Σ|cell|²/2
    * instead of n²/2, the published way to make embedding dedup feasible
    * at web scale. Reuses the prebuilt [[IvfIndex]] (the same k-means
    * artifact the ANN path trains): assignment is the fused map-side
    * CentroidScores argmax, the only shuffle is the cell-keyed self-join,
    * and each row carries its vector exactly once per side (one cell per
    * row — unlike multi-table LSH there is no candidate duplication).
    * Fully lazy over the index. Output: (a_id, b_id, score), a < b.
    *
    * vs [[nearDupPairs]] (LSH buckets): LSH bounds the MISS rate
    * analytically but needs `tables` passes; SemDeDup does one pass and
    * finds every within-cluster pair, but misses the (rare) near-dup
    * pair that straddles a cluster boundary — the paper accepts exactly
    * this trade. SimilaritySpec measures both faces. */
  def semanticDedupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfIndex,
      threshold: Double): DataFrame = {
    val assigned = corpus.select(
      argmaxCell(col(vecCol), index.centroids).as("cell"),
      col(idCol).as("id"), col(vecCol).as("vec"))
    val l = assigned.select(col("cell"), col("id").as("a_id"), col("vec").as("a_vec"))
    val r = assigned.select(col("cell"), col("id").as("b_id"), col("vec").as("b_vec"))
    l.join(r, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("score", cosine(col("a_vec"), col("b_vec")))
      .filter(col("score") >= threshold)
      .select("a_id", "b_id", "score")
  }

  /** The dedup face: drop every document that semantically duplicates a
    * smaller-id survivor in its cluster (greedy keep-smallest, the
    * SemDeDup "keep one per duplicate group" policy; a chain a~b~c with
    * a≁c keeps only `a` — conservative toward dropping, like the paper's
    * greedy pass). For component-exact survivor sets route the pairs
    * through [[graft.operators.Components.dedupByCluster]] instead. */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfIndex,
      threshold: Double): DataFrame = {
    val drops = semanticDedupPairs(corpus, idCol, vecCol, index, threshold)
      .select(col("b_id").as(idCol)).distinct()
    corpus.join(drops, Seq(idCol), "left_anti")
  }
}
