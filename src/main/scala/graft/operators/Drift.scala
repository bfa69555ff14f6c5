package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.PsIO

/** Distribution-drift report between two corpus snapshots (e.g. last
  * month's crawl vs this month's): per-column Population Stability
  * Index over explicit bins, the standard monitoring metric for "did
  * the data change under my pipeline" (Siddiqi, *Credit Risk
  * Scorecards*, 2006 — public banking-monitoring practice; the same
  * computation FineWeb-style corpus reports run per crawl dump).
  *
  * The reference engine has nothing here; this is pure §2.11 extension
  * surface. Scale shape: ONE pass per side — every dimension's bin
  * label is computed in the same projection, exploded, and partially
  * aggregated map-side, so the shuffle per side is O(partitions ×
  * Σbins), never O(rows); the joined contingency is Σbins rows (tiny)
  * and all PSI math happens on it. No UDFs; the per-column PSI fold
  * runs over a SORTED cell list (`sort_array` + `aggregate`), so the
  * float sum order is deterministic under any partitioning/config —
  * the same sequential-fold discipline the sketch-error oracles use.
  *
  * Binning contract (engine-replayable, so a DuckDB oracle can
  * hash-match):
  *  - numeric: bin index = count of edges <= x via a literal CASE
  *    chain, label `b%02d`; nulls get their own `z_null` bin (null-rate
  *    drift is drift) and NaN its own `y_nan` bin (Spark orders NaN
  *    above all doubles, so it would otherwise alias into the top bin);
  *  - categorical: top-`top` categories by REFERENCE frequency (ties
  *    broken by value) keep their own `v_<value>` bin, everything else
  *    collapses into `y_other` — the cardinality valve that keeps a
  *    10^9-value column from exploding the contingency. Top sets come
  *    from the reference side only (ALL categorical dims resolved in
  *    one ref scan, one bounded Σtop-row collect — like the ANN
  *    centroid indexes), so a brand-new category in the current
  *    snapshot lands in `y_other` and still moves PSI.
  *
  * PSI uses add-one (Laplace) smoothing — p_i=(r_i+1)/(R+B),
  * q_i=(c_i+1)/(C+B) over the B observed bins — so empty bins
  * contribute finitely instead of ±∞; both engines replay the identical
  * expression tree term-for-term on exact integer counts.
  */
object Drift {

  sealed trait Dim { def column: String }

  /** Explicit ascending bin edges; bin i = number of edges <= x.
    * NaN edges are rejected outright: every `x < NaN` is false, so a
    * NaN edge would silently alias its whole range into the top bin
    * (and boxed-Double Seq equality treats NaN == NaN, so the ordering
    * guard alone would not catch it). */
  final case class NumericDim(column: String, edges: Seq[Double]) extends Dim {
    require(edges.nonEmpty && edges.size < 100,
      s"NumericDim($column): need 1..99 edges")
    require(edges.forall(e => !e.isNaN),
      s"NumericDim($column): NaN edge")
    require(edges == edges.sorted && edges.distinct == edges,
      s"NumericDim($column): edges must be strictly ascending")
  }

  /** Categories bounded to the reference side's `top` most frequent. */
  final case class CategoricalDim(column: String, top: Int = 50) extends Dim {
    require(top >= 1 && top <= 10000,
      s"CategoricalDim($column): top must be in 1..10000")
  }

  private val NullLabel = "z_null"
  private val NanLabel = "y_nan"

  /** All categorical top sets in ONE reference scan (a 100 TB ref must
    * not be re-read once per dimension): every categorical value is
    * projected into a (column, value) cell in the same projection,
    * exploded, counted, and ranked per column — the only driver
    * materialization is the Σ top-k rows (bounded by construction,
    * like the ANN codebook builds). Ordering contract per column:
    * count desc, value asc. */
  private def topSets(ref: DataFrame, cats: Seq[CategoricalDim])
      : Map[String, Seq[String]] = {
    if (cats.isEmpty) return Map.empty
    val cells = ref.select(explode(array(cats.map(d =>
        struct(lit(d.column).as("column"),
          col(d.column).cast("string").as("v"))): _*)).as("cell"))
      .filter(col("cell.v").isNotNull)
      .groupBy(col("cell.column").as("column"), col("cell.v").as("v"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("column").orderBy(col("n").desc, col("v").asc)
    val keepers = cats.map(d =>
      col("column") === lit(d.column) && col("rk") <= lit(d.top))
      .reduce(_ || _)
    cells.withColumn("rk", row_number().over(w)).filter(keepers)
      .select("column", "v", "rk").collect()
      .groupBy(_.getString(0))
      .map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(2)).map(_.getString(1)).toSeq
      }
  }

  /** One dimension with everything its bin labels depend on made
    * EXPLICIT — numeric edges, or the categorical top set resolved
    * against the reference. This is the storable monitoring artifact:
    * derive it once against the reference snapshot ([[resolve]]),
    * persist it ([[saveSpec]]), and score every later snapshot against
    * identical bins ([[loadSpec]] + [[exprsFromSpec]]). */
  final case class ResolvedDim(column: String, kind: String,
                               edges: Seq[Double], topVals: Seq[String]) {
    require(kind == "numeric" || kind == "categorical",
      s"ResolvedDim($column): kind must be numeric|categorical, got $kind")
    if (kind == "numeric") {
      require(edges.nonEmpty && edges.size < 100,
        s"ResolvedDim($column): need 1..99 edges")
      require(edges.forall(e => !e.isNaN), s"ResolvedDim($column): NaN edge")
      require(edges == edges.sorted && edges.distinct == edges,
        s"ResolvedDim($column): edges must be strictly ascending")
    } else require(edges.isEmpty, s"ResolvedDim($column): categorical with edges")
  }

  /** A fully-resolved binning specification — the cross-session
    * contract for month-over-month monitoring. */
  final case class DriftSpec(dims: Seq[ResolvedDim]) {
    require(dims.nonEmpty, "DriftSpec: at least one dimension")
    require(dims.map(_.column).distinct.size == dims.size,
      "DriftSpec: duplicate dimension columns")
  }

  /** Resolve `dims` against the reference snapshot: categorical top
    * sets via the one bounded [[topSets]] scan, numeric edges carried
    * through verbatim. The ONLY eager step in the drift surface. */
  def resolve(ref: DataFrame, dims: Seq[Dim]): DriftSpec = {
    require(dims.nonEmpty, "Drift: at least one dimension")
    require(dims.map(_.column).distinct.size == dims.size,
      "Drift: duplicate dimension columns")
    val tops = topSets(ref, dims.collect { case c: CategoricalDim => c })
    DriftSpec(dims.map {
      case NumericDim(c, e) => ResolvedDim(c, "numeric", e, Nil)
      case CategoricalDim(c, _) =>
        ResolvedDim(c, "categorical", Nil, tops.getOrElse(c, Nil))
    })
  }

  /** The bin-label expression for one resolved dimension. */
  private def binExpr(dim: ResolvedDim): Column =
    if (dim.kind == "numeric") {
      val c = dim.column
      val x = col(c).cast("double")
      // NaN gets its OWN bin (Spark orders NaN above all doubles, so
      // every `x < edge` is false and NaN would silently alias into
      // the top bin — a NaN-rate shift is drift and must be visible)
      val chain = dim.edges.zipWithIndex.foldLeft(
        when(col(c).isNull, lit(NullLabel)).when(isnan(x), lit(NanLabel))) {
        case (acc, (e, i)) => acc.when(x < lit(e), lit(f"b$i%02d"))
      }
      chain.otherwise(lit(f"b${dim.edges.size}%02d"))
    } else {
      val c = dim.column
      when(col(c).isNull, lit(NullLabel))
        .when(col(c).cast("string").isin(dim.topVals: _*),
          concat(lit("v_"), col(c).cast("string")))
        .otherwise(lit("y_other"))
    }

  /** Bin-label expressions from a (possibly loaded) spec — pure
    * expression construction, no scan, no session state. */
  def exprsFromSpec(spec: DriftSpec): Seq[(String, Column)] =
    spec.dims.map(d => d.column -> binExpr(d))

  /** Persist a resolved spec as a tiny parquet relation (one row per
    * edge/top value plus a marker row per dimension), the same
    * save/load posture as the ANN index artifacts: the monthly-crawl
    * monitor loads the SAME bins every session instead of re-deriving
    * edges whose exact values depend on the reference partitioning. */
  def saveSpec(spark: org.apache.spark.sql.SparkSession, spec: DriftSpec,
               path: String): Unit = {
    val rows = spec.dims.zipWithIndex.flatMap { case (d, ord) =>
      // the idx = -1 marker row keeps a dimension with no elements
      // (categorical over an all-null reference column) loadable
      val marker = (ord, d.column, d.kind, -1,
        Option.empty[Double], Option.empty[String])
      val elems =
        if (d.kind == "numeric")
          d.edges.zipWithIndex.map { case (e, i) =>
            (ord, d.column, d.kind, i, Some(e), Option.empty[String]) }
        else
          d.topVals.zipWithIndex.map { case (v, i) =>
            (ord, d.column, d.kind, i, Option.empty[Double], Some(v)) }
      marker +: elems
    }
    spark.createDataFrame(rows)
      .toDF("ord", "column", "kind", "idx", "edge", "top_val")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a spec saved by [[saveSpec]]; ResolvedDim's constructor
    * guards re-validate the loaded edges. */
  def loadSpec(spark: org.apache.spark.sql.SparkSession, path: String): DriftSpec = {
    val rows = PsIO.parquet(spark, path).collect() // KBs by construction
    val dims = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      val marker = rs.find(_.getInt(3) == -1).getOrElse(
        throw new IllegalStateException(s"Drift.loadSpec: missing marker row in $path"))
      val elems = rs.filter(_.getInt(3) >= 0).sortBy(_.getInt(3))
      val kind = marker.getString(2)
      ResolvedDim(marker.getString(1), kind,
        if (kind == "numeric") elems.map(_.getDouble(4)).toSeq else Nil,
        if (kind == "categorical") elems.map(_.getString(5)).toSeq else Nil)
    }
    DriftSpec(dims)
  }

  /** Reference-quantile numeric edges via the storable KLL sketch —
    * the "bin by last month's deciles" monitoring convention. One pass
    * over the reference (the sketch aggregates map-side; only the
    * KB-sized sketch reaches the driver). RNG-free, so a fixed input
    * partitioning reproduces the edges exactly; a DIFFERENT
    * partitioning moves each edge within the sketch's rank error —
    * derive the edges once against the reference and STORE them with
    * it (they are plain doubles), exactly like the sketch itself, so
    * every later snapshot is scored against identical bins. Duplicate
    * quantiles (heavy atoms spanning several deciles) collapse to one
    * edge. */
  def kllEdges(ref: DataFrame, column: String, nBins: Int,
               k: Int = graft.functions.KllSketch.DefaultK): Seq[Double] = {
    require(nBins >= 2 && nBins <= 100, s"kllEdges($column): nBins in 2..100")
    val sk = ref.filter(col(column).isNotNull)
      .agg(Sketches.kllSketch(col(column).cast("double"), k).as("s"))
      .head().getAs[Array[Byte]]("s")
    if (sk == null) return Seq.empty // no sketch at all: nothing to bin
    (1 until nBins)
      .map(i => graft.functions.KllSketch.quantile(sk, i.toDouble / nBins))
      .filterNot(_.isNaN) // an all-null column sketches to n=0 -> NaN
      .distinct.sorted
  }

  /** The per-dimension bin-label expressions with top sets resolved
    * against `ref` (one eager bounded scan — see [[topSets]]). Public
    * seam: the streaming face computes these ONCE against the static
    * reference snapshot and applies them to an unbounded stream. */
  def cellExprs(ref: DataFrame, dims: Seq[Dim]): Seq[(String, Column)] =
    exprsFromSpec(resolve(ref, dims))

  /** Every dimension's (column, bin) cell in one projection — the
    * explode input shared by the batch and streaming contingencies. */
  def cellColumn(binExprs: Seq[(String, Column)]): Column =
    explode(array(binExprs.map { case (name, b) =>
      struct(lit(name).as("column"), b.as("bin"))
    }: _*))

  /** One side's contingency: (column, bin, n) in ONE scan — all dims
    * projected into (column, bin) structs, exploded, partially
    * aggregated before the only shuffle. */
  private def sideCounts(df: DataFrame, binExprs: Seq[(String, Column)],
                         n: String): DataFrame =
    df.select(cellColumn(binExprs).as("cell"))
      .groupBy(col("cell.column").as("column"), col("cell.bin").as("bin"))
      .agg(count(lit(1)).as(n))

  /** The exact per-bin contingency across both snapshots:
    * (column, bin, ref_n, cur_n), absent bins zero-filled. Integer
    * counts only — the fully-exact face (q_drift_bins). */
  def bins(ref: DataFrame, cur: DataFrame, dims: Seq[Dim]): DataFrame =
    binsWith(cellExprs(ref, dims), ref, cur)

  /** [[bins]] over PRE-RESOLVED label expressions: resolve once with
    * [[cellExprs]] (the only eager step) and reuse across snapshot
    * pairs, windows, and repeated composition — declaring the
    * contingency then schedules no jobs at all. */
  def binsWith(binExprs: Seq[(String, Column)],
               ref: DataFrame, cur: DataFrame): DataFrame = {
    val r = sideCounts(ref, binExprs, "rn")
    val c = sideCounts(cur, binExprs, "cn")
    r.join(c, Seq("column", "bin"), "full_outer")
      .select(col("column"), col("bin"),
        coalesce(col("rn"), lit(0L)).as("ref_n"),
        coalesce(col("cn"), lit(0L)).as("cur_n"))
  }

  /** Per-column drift summary: (column, ref_n, cur_n, bins, psi_bp,
    * drifted). `psi_bp` is PSI in basis points (round(psi*10000), a
    * BIGINT both engines agree on); `drifted` pins psi_bp >= threshold.
    * Conventional thresholds: 1000 bp (0.10) = investigate, 2500 bp
    * (0.25) = significant shift. */
  def report(ref: DataFrame, cur: DataFrame, dims: Seq[Dim],
             psiBpThreshold: Long = 1000L): DataFrame =
    reportFromContingency(bins(ref, cur, dims), psiBpThreshold)

  /** Per-group contingency: (by..., column, bin, ref_n, cur_n) — the
    * same one-scan-per-side shape with the group key(s) carried through
    * the explode, for "which source/shard drifted" drilldowns. Top sets
    * stay GLOBAL (resolved once against the whole reference): per-group
    * top sets would make bins incomparable across groups and multiply
    * the contingency by the group cardinality; a category new to one
    * group still lands in its y_other and moves that group's PSI. */
  def binsBy(ref: DataFrame, cur: DataFrame, dims: Seq[Dim],
             by: Seq[String]): DataFrame = {
    // argument validation BEFORE cellExprs' eager reference scan
    require(by.nonEmpty, "Drift.binsBy: at least one group column")
    require(by.intersect(dims.map(_.column)).isEmpty,
      "Drift.binsBy: group columns must not also be dimensions")
    binsByWith(cellExprs(ref, dims), ref, cur, by)
  }

  /** [[binsBy]] over pre-resolved label expressions (see [[binsWith]]). */
  def binsByWith(binExprs: Seq[(String, Column)], ref: DataFrame,
                 cur: DataFrame, by: Seq[String]): DataFrame = {
    require(by.nonEmpty, "Drift.binsBy: at least one group column")
    def side(df: DataFrame, n: String) =
      df.select(by.map(col) :+ cellColumn(binExprs).as("cell"): _*)
        .groupBy(by.map(col) ++ Seq(col("cell.column").as("column"),
          col("cell.bin").as("bin")): _*)
        .agg(count(lit(1)).as(n))
    side(ref, "rn").join(side(cur, "cn"), by ++ Seq("column", "bin"), "full_outer")
      .select(by.map(col) ++ Seq(col("column"), col("bin"),
        coalesce(col("rn"), lit(0L)).as("ref_n"),
        coalesce(col("cn"), lit(0L)).as("cur_n")): _*)
  }

  /** Per-group PSI report: (by..., column, ref_n, cur_n, bins, psi_bp,
    * drifted). Groups absent from one side still score (their bins
    * zero-fill on that side and the smoothing keeps every term finite),
    * so a vanished or brand-new group reads as maximal drift instead of
    * a missing row. */
  def reportBy(ref: DataFrame, cur: DataFrame, dims: Seq[Dim],
               by: Seq[String], psiBpThreshold: Long = 1000L): DataFrame =
    reportFromContingency(binsBy(ref, cur, dims, by), psiBpThreshold, by)

  /** The PSI fold over an already-built contingency (columns `column,
    * bin, ref_n, cur_n` plus any `extraGroupCols`, e.g. the window
    * start of a streaming contingency after its ref join) — the seam
    * that lets a foreachBatch monitor score each closed window with the
    * exact batch semantics. */
  def reportFromContingency(cells: DataFrame,
                            psiBpThreshold: Long = 1000L,
                            extraGroupCols: Seq[String] = Nil): DataFrame = {
    val gcols = extraGroupCols :+ "column"
    // per group: totals + the SORTED cell list the PSI fold runs over
    // (sorted -> the float sum order is partitioning-invariant)
    val perCol = cells.groupBy(gcols.map(col): _*).agg(
      sum("ref_n").as("ref_n"),
      sum("cur_n").as("cur_n"),
      count(lit(1)).cast("long").as("bins"),
      sort_array(collect_list(struct(col("bin"), col("ref_n").as("rn"),
        col("cur_n").as("cn")))).as("cells"))
    perCol.select(gcols.map(col) ++ Seq(
        col("ref_n"), col("cur_n"), col("bins"),
        round(psiFold * lit(10000.0d)).cast("long").as("psi_bp")): _*)
      .withColumn("drifted", col("psi_bp") >= lit(psiBpThreshold))
      .orderBy(gcols.map(col): _*)
  }

  /** psi = Σ (p-q)·ln(p/q), p=(rn+1)/(R+B), q=(cn+1)/(C+B) — ONE
    * sequential fold over the bin-sorted `cells` list, identical term
    * shape to the DuckDB replay. Expects `cells` (array of struct(bin,
    * rn, cn)), `ref_n`, `cur_n`, `bins` in scope; shared by
    * [[reportFromContingency]] and [[scoreWindowsWith]] so the two
    * faces cannot drift apart numerically. */
  private def psiFold: Column =
    aggregate(col("cells"), lit(0.0d), (acc, cell) => {
      val p = (cell.getField("rn") + lit(1L)).cast("double") /
        (col("ref_n") + col("bins")).cast("double")
      val q = (cell.getField("cn") + lit(1L)).cast("double") /
        (col("cur_n") + col("bins")).cast("double")
      acc + (p - q) * log(p / q)
    })

  /** The reference side's contingency (column, bin, ref_n) — computed
    * ONCE against the static reference snapshot and joined against
    * every scored window; persist it in a long-lived monitor. */
  def referenceCounts(ref: DataFrame, binExprs: Seq[(String, Column)]): DataFrame =
    sideCounts(ref, binExprs, "ref_n")

  /** The reference contingency COLLECTED to the driver: per column,
    * the bin-sorted (bin, ref_n) cells plus the column total. Σbins
    * rows by construction (dims × (edges+2 | top+2)) — the same
    * bounded-artifact posture as the ANN centroid/codebook collects —
    * so the window scorer can inline it as literals and score an
    * unbounded stream of windows in ONE pass over their contingency. */
  final case class RefCells(byColumn: Map[String, Seq[(String, Long)]]) {
    def totals: Map[String, Long] = byColumn.map { case (c, cs) => c -> cs.map(_._2).sum }
  }

  /** Collect [[referenceCounts]]' result — ONE job, Σbins rows. Do it
    * once per monitoring session and reuse across every scored batch.
    * Column access is by NAME, so any relation carrying (column, bin,
    * ref_n) works regardless of projection order. An EMPTY reference
    * (monitor bootstrapped before the first reference crawl lands) is
    * legal: every window then scores against ref_n=0 zero-fill —
    * maximal drift, loudly visible, the same posture as reportBy's
    * vanished-side scoring. */
  def collectReference(refCounts: DataFrame): RefCells =
    RefCells(refCounts.select("column", "bin", "ref_n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (c, rows) => c -> rows.map(r => (r._2, r._3)).sortBy(_._1).toSeq })

  /** Score per-window contingencies against the collected reference
    * with EXACT batch semantics — the same bin-sorted [[psiFold]] over
    * the same zero-filled cell set as [[reportFromContingency]], so a
    * foreachBatch monitor's psi_bp per closed window equals the batch
    * report over the same window's rows, term for term.
    *
    * `windowBins`: (windowCol, column, bin, cur_n) — the shape
    * [[graft.streaming.StreamingOps.streamingDriftBins]] emits per
    * closed window, binned by the SAME label expressions the reference
    * was. Scale shape: ONE aggregation over `windowBins`, no join at
    * all — the reference cells ride along as literals (bounded
    * artifact, like the ANN codebooks), each window's observed bins
    * merge against them in a codegen'd array expression, and bins —
    * or whole columns — the reference never saw score against rn=0
    * zero-fill (maximal drift, loudly visible), exactly as the batch
    * full-outer contingency would. Cost note: the per-(window, column)
    * merge is O(bins_col × obs_col) through the literal array (plus a
    * hash-set array_except for observed-only bins), which is nothing
    * at typical dim sizes (tens of bins) and ~10^8 comparisons per row
    * only at the extreme CategoricalDim(top = 10000) cap — prefer
    * modest top sets for high-frequency window scoring. */
  def scoreWindowsWith(windowBins: DataFrame, ref: RefCells,
                       windowCol: String = "window_start",
                       psiBpThreshold: Long = 1000L): DataFrame = {
    val colsSorted = ref.byColumn.keys.toSeq.sorted
    // when-chain with an explicit DEFAULT: a column the reference
    // lacks entirely falls through to empty ref cells / zero total
    // instead of a silent null report row
    def byCol(f: String => Column, default: Column): Column =
      colsSorted.foldRight(default)((c, rest) =>
        when(col("column") === lit(c), f(c)).otherwise(rest))
    val refArr = byCol(c => array(ref.byColumn(c).map { case (b, rn) =>
      struct(lit(b).as("bin"), lit(rn).as("rn")) }: _*),
      array().cast("array<struct<bin:string,rn:bigint>>"))
    val refBins = byCol(c => array(ref.byColumn(c).map(x => lit(x._1)): _*),
      array().cast("array<string>"))
    val refTotal = byCol(c => lit(ref.totals(c)), lit(0L))
    val perWC = windowBins
      // defensive pre-aggregation: streamingDriftBins emits unique
      // (window, column, bin) rows, but a caller binning by hand may
      // not — duplicates would make map_from_entries throw a runtime
      // duplicate-map-key error instead of scoring. Summing first is
      // duplicate-safe and free when rows are already unique (partial
      // aggregation collapses it map-side).
      .groupBy(col(windowCol), col("column"), col("bin"))
      .agg(sum("cur_n").as("cur_n"))
      .groupBy(col(windowCol), col("column"))
      .agg(map_from_entries(collect_list(struct(col("bin"), col("cur_n"))))
          .as("obs"),
        sum("cur_n").as("cur_n"))
    // the full cell set: every reference bin (cur zero-filled from the
    // observed map) plus any observed bin the reference lacks
    // (array_except builds a hash set — no quadratic membership scan) —
    // sorted, so the fold order matches reportFromContingency exactly
    val cells = sort_array(concat(
      transform(refArr, x => struct(x.getField("bin").as("bin"),
        x.getField("rn").as("rn"),
        coalesce(element_at(col("obs"), x.getField("bin")), lit(0L)).as("cn"))),
      transform(
        array_except(map_keys(col("obs")), refBins),
        k => struct(k.as("bin"), lit(0L).as("rn"),
          element_at(col("obs"), k).as("cn")))))
    perWC
      // materialize `cells` ONCE in its own projection: referencing the
      // expression twice (size + fold input) would duplicate the whole
      // literal tree in the analyzed plan shipped to every task
      .select(col(windowCol), col("column"),
        refTotal.as("ref_n"), col("cur_n"), cells.as("cells"))
      .select(col(windowCol), col("column"),
        col("ref_n"), col("cur_n"),
        size(col("cells")).cast("long").as("bins"), col("cells"))
      .select(col(windowCol), col("column"),
        col("ref_n"), col("cur_n"), col("bins"),
        round(psiFold * lit(10000.0d)).cast("long").as("psi_bp"))
      .withColumn("drifted", col("psi_bp") >= lit(psiBpThreshold))
      .orderBy(col(windowCol), col("column"))
  }

  /** [[scoreWindowsWith]] after collecting `refCounts` — the one-call
    * convenience face; long-lived monitors should collect once. */
  def scoreWindows(windowBins: DataFrame, refCounts: DataFrame,
                   windowCol: String = "window_start",
                   psiBpThreshold: Long = 1000L): DataFrame =
    scoreWindowsWith(windowBins, collectReference(refCounts),
      windowCol, psiBpThreshold)
}
