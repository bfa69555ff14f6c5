package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Random `sample()` is irreproducible across runs, engines, and data
  * re-partitioning. These operators assign membership by a stable hash of
  * a key column ([[Dedup.hash60]], md5-derived — identical in DuckDB and
  * most engines), so a document keeps its split forever: re-runs,
  * backfills, and engine migrations all agree, and new data lands in the
  * same proportions without reshuffling old assignments. Per-row, no
  * shuffle, codegen'd.
  */
object Sampling {

  private val Buckets = 10000L

  private def bucketOf(key: Column, salt: String): Column =
    pmod(Dedup.hash60(concat(key.cast("string"), lit(salt))), lit(Buckets))

  /** Split label ("train"/"val"/"test"-style) per row. `fractions` must
    * sum to 1; `salt` decorrelates different splits over the same key. */
  def splitColumn(key: Column, fractions: Seq[(String, Double)], salt: String = ""): Column = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val b = bucketOf(key, salt)
    val cums = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val labeled = fractions.zip(cums) // (name, fraction) -> cumulative
    labeled.init.foldRight(lit(labeled.last._1._1): Column) {
      case (((name, _), cum), acc) =>
        when(b < math.round(cum * Buckets), name).otherwise(acc)
    }
  }

  /** df + a `split` column. */
  def hashSplit(
      df: DataFrame, keyCol: String,
      fractions: Seq[(String, Double)], salt: String = ""): DataFrame =
    df.withColumn("split", splitColumn(df(keyCol), fractions, salt))

  /** Deterministic `fraction`-sample by key hash (stable across runs). */
  def sampleByHash(
      df: DataFrame, keyCol: String, fraction: Double, salt: String = ""): DataFrame =
    df.filter(bucketOf(df(keyCol), salt) < math.round(fraction * Buckets))

  /** Importance sampling: keep each row with its OWN probability from
    * `weightCol` (clamped to [0,1]) — the data-mixing primitive
    * ("sample documents proportional to quality score"). Deterministic
    * like every sampler here: membership is hash(key) vs floor(w·buckets),
    * so re-runs and engine migrations agree row-for-row, and the realized
    * rate converges to mean(w). Per-row, no shuffle, codegen'd. */
  def sampleByWeight(
      df: DataFrame, keyCol: String, weightCol: String,
      salt: String = ""): DataFrame = {
    val w = least(greatest(df(weightCol).cast("double"), lit(0.0)), lit(1.0))
    df.filter(bucketOf(df(keyCol), salt) < floor(w * Buckets))
  }

  /** Weighted corpus mixing — the "data mixture" step of a training
    * pipeline ("25% of source A, all of source B, …"): a deterministic
    * hash-fraction of each source, unioned by name under a `mix_source`
    * label. Membership is per-source-salted hash of the key, so the
    * mixture is reproducible across runs/engines, stable under corpus
    * growth, and each source's filter is a codegen'd per-row predicate
    * pushed at its own scan — no shuffle anywhere in the mix itself. */
  def mixCorpora(parts: Seq[(String, DataFrame, Double)], keyCol: String,
      salt: String = ""): DataFrame = {
    require(parts.nonEmpty, "mixCorpora needs at least one source")
    require(parts.map(_._1).distinct.size == parts.size,
      "mixCorpora labels must be unique (they salt the sampling hash)")
    parts.map { case (label, df, frac) =>
      require(frac >= 0 && frac <= 1, s"fraction for $label out of [0,1]")
      sampleByHash(df, keyCol, frac, salt + label)
        .withColumn("mix_source", lit(label))
    }.reduce(_.unionByName(_))
  }

  /** Exact-k deterministic sample per group — eval-set construction
    * ("k docs per language", "k examples per source") where a FRACTION
    * sampler under/overshoots small groups. Rows are ranked inside each
    * group by the stable hash of their key (salted), so membership is a
    * uniform-like draw that re-runs, backfills, and engine migrations
    * reproduce exactly; groups smaller than k keep every row.
    *
    * One hash shuffle on the group columns; the rank-≤-k predicate
    * compiles to map-side WindowGroupLimit (same plan shape PlanShapeSpec
    * pins for headPerGroup), so each task keeps at most k rows per group
    * BEFORE the exchange — at 100 TB the shuffle carries ~k·|groups|
    * rows, not the corpus. */
  def sampleKPerGroup(
      df: DataFrame, groupCols: Seq[String], keyCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(groupCols.nonEmpty && k > 0, "sampleKPerGroup needs groups and k > 0")
    import org.apache.spark.sql.expressions.Window
    val rn = Iterator.from(0).map(i => if (i == 0) "__rn" else s"__rn$i")
      .find(!df.columns.contains(_)).get
    val w = Window.partitionBy(groupCols.map(df(_)): _*)
      .orderBy(Dedup.hash60(concat(df(keyCol).cast("string"), lit(salt))),
        df(keyCol))
    df.withColumn(rn, row_number().over(w)).filter(col(rn) <= k).drop(rn)
  }

  /** Deterministic mixture-schedule interleave — the "data mixing
    * schedule" step between corpus mixing and sequence packing: assign
    * every row a global training-order key such that sources appear in
    * proportion to their weights, without a global row numbering (a
    * single-partition window is exactly the scale bug PlanLint flags).
    *
    * Each source's rows are numbered within the source (hash order on
    * the salted key — deterministic), and row p of a source with integer
    * stride s gets schedule key p·s: smaller stride = denser in the
    * schedule, so strides (2, 3) realize a 3:2 mix ratio. All integer
    * arithmetic — any engine reproduces the schedule bit-for-bit. The
    * output is (input columns + sched); consumers range-partition /
    * sort-write by (sched, tiebreaks) — a distributed keyed sort, never
    * one task. One shuffle on the source column. */
  def interleaveBySource(
      df: DataFrame, sourceCol: String, keyCol: String,
      strides: Map[String, Long], salt: String = ""): DataFrame = {
    require(strides.nonEmpty && strides.values.forall(_ > 0),
      "interleaveBySource needs positive integer strides")
    require(!df.columns.contains("sched"),
      "interleaveBySource: input already has a 'sched' column")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(df(sourceCol))
      .orderBy(Dedup.hash60(concat(df(keyCol).cast("string"), lit(salt))),
        df(keyCol))
    // a source absent from the map must fail loudly at execution, not
    // silently schedule as NULL (which a range-partitioned sort-write
    // would sweep to one undefined end of the training order)
    val stride = strides.foldLeft(
      raise_error(concat(lit("interleaveBySource: no stride for source "),
        df(sourceCol))).cast("long")) {
      case (acc, (s, st)) => when(df(sourceCol) === s, st).otherwise(acc)
    }
    df.withColumn("sched", (row_number().over(w).cast("long") - 1L) * stride)
  }

  /** Per-stratum deterministic sampling: each stratum keeps its own
    * fraction (downsample hot classes, keep rare ones whole). */
  def stratifiedSampleByHash(
      df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double], default: Double = 1.0,
      salt: String = ""): DataFrame = {
    val b = bucketOf(df(keyCol), salt)
    val frac = fractions.foldLeft(lit(default)) { case (acc, (s, f)) =>
      when(df(strataCol) === s, f).otherwise(acc)
    }
    df.filter(b < round(frac * Buckets))
  }

  /** Leakage-safe train/val/test split: near-duplicate documents MUST
    * land in the SAME split, or the held-out set silently contains
    * near-copies of training documents and eval numbers inflate — the
    * contamination path plain per-document hashing leaves open. The
    * assignment key is the document's near-dup CLUSTER representative
    * (min id over the connected components of `pairs`); singletons key
    * on their own id, so on a dup-free corpus this degrades to exactly
    * [[hashSplit]]. `pairs` is any near-dup relation — [[Dedup.minhashLsh]],
    * [[Dedup.simhashPairs]], [[Similarity.semanticDedupPairs]] output
    * shapes all fit ((a_id, b_id) columns).
    *
    * Cost on top of the pair relation: the CC label propagation (O(V)
    * state per round over the PAIRED nodes only — the overwhelmingly
    * singleton corpus never enters the loop) plus one left join. The
    * propagation runs to convergence, so a cluster of any diameter gets
    * one representative and lands whole in one split. */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      fractions: Seq[(String, Double)],
      salt: String = ""): DataFrame = {
    val labels = Components.clusterLabels(pairs)
      .select(col("node").as(idCol), col("label").as("__rep"))
    docs.join(labels, Seq(idCol), "left")
      .withColumn("split",
        splitColumn(coalesce(col("__rep"), col(idCol)), fractions, salt))
      .drop("__rep")
  }

  /** Token-budget corpus selection: the best-scoring documents whose
    * cumulative `tokensCol` stays within `budget` — "fill N tokens from
    * the top of the quality ranking", the final cut of most curation
    * runs. Selection order is (`scoreCol` DESC, `idCol` ASC); a row is
    * kept iff the running token total through it is ≤ `budget`.
    *
    * A global running sum is the textbook single-partition-window trap
    * (`Window.orderBy` with no partitioning serializes the corpus
    * through one task). This is the distributed prefix-sum instead:
    *
    *  1. range-partition by the selection order (partition p holds
    *     strictly better rows than p+1), persist-marked so both
    *     consumers below share ONE partition assignment;
    *  2. per-partition token sums reduce the corpus to `partitions`
    *     rows; their exclusive scan is a window over THAT bounded
    *     relation (P rows — the one place a "global" window is safe),
    *     broadcast back as per-partition offsets. Fully lazy: declaring
    *     the query runs nothing (LazinessSpec);
    *  3. partitions whose offset already exceeds the budget are pruned
    *     BEFORE any window work (at 100 TB nearly all of them — the
    *     budget cut usually lands in the first few percent);
    *  4. surviving partitions run the running sum as a window
    *     partitioned BY partition id — parallel across partitions —
    *     plus their broadcast offset.
    *
    * The result is partition-count invariant (the selection set depends
    * only on the global order), which the dual-config sweep's parts7
    * config exercises. Output keeps input columns plus `cum_tokens`.
    */
  def selectByBudget(
      df: DataFrame,
      scoreCol: String,
      idCol: String,
      tokensCol: String,
      budget: Long,
      partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val p =
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    // memoized persist (PersistedPlans): repeated builds over the same
    // (input plan, ordering, p) — bench iterations, the differential
    // sweep, a pipeline composing this query twice — share ONE
    // corpus-sized cache entry instead of registering one per invocation
    val base = df.repartitionByRange(p, order: _*)
      .withColumn("__pid", spark_partition_id())
    val ranked = PersistedPlans(base)(base.persist(StorageLevel.MEMORY_AND_DISK))
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDf = broadcast(
      ranked.groupBy("__pid")
        .agg(sum(col(tokensCol).cast("long")).as("__s"))
        .withColumn("__off", coalesce(sum("__s").over(wOff), lit(0L)))
        .select("__pid", "__off"))
    val w = Window.partitionBy("__pid")
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .join(offDf, "__pid")
      // partition-level prune, no window work. <= (not <): a partition
      // whose exclusive offset equals the budget exactly can still
      // contribute zero-token rows (cum == budget passes the row filter)
      .filter(col("__off") <= budget)
      .withColumn("cum_tokens",
        col("__off") + sum(col(tokensCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
      .drop("__pid", "__off")
  }

  /** Per-group token budgets — the token-aware form of corpus mixing
    * ("fill 40M tokens of web, 10M of code, …", the mixture spec
    * training recipes state in tokens, not document fractions, because
    * document length varies wildly by source): within each group, keep
    * the best (`scoreCol` DESC, `idCol`) rows whose running `tokensCol`
    * total stays within that group's budget. Groups absent from
    * `budgets` are dropped.
    *
    * One hash shuffle on the group key; the running sum is a window
    * partitioned BY group — parallel across groups, fine for the
    * source/domain cardinalities mixtures are specified over (tens).
    * A single giant group serializes through one task — for that shape
    * use [[selectByBudget]]'s distributed prefix sum on the group's
    * rows instead. Output adds `cum_tokens` (running total within the
    * group). */
  def selectByBudgetPerGroup(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      tokensCol: String,
      budgets: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty)
    val w = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // budgets ride as a literal lookup (bounded: one branch per group)
    val budgetCol = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (g, b)) => when(col(groupCol) === g, lit(b)).otherwise(acc)
    }
    df.withColumn("cum_tokens", sum(col(tokensCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budgetCol)
  }
}
