package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.PsIO

/** Declarative data-quality constraint checking — the validation gate an
  * ingest pipeline runs before data is allowed into a corpus (the same
  * niche as the public Deequ/Great-Expectations concept, re-expressed
  * Spark-first). Not in the reference (its surface has no validation
  * story); designed for the 100 TB posture:
  *
  *  - every ROW-LOCAL rule (not-null, range, regex, value-set) compiles
  *    to one `sum(when(violation, 1))` term, and ALL of them run in ONE
  *    aggregate over ONE scan — map-side partial aggregation reduces the
  *    corpus to a single row per executor before any exchange, so adding
  *    a rule adds a projection term, never a pass;
  *  - `Unique` is the one genuinely keyed rule: a groupBy on the key
  *    columns (partial counts map-side) summing the surplus per
  *    duplicated key — the only shuffle, sized by distinct keys;
  *  - `RefIn` (referential integrity) is an anti-join against the
  *    dimension — broadcast when the dimension is small (the planner's
  *    choice), never a driver-side collect.
  *
  * Output is rules-sized (one row per rule), never corpus-sized:
  * (rule, column, violations, total, pass). `run` is lazy — compose it,
  * inspect the plan, then action it; a gate that aborts on failure is
  * `require(run(df, rules).filter(!col("pass")).isEmpty)` at the call
  * site, where the caller decides severity.
  *
  * Violation semantics (all exact, DuckDB-oracle-able):
  *  - [[Checks.NotNull]]: rows where the column IS NULL;
  *  - [[Checks.InRange]]: non-null values outside [lo, hi] (inclusive);
  *  - [[Checks.Matches]]: non-null values the regex does NOT find in
  *    (rlike semantics — anchor with ^...$ for a full match);
  *  - [[Checks.OneOf]]: non-null values outside the allowed set;
  *  - [[Checks.Unique]]: surplus rows per duplicated key tuple
  *    (Σ max(cnt−1, 0) — 0 iff the columns form a key; SQL GROUP BY
  *    null-equality applies to null keys on both engines);
  *  - [[Checks.RefIn]]: non-null values with no match in the dimension
  *    column (anti-join count; nulls are not violations — add NotNull
  *    for that).
  */
object Checks {

  sealed trait Rule {
    /** Short stable label for the output row. */
    def rule: String
    /** Column (or comma-joined columns) the rule binds. */
    def column: String
  }
  final case class NotNull(col: String) extends Rule {
    def rule = "not_null"; def column = col
  }
  /** Bounds are `Any` literals on purpose: pass bounds of the COLUMN's
    * type (Long for bigint, BigDecimal for decimal) and the comparison
    * stays exact — Double bounds against a bigint column would promote
    * to double and misclassify values beyond 2^53. */
  final case class InRange(col: String, lo: Any, hi: Any) extends Rule {
    def rule = "in_range"; def column = col
  }
  final case class Matches(col: String, regex: String) extends Rule {
    def rule = "matches"; def column = col
  }
  final case class OneOf(col: String, values: Seq[String]) extends Rule {
    def rule = "one_of"; def column = col
  }
  final case class Unique(cols: Seq[String]) extends Rule {
    def rule = "unique"; def column = cols.mkString(",")
  }
  final case class RefIn(col: String, dim: DataFrame, dimCol: String) extends Rule {
    def rule = "ref_in"; def column = col
  }
  /** [[RefIn]] with the dimension on disk — the common case: the
    * reference table lives in the lake, not in memory. Resolved to a
    * parquet scan at [[run]] time (the join still broadcasts when the
    * dimension is small), which keeps the gate definition a pure value:
    * a rule list of paths and bounds can sit in config, serialize to
    * executors, or be diffed between pipeline versions — none of which
    * a captured DataFrame allows. */
  final case class RefInParquet(col: String, path: String, dimCol: String) extends Rule {
    def rule = "ref_in"; def column = col
  }

  /** The row-local violation predicate for a rule, or None for the
    * keyed/join rules. */
  private def rowViolation(df: DataFrame, r: Rule): Option[Column] = r match {
    case NotNull(c) => Some(df(c).isNull)
    case InRange(c, lo, hi) =>
      Some(df(c).isNotNull && (df(c) < lit(lo) || df(c) > lit(hi)))
    case Matches(c, re) => Some(df(c).isNotNull && !df(c).rlike(re))
    case OneOf(c, vs)   => Some(df(c).isNotNull && !df(c).isInCollection(vs))
    case _              => None
  }

  /** One flag name per row-local rule, in rule order — same-family
    * duplicates on one column get a positional suffix so the emitted
    * columns are unambiguous (`matches_email_bad`, `matches_email_bad_2`). */
  private def flagNames(rules: Seq[Rule]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    rules.map { r =>
      val base = s"${r.rule}_${r.column.replace(',', '_')}_bad"
      val k = seen.getOrElse(base, 0) + 1
      seen(base) = k
      if (k == 1) base else s"${base}_$k"
    }
  }

  /** The exact flag-column names [[flag]] generates for `rules`, in
    * rule order — for callers that route on the flags (e.g. the
    * streaming lake promotion's quarantine `reason`) and must not
    * guess by suffix: user data may legally carry its own `*_bad`
    * columns, which flag() deliberately leaves alone. */
  private[graft] def flagColumnNames(rules: Seq[Rule]): Seq[String] =
    flagNames(rules)

  /** ROW-level face: append one boolean `<rule>_<column>_bad` flag per
    * row-local rule plus a combined `row_bad`, leaving rows in place —
    * the routing form (send `row_bad` to quarantine, the rest onward)
    * vs [[run]]'s corpus-level verdict. Pure stateless projections, so
    * it runs UNCHANGED inside `writeStream` (no state, no watermark);
    * the keyed rules (Unique/RefIn) are corpus-level by nature and are
    * rejected here — a streaming uniqueness gate is
    * [[graft.streaming.StreamingOps.streamingDedup]]'s job. */
  def flag(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "Checks.flag needs at least one rule")
    val names = flagNames(rules)
    // a quality gate must never silently shadow user data: collisions
    // with existing columns (including a pre-existing row_bad) fail loudly
    val clash = (names :+ "row_bad").toSet.intersect(df.columns.toSet)
    require(clash.isEmpty,
      s"Checks.flag: output column(s) ${clash.mkString(", ")} already " +
        "exist on the input — rename them upstream")
    val flags = rules.zip(names).map { case (r, name) =>
      val v = rowViolation(df, r).getOrElse(throw new IllegalArgumentException(
        s"Checks.flag: '${r.rule}' is corpus-level (keyed/join) — row " +
          "flags exist only for row-local rules; use Checks.run, or " +
          "streamingDedup for uniqueness on a stream"))
      v.as(name)
    }
    val flagged = df.select(col("*") +: flags: _*)
    // row_bad reads the emitted flag columns by their (unique) names,
    // so it agrees with them by construction
    flagged.withColumn("row_bad", names.map(col).reduce(_ || _))
  }

  /** Evaluate every rule; one output row per rule:
    * (rule, column, violations, total, pass). Lazy. */
  def run(df: DataFrame, rawRules: Seq[Rule]): DataFrame = {
    require(rawRules.nonEmpty, "Checks.run needs at least one rule")
    // path-based dimensions resolve to scans here, once — everything
    // downstream treats them as ordinary RefIn
    val rules = rawRules.map {
      case RefInParquet(c, p, d) => RefIn(c, PsIO.parquet(df.sparkSession, p), d)
      case r => r
    }
    val total = count(lit(1)).as("total")

    // SQL single-quoted string literal: the rule/column labels reach the
    // stack() expression as source text, so quotes and backslashes must
    // be escaped — a column legally named `it's` must neither break
    // parsing nor inject expression text into the plan
    def sq(s: String): String =
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    // every row-local rule is one agg term over ONE shared scan; resolve
    // each rule's predicate exactly once
    val rowLocal = rules.zipWithIndex.flatMap { case (r, i) =>
      rowViolation(df, r).map(v => (r, i, v))
    }
    val rowLocalOut: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else {
        val terms = total +: rowLocal.map { case (_, i, v) =>
          sum(when(v, 1L).otherwise(0L)).as(s"v$i")
        }
        val one = df.agg(terms.head, terms.tail: _*)
        // pivot the single stats row to one row per rule — rules-sized,
        // stack() is a projection over the 1-row aggregate
        val stack = rowLocal.map { case (r, i, _) =>
          s"${sq(r.rule)}, ${sq(r.column)}, v$i"
        }.mkString(", ")
        Some(one.selectExpr("total",
            s"stack(${rowLocal.size}, $stack) AS (rule, column, violations)")
          .select(col("rule"), col("column"),
            coalesce(col("violations"), lit(0L)).as("violations"), col("total")))
      }

    val keyed: Seq[DataFrame] = rules.collect {
      case Unique(cols) =>
        // total == Σ group counts, so it rides the SAME aggregation —
        // no 1-row cross join (which PlanLint rightly flags as a
        // nested-loop join) and no second pass over the data
        df.groupBy(cols.map(df(_)): _*)
          .agg(count(lit(1)).as("__n"))
          .agg(coalesce(sum(col("__n") - 1L), lit(0L)).as("violations"),
            coalesce(sum(col("__n")), lit(0L)).as("total"))
          .select(lit("unique").as("rule"),
            lit(cols.mkString(",")).as("column"),
            col("violations"), col("total"))
      case RefIn(c, dim, dimCol) =>
        // LEFT join against the hit-marked distinct dimension keeps
        // every input row, so violations AND total come out of ONE
        // keyed (broadcastable) join + aggregate. The marker is
        // referenced through the `marked` frame (attribute identity,
        // not name), so a fact-side column of the same name cannot make
        // it ambiguous.
        val marked = dim.select(dim(dimCol).as(c)).distinct()
          .withColumn("__graft_ref_hit", lit(1))
        df.join(marked, Seq(c), "left")
          .agg(
            sum(when(df(c).isNotNull && marked("__graft_ref_hit").isNull, 1L)
              .otherwise(0L)).as("violations"),
            count(lit(1)).as("total"))
          .select(lit("ref_in").as("rule"), lit(c).as("column"),
            coalesce(col("violations"), lit(0L)).as("violations"), col("total"))
    }

    val all = (rowLocalOut.toSeq ++ keyed).reduce(_ unionByName _)
    all.withColumn("pass", col("violations") === 0L)
      .orderBy("rule", "column")
  }
}
