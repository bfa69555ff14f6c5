package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Dual-config differential sweep (SURVEY §5): every ORACLED registry
  * query must produce hash-identical results when whole-stage codegen is
  * off and when AQE is off. The default plan path (codegen + adaptive
  * re-planning) and the fallback paths are different executors of the
  * same declarative plan — any divergence means a custom Expression's
  * `doGenCode` disagrees with its interpreted `eval`, or an operator
  * depends on a physical property (partitioning, partition count) AQE is
  * free to change. Both are exactly the bug class that only bites at
  * cluster scale, where AQE re-plans aggressively and codegen fallbacks
  * (wide schemas, >64KB methods) silently flip the execution mode.
  *
  * Usage: `runMain graft.DiffConfig <sfDir> <outJson> [names...]`.
  * Writes one JSON object per query: the canonical result hash under the
  * default config and a match verdict per alternate config; exits 1 on
  * any mismatch.
  *
  * Scope note: only `oracleSql` queries run — rows-only registry entries
  * (unordered head, ANN candidate sets) are approximate/nondeterministic
  * BY DESIGN, so a cross-config hash compare would report false alarms.
  */
object DiffConfig {

  private val Alts: Seq[(String, Seq[(String, String)])] = Seq(
    ("nocodegen", Seq("spark.sql.codegen.wholeStage" -> "false")),
    ("noaqe", Seq("spark.sql.adaptive.enabled" -> "false")),
    // cluster-shape invariance: a 1000-executor deployment runs with a
    // radically different shuffle fan-out and input-split geometry than
    // local[32]; results must not depend on either. 7 is coprime to the
    // default 32 so every hash-partition boundary moves; 256 KB splits
    // multiply scan partitions, catching order- or partition-dependent
    // logic (per-partition rand, first/last without ordering,
    // monotonically_increasing_id leaking into results).
    ("parts7", Seq("spark.sql.shuffle.partitions" -> "7")),
    ("smallsplits", Seq("spark.sql.files.maxPartitionBytes" -> "262144")),
    // physical-strategy invariance: force every equi join through
    // sort-merge (both the static planner's and AQE's broadcast
    // thresholds off) — at cluster scale the planner flips strategies on
    // its own as sizes cross thresholds, so results must not depend on
    // join implementation. Explicit broadcast() hints still broadcast;
    // that is the hint's contract, and those paths are covered by the
    // other configs.
    ("nobroadcast", Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")),
    // scan-implementation invariance: the row-based parquet reader
    // replaces the vectorized one (the fallback Spark takes on its own
    // for nested/unsupported schemas)
    ("rowscan", Seq("spark.sql.parquet.enableVectorizedReader" -> "false")),
    // aggregation-implementation invariance: force the sort-based
    // aggregate fallback in place of ObjectHashAggregate — the path the
    // object-buffer UDAFs (HLL/MG/KLL sketches, TopKAgg, prod) take
    // when Spark spills or the buffer type disqualifies hashing. Sort-
    // based aggregation feeds buffers in SORTED-KEY order, a different
    // merge order than hash aggregation — exactly the nondeterminism
    // the sketch family's pinned-bound oracles claim to absorb; this
    // config measures that claim instead of asserting it.
    ("sortagg", Seq("spark.sql.execution.useObjectHashAggregateExec" -> "false")))

  /** Canonical content hash: column-name-sorted projection, every value
    * rendered to text, rows sorted, md5 over schema + rows. Matches the
    * driver gate's spirit (column-sorted, order-insensitive) but runs
    * entirely in-engine so the same renderer serves both configs. */
  def canonicalHash(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    val proj = df.select(cols.map(col): _*)
    def render(v: Any): String = v match {
      case null => "\u0000null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => render(k) + "=" + render(x) }.toSeq.sorted
          .mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
      case d: Double => java.lang.Double.toString(d) // exact repr, both configs
      case f: Float => java.lang.Float.toString(f)
      case other => other.toString
    }
    val rows = proj.collect()
      .map(_.toSeq.map(render).mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("MD5")
    md.update(proj.schema.map(f => s"${f.name}:${f.dataType.sql}")
      .mkString("|").getBytes("UTF-8"))
    // row terminator: without it {"ab","c"} and {"a","bc"} would feed
    // the digest identical byte streams and mask a mismatch
    rows.foreach(r => md.update((r + "\u0002").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outJson = if (args.length > 1) args(1) else "DIFFCONFIG.json"
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Session.local(cpus, "graft-diffconfig")

    val names = SparkEntry.oracleSql.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    var bad = List.empty[String]
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // the query closure is re-invoked per config so ANALYSIS AND
      // PLANNING happen under the altered conf, not just execution —
      // and the engine's memoized persists (PersistedPlans: Sampling's
      // budget ranking) are dropped first, or the alternate config would
      // silently replay base-config cached blocks for those stages and
      // the differential would be vacuous exactly where
      // partition/scan-shape bugs hide
      def run(): String = {
        graft.operators.PersistedPlans.clear()
        canonicalHash(fn(spark, sfDir))
      }
      val base =
        try Right(run())
        catch { case e: Throwable => Left(s"base: ${e.getMessage}".take(200)) }
      val verdicts = Alts.map { case (label, confs) =>
        val priors = confs.map { case (key, _) => key -> spark.conf.get(key, null) }
        confs.foreach { case (key, value) => spark.conf.set(key, value) }
        val v =
          try {
            base match {
              case Right(h0) =>
                val h = run()
                if (h == h0) "match" else s"MISMATCH:$h"
              case Left(_) => "skipped"
            }
          } catch { case e: Throwable => s"ERROR:${e.getMessage}".take(200) }
          finally {
            priors.foreach { case (key, prior) =>
              if (prior == null) spark.conf.unset(key) else spark.conf.set(key, prior)
            }
          }
        if (v != "match" && v != "skipped") bad ::= s"$name/$label"
        label -> v
      }
      base.left.foreach(_ => bad ::= s"$name/base")
      val baseStr = base.fold(e => s"ERROR:$e", identity)
      System.err.println(s"[diffconfig] $name base=${baseStr.take(12)} " +
        verdicts.map { case (l, v) => s"$l=${v.take(24)}" }.mkString(" "))
      name -> (baseStr, verdicts)
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val body = results.map { case (name, (baseHash, verdicts)) =>
      s"${q(name)}: {${q("base")}: ${q(baseHash)}, " +
        verdicts.map { case (l, v) => s"${q(l)}: ${q(v)}" }.mkString(", ") + "}"
    }.mkString(",\n  ")
    val summary = s"${q("queries")}: ${names.size}, " +
      s"${q("mismatches")}: ${bad.size}, " +
      s"${q("bad")}: [${bad.sorted.map(q).mkString(", ")}]"
    Files.writeString(Paths.get(outJson), s"{$summary,\n  $body\n}\n")
    System.err.println(s"[diffconfig] ${names.size} queries, ${bad.size} bad -> $outJson")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
