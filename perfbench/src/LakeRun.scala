package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, crc32, count, lit, sum}

import graft.BenchForce
import graft.sources.LakeVersions

/** lake_write: the seeded op plan (ops.jsonl) applied to one graftlake
  * table through LakeVersions, one op per action. A warm-up block runs
  * first; then whole rounds are timed until both the minimum round count
  * and the time are reached. Every read records a digest of what it
  * returned and every op the version before and after it, so the
  * reference model in lake_model.py can replay the executed prefix and
  * check each read and the final table. */
final class LakeRun(spark: SparkSession, plan: JsonNode, tracer: Tracer, rec: Main.Out)
    extends Run(spark, plan, tracer, rec) {
  private val lake = plan.get("lake")
  private val dir = lake.get("dir").asText
  private val opsPath = lake.get("ops").asText
  private val roundLen = lake.get("round").asInt
  private val warm = lake.get("warmup").asInt
  private val minRounds = plan.get("min_rounds").asInt
  private val trace = plan.get("trace").asBoolean

  /** The rows of a batch: the same pure function of the key and the
    * op's coefficients as lake_model.row. */
  private def batch(ids: DataFrame, op: JsonNode): DataFrame = {
    val m = (0 to 2).map(op.get("m").get(_).asLong)
    val c = (0 to 2).map(op.get("c").get(_).asLong)
    val id = col("id")
    ids.select(id,
      ((id * m(0) + c(0)) % 10).cast("int").as("grp"),
      ((id * m(1) + c(1)) % 1000003L).as("val"),
      concat(lit("u"), ((id * m(2) + c(2)) % 997L).cast("string")).as("name"))
  }

  private def idRange(op: JsonNode): Column =
    col("id") >= op.get("lo").asLong && col("id") < op.get("hi").asLong

  private def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum("id"), sum("grp"), sum("val"), sum(crc32(col("name").cast("binary"))))
      .collect()(0)
    (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Bytes under the lake directory, and the live version's data files
    * and their bytes. */
  private def storage(): Seq[(String, Any)] = {
    val all = Files.walk(Paths.get(dir)).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    val live = LakeVersions.read(spark, dir).inputFiles
      .map(f => Files.size(Paths.get(new java.net.URI(f))))
    Seq("stored_bytes" -> all, "live_bytes" -> live.sum, "live_files" -> live.length)
  }

  def run(): (Long, Long) = {
    LakeVersions.commit(spark, dir, spark.read.parquet(lake.get("base").asText),
      statsCols = Seq("id"))
    val ops = Files.readAllLines(Paths.get(opsPath)).asScala.map(Main.mapper.readTree).toIndexedSeq
    var prev: (Long, Long) = (0L, 0L)
    var start = 0L
    var i = 0
    def roundsDone = (i - warm) / roundLen
    def stop = i >= warm && (i - warm) % roundLen == 0 && roundsDone >= minRounds && timeUp(start)
    while (i < ops.size && !stop) {
      if (i == warm) {
        settle()
        start = Clock.now
      }
      val op = ops(i)
      val kind = op.get("op").asText
      val phase = if (i < warm) "warmup" else "timed"
      val traced = trace && phase == "timed"
      val vBefore = LakeVersions.latestVersion(spark, dir)
      var readVersion = -1L
      // a read composes its frame in the lake layer, then forces it;
      // a write is one lake call
      val frame = act[DataFrame](phase, traced, Seq("q" -> s"lake.$kind", "i" -> i),
          composeSpan = s"lake.$kind")(kind match {
        case "read" => LakeVersions.read(spark, dir)
        case "read_pruned" =>
          LakeVersions.readPruned(spark, dir,
            Seq(("id", op.get("lo").asLong, op.get("hi").asLong - 1))).filter(idRange(op))
        case "appends_between" =>
          readVersion = prev._2
          LakeVersions.appendsBetween(spark, dir, prev._1, prev._2)
        case "time_travel" =>
          readVersion = math.max(1L, vBefore - op.get("back").asLong)
          LakeVersions.read(spark, dir, Some(readVersion))
        case "append" =>
          val lo = op.get("lo").asLong
          LakeVersions.commit(spark, dir, batch(spark.range(lo, lo + op.get("n").asLong).toDF("id"), op),
            statsCols = Seq("id"))
          null
        case "merge" =>
          val keys = op.get("keys").elements.asScala.map(k => java.lang.Long.valueOf(k.asLong)).toSeq
          val ids = spark.createDataset(keys)(org.apache.spark.sql.Encoders.LONG).toDF("id")
          LakeVersions.mergeInto(spark, dir, batch(ids, op), Seq("id"))
          null
        case "update" =>
          LakeVersions.updateWhere(spark, dir, idRange(op),
            Map("val" -> (col("val") + lit(op.get("add").asLong))))
          null
        case "delete" =>
          LakeVersions.deleteWhere(spark, dir, idRange(op))
          null
        case "compact" => LakeVersions.compactCommit(spark, dir); null
        case "vacuum" =>
          LakeVersions.vacuum(spark, dir, keepVersions = op.get("keep").asInt, olderThanMs = 0L)
          null
      }) { df => if (df != null) BenchForce.force(df) }
      val vAfter = LakeVersions.latestVersion(spark, dir)
      val extra = frame.flatMap(Option(_)).map { df =>
        Seq("digest" -> digest(df), "version" -> (if (readVersion >= 0) readVersion else vAfter))
      }.getOrElse(Nil) ++ (if (kind != "read_pruned") Nil else {
        val (kept, total) = LakeVersions.pruneCounts(spark, dir,
          Seq(("id", op.get("lo").asLong, op.get("hi").asLong - 1)))
        Seq("files_kept" -> kept, "files_total" -> total)
      })
      rec.action(Main.json(Seq[(String, Any)]("lake_op" -> i, "op" -> kind,
        "v_before" -> vBefore, "v_after" -> vAfter) ++ extra: _*))
      prev = (vBefore, vAfter)
      i += 1
      if (i > warm && (i - warm) % roundLen == 0)
        rec.action(Main.json(("round_end" -> (i - 1)) +: storage(): _*))
    }
    val end = Clock.now
    LakeVersions.read(spark, dir).write.mode("overwrite")
      .parquet(Paths.get(plan.get("out").asText, "results", "final").toString)
    (start / 1000000L, end / 1000000L)
  }
}
