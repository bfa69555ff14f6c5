package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.Row

/** DataSourceV2 face over [[AvroIo]]'s split/decode machinery, so the
  * Avro scan lives INSIDE the planner's audit regime instead of behind
  * an opaque `ExistingRDD`: `explain` shows a named `GraftAvroScan`
  * with its projected columns, Catalyst prunes the reader schema
  * through `SupportsPushDownRequiredColumns` (a `.select` above the
  * scan makes Avro's resolving decoder SKIP the unprojected bytes —
  * no explicit `columns` parameter needed), split sizing follows
  * `spark.sql.files.maxPartitionBytes` at PLAN time like every file
  * source, per-scan input metrics appear in the UI, and the scan
  * reports its byte size so join-side broadcast decisions see real
  * numbers.
  *
  * Read through [[AvroIo.readAvro]] (which routes here) or directly:
  * `spark.read.format("graft-avro").load(dir)`. Options:
  * `conflicts` = drop|stringify (irreconcilable generation re-types),
  * `maxSplitBytes` = sub-file split size override. */
final class AvroDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-avro"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-avro: no path given")
    p
  }

  private def conflicts(options: CaseInsensitiveStringMap): PsIO.ConflictPolicy =
    options.getOrDefault(AvroDataSource.ConflictsOption, "drop") match {
      case "drop"      => PsIO.DropConflicts
      case "stringify" => PsIO.StringifyConflicts
      case other => throw new IllegalArgumentException(
        s"graft-avro: unknown conflicts policy '$other' (drop|stringify)")
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroIo.planRead(SparkSession.active, path(options), conflicts(options)).unified

  // a user-supplied .schema(...) becomes the pinned target directly
  // (every writer generation must project onto it along the lattice);
  // without one, inferSchema unifies the directory's writer schemas —
  // which requires at least one file. The explicit schema is how a
  // STREAM starts against a still-empty landing zone.
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new AvroTable(path(opts), conflicts(opts),
      Option(opts.get(AvroDataSource.SplitOption)).map(_.toLong),
      Option(opts.get(AvroDataSource.MaxFilesOption)).map(_.toInt),
      Option(opts.get(AvroDataSource.LogCompactOption)).map(_.toInt)
        .getOrElse(AvroDataSource.DefaultLogCompactInterval),
      Option(opts.get(AvroDataSource.MaxFileAgeOption)).map(_.toLong),
      schema)
  }
}

object AvroDataSource {
  val ConflictsOption = "conflicts"
  val SplitOption = "maxSplitBytes"
  val MaxFilesOption = "maxFilesPerTrigger"
  val CodecOption = "codec"
  /** Metadata-log roll-up cadence, shared by BOTH streaming faces: the
    * SOURCE snapshots its per-batch file log every N batches (restart
    * reads one snapshot + a bounded tail instead of one file per batch
    * ever logged), and the SINK rolls its per-epoch commit markers into
    * a high-water file every N epochs (readers stop listing O(epochs)
    * markers per scan). Default 10; `0` disables compaction. */
  val LogCompactOption = "logCompactInterval"
  val DefaultLogCompactInterval = 10
  /** Optional retention horizon for the streaming SOURCE's seen-file
    * set: files whose zone mtime is older than this many ms are never
    * ingested, and compaction purges them from the snapshot and from
    * driver memory — bounding both by the zone's live window instead
    * of its full history. Unset = keep every path forever. */
  val MaxFileAgeOption = "maxFileAgeMs"
}

private[sources] final class AvroTable(
    path: String, conflicts: PsIO.ConflictPolicy,
    maxSplitBytes: Option[Long], maxFilesPerTrigger: Option[Int],
    logCompactInterval: Int, maxFileAgeMs: Option[Long],
    tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-avro $path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(path, conflicts, maxSplitBytes, maxFilesPerTrigger,
      logCompactInterval, maxFileAgeMs, tableSchema)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroWriteBuilder(path, info)
}

private[sources] final class AvroWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  // SaveMode.Overwrite plans OverwriteByExpression(true), which the
  // engine lowers to truncate-then-append on this builder
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  // canonical codec name, validated loudly on the driver (including
  // the zstd-jni presence gate) before any task launches
  private def codecName: String = {
    val c = info.options.getOrDefault(AvroDataSource.CodecOption, "deflate")
      .toLowerCase
    AvroIo.codecFor(c): Unit
    c
  }

  override def build(): Write = new Write {
    // `df.write.format("graft-avro").mode("append"|"overwrite")`, and
    // AvroIo.toAvro, which is that overwrite
    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
      new AvroBatchWrite(path, info.schema(), codecName, overwrite)
    // the STABLE streaming query id (persisted in the checkpoint, so
    // restarts of the same query share it while a fresh checkpoint
    // gets a new one) — it namespaces the epoch protocol below
    override def toStreaming: StreamingWrite =
      new AvroStreamingWrite(path, info.queryId(), info.schema(), codecName,
        Option(info.options.get(AvroDataSource.LogCompactOption)).map(_.toInt)
          .getOrElse(AvroDataSource.DefaultLogCompactInterval))
  }
}

/** Batch WRITE face (`df.write.format("graft-avro")`, and
  * [[AvroIo.toAvro]], which is its overwrite): the one Avro batch
  * writer. Two-phase commit — tasks never write final part files
  * directly, since a mid-job failure or a speculative/retried attempt
  * would otherwise leave a partial or mixed file set that readers
  * cannot tell from complete output:
  *
  *  - every task attempt writes a dot-prefixed file (invisible to
  *    [[AvroIo.readAvro]]'s listing) named by job, partition and task
  *    — retried and speculative attempts can never collide or mix;
  *  - the engine delivers exactly ONE commit message per partition;
  *    the driver commit renames exactly those attempts to visible
  *    part names and aborted/orphaned attempts are swept or vacuumed;
  *  - APPEND targets the zone directly and becomes visible
  *    ATOMICALLY through the SAME marker gate as the streaming sink:
  *    parts land as `part-q<jobId>-e0-p<N>.avro` (gated names) and
  *    the job's ONE epoch marker commits last, tmp-then-rename — a
  *    driver death mid-commit leaves only unmarked (invisible,
  *    vacuumable) files, never a torn half-append (part names carry
  *    the job UUID, so repeated appends never collide — the
  *    landing-zone posture, a new writer-schema generation per append
  *    if the schema evolved);
  *  - OVERWRITE stages everything in a job-unique `._tmp_` sibling dir,
  *    parts named `part-<jobId>-p<N>.avro`, and swaps it in via
  *    [[AvroIo.jobCommitSwap]] — the previous generation moves aside
  *    before the swap, so the target is only ever the previous
  *    generation or the complete new one;
  *  - abort (the engine calls it when the job OR commit throws) deletes
  *    the staged dir only when the job failed before commit started,
  *    re-sweeping the tmp dirs killed stragglers recreate
  *    ([[AvroIo.cleanupFailedWrite]]). Once commit has started the
  *    staged dir holds the complete new generation and stays: the
  *    commit exception names it. */
private[sources] final class AvroBatchWrite(
    path: String, schema: StructType, codec: String, overwrite: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private val avroJson = AvroIo.avroJsonFor(schema) // loud on bad types, driver-side
  // the FULL uuid: append part names carry it forever, and a truncated
  // id's birthday collision would silently overwrite an earlier
  // append's part on a posix rename (and cross-delete a concurrent
  // job's attempts in the orphan sweep)
  private val jobId = java.util.UUID.randomUUID().toString
  private val conf = new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)
  private val target = new HPath(path)
  // append writes attempts beside the data; overwrite stages in a
  // sibling temp dir and swaps on commit
  private val writeDir: HPath =
    if (overwrite) new HPath(target.getParent, s"._tmp_${target.getName}_$jobId")
    else target

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val fs = writeDir.getFileSystem(conf.value)
    fs.mkdirs(writeDir)
    new AvroBatchWriterFactory(writeDir.toString, jobId, schema, avroJson,
      codec, conf)
  }

  // set when commit starts: from then on the staged overwrite dir is a
  // complete generation that abort must keep
  private var committing = false

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    committing = true
    val fs = writeDir.getFileSystem(conf.value)
    // append parts use the sink's GATED name shape: invisible to every
    // reader until this job's one epoch marker lands (atomic append);
    // overwrite parts are plain names inside a staged dir — the swap
    // is their atomicity
    messages.collect { case m: AvroEpochFileMessage if m.attempt != null => m }
      .foreach { m =>
        val src = new HPath(m.attempt)
        val dst =
          if (overwrite) new HPath(writeDir, f"part-$jobId-p${m.partition}%05d.avro")
          else new HPath(writeDir, f"part-q$jobId-e0-p${m.partition}%05d.avro")
        require(fs.rename(src, dst),
          s"graft-avro batch write: commit rename failed: $src -> $dst")
      }
    if (overwrite)
      AvroIo.jobCommitSwap(fs, writeDir, target, "graft-avro batch write")
    else {
      val marker = new HPath(
        new HPath(new HPath(writeDir, AvroIo.SinkCommitsDir), jobId), "0")
      fs.mkdirs(marker.getParent)
      val tmpMarker = new HPath(marker.getParent, ".0.tmp")
      fs.create(tmpMarker, true).close()
      require(fs.rename(tmpMarker, marker) || fs.exists(marker),
        s"graft-avro batch write: marker commit failed for job $jobId")
      // sweep THIS job's orphaned attempts (speculative losers whose
      // abort never ran); other writers' attempts are not ours to judge
      fs.listStatus(writeDir)
        .filter(s => s.isFile && s.getPath.getName.startsWith(s".attempt-$jobId-"))
        .foreach(s => fs.delete(s.getPath, false): Unit)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = writeDir.getFileSystem(conf.value)
    if (overwrite)
      AvroIo.cleanupFailedWrite(fs, writeDir, jobCompleted = committing,
        jobStarted = true)
    else {
      messages.foreach {
        case m: AvroEpochFileMessage if m.attempt != null =>
          val p = new HPath(m.attempt)
          if (fs.exists(p)) fs.delete(p, false): Unit
        case _ => ()
      }
      // attempts from tasks that died before producing a message
      if (fs.exists(writeDir))
        fs.listStatus(writeDir)
          .filter(s => s.isFile && s.getPath.getName.startsWith(s".attempt-$jobId-"))
          .foreach(s => fs.delete(s.getPath, false): Unit)
    }
  }
}

private[sources] final class AvroBatchWriterFactory(
    dir: String, jobId: String, schema: StructType, avroJson: String,
    codec: String,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fromCatalyst =
        CatalystTypeConverters.createToScalaConverter(schema)
      // lazy-create: an empty partition must not litter the target
      // with zero-row container files
      private var w: AvroIo.AvroRowFileWriter = _
      private var attempt: HPath = _
      override def write(r: InternalRow): Unit = {
        if (w == null) {
          attempt = new HPath(dir,
            f".attempt-$jobId-p$partitionId%05d-t$taskId.avro")
          w = new AvroIo.AvroRowFileWriter(schema, avroJson, attempt,
            conf.value, codec)
        }
        w.append(fromCatalyst(r).asInstanceOf[Row])
      }
      override def commit(): WriterCommitMessage = {
        if (w != null) w.close()
        AvroEpochFileMessage(if (attempt == null) null else attempt.toString,
          partitionId)
      }
      override def abort(): Unit = if (w != null) w.abort()
      override def close(): Unit = ()
    }
}

/** Streaming SINK for the landing zone — the engine-side version of
  * what a Kafka-connect Avro sink does: each epoch's rows land as one
  * container file per partition. Exactly-once across failures and
  * restarts by construction:
  *
  *  - tasks write dot-prefixed attempt files (invisible to
  *    [[AvroIo.readAvro]]'s listing) named by query+epoch+partition;
  *  - the driver commit renames attempts to DETERMINISTIC visible
  *    names (`part-q<queryId>-e<epoch>-p<partition>.avro`) and then
  *    writes an epoch marker under `_graft_commits/<queryId>/`
  *    (tmp-then-rename);
  *  - a replayed epoch whose marker exists discards its attempts
  *    wholesale; a replay after a crash MID-commit first deletes the
  *    prior execution's partial files for that (query, epoch), so
  *    exactly one execution's files ever win — replays may
  *    repartition, and mixing two executions' partitions would
  *    duplicate or lose rows.
  *
  * Everything is namespaced by the STABLE streaming query id: epochs
  * restart at 0 for every fresh checkpoint, so without the namespace a
  * second query (or a re-checkpointed restart) writing the same zone
  * would collide with the first one's markers — silently discarding
  * its own epochs as "already committed" or deleting the other query's
  * files as "partial". With it, any number of producers can share a
  * zone, exactly like multiple Kafka-connect sinks do.
  *
  * Readers never see an uncommitted epoch: [[AvroIo]]'s listing drops
  * sink-pattern files whose (queryId, epoch) marker is absent, so the
  * crash window between a partial commit and its replay is invisible
  * to scans and the replay's delete-and-redo touches only files no
  * reader has listed. */
private[sources] final class AvroStreamingWrite(
    path: String, queryId: String, schema: StructType, codec: String,
    logCompactInterval: Int)
    extends StreamingWrite {
  private val avroJson = AvroIo.avroJsonFor(schema) // loud on bad types, driver-side
  private val conf = new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new AvroStreamingWriterFactory(path, queryId, schema, avroJson, codec, conf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val zone = new HPath(path)
    val fs = zone.getFileSystem(conf.value)
    val marker = new HPath(
      new HPath(new HPath(zone, AvroIo.SinkCommitsDir), queryId),
      epochId.toString)
    val attempts = messages.collect {
      case m: AvroEpochFileMessage if m.attempt != null => m
    }
    // post-commit replay check: the marker OR the rolled-up high water
    // vouches for the epoch. The hw consult matters: once a roll-up
    // subsumes an epoch's marker, a replay of that epoch (the engine's
    // commit log can lag the sink's) must still classify as
    // post-commit — taking the crash-mid-commit path instead would
    // delete files readers already list as committed.
    val rolledUp = fs.exists(marker.getParent) &&
      fs.listStatus(marker.getParent).exists(s =>
        AvroIo.sinkHwEpoch(s.getPath.getName).exists(_ >= epochId))
    if (fs.exists(marker) || rolledUp) {
      // post-commit replay: the epoch is already durable — this
      // execution's files are duplicates by definition
      attempts.foreach { m =>
        val p = new HPath(m.attempt)
        if (fs.exists(p)) fs.delete(p, false): Unit
      }
      return
    }
    if (fs.exists(zone)) {
      // crash-mid-commit replay: remove the prior execution's partial
      // output wholesale (see scaladoc — executions may repartition)
      fs.listStatus(zone)
        .filter(s => s.isFile &&
          s.getPath.getName.startsWith(s"part-q$queryId-e$epochId-"))
        .foreach(s => fs.delete(s.getPath, false): Unit)
    }
    attempts.foreach { m =>
      val src = new HPath(m.attempt)
      val dst = new HPath(zone,
        f"part-q$queryId-e$epochId-p${m.partition}%05d.avro")
      require(fs.rename(src, dst),
        s"graft-avro sink: epoch-commit rename failed: $src -> $dst")
    }
    // sweep this epoch's orphaned attempts (speculative losers, tasks
    // killed between create and task-commit) before they accumulate
    if (fs.exists(zone)) {
      fs.listStatus(zone)
        .filter(s => s.isFile &&
          s.getPath.getName.startsWith(s".attempt-q$queryId-e$epochId-"))
        .foreach(s => fs.delete(s.getPath, false): Unit)
    }
    fs.mkdirs(marker.getParent)
    val tmpMarker = new HPath(marker.getParent, s".$epochId.tmp")
    fs.create(tmpMarker, true).close()
    require(fs.rename(tmpMarker, marker) || fs.exists(marker),
      s"graft-avro sink: marker commit failed for epoch $epochId")
    // Roll the per-epoch markers up every logCompactInterval epochs:
    // micro-batch epochs commit strictly in order, so this epoch being
    // durable means every epoch below it is too — one `hw-<epoch>`
    // file subsumes them all and readers stop listing O(total epochs)
    // markers per scan. A NEW hw file lands first (fresh name, tmp-
    // then-rename — never delete-then-replace, which would briefly
    // un-commit every rolled-up epoch on a crash) and only then are
    // the subsumed markers and older hw files pruned; prune failures
    // are harmless (vacuumAvro sweeps below the high water too).
    if (logCompactInterval > 0 && (epochId + 1) % logCompactInterval == 0) {
      val qDir = marker.getParent
      val tmpHw = new HPath(qDir, s".hw-$epochId.tmp")
      fs.create(tmpHw, true).close()
      val hw = new HPath(qDir, s"hw-$epochId")
      require(fs.rename(tmpHw, hw) || fs.exists(hw),
        s"graft-avro sink: high-water commit failed for epoch $epochId")
      fs.listStatus(qDir).filter(_.isFile).foreach { s =>
        val n = s.getPath.getName
        // strictly BELOW the current epoch: its own marker survives
        // until the next roll-up (defense in depth beside the hw
        // consult above — a replay of THIS epoch stays classifiable
        // as post-commit even if the hw listing hiccups)
        val stale = n.toLongOption.exists(_ < epochId) ||
          AvroIo.sinkHwEpoch(n).exists(_ < epochId)
        if (stale)
          try fs.delete(s.getPath, false): Unit
          catch { case _: java.io.IOException => () }
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(path).getFileSystem(conf.value)
    messages.foreach {
      case m: AvroEpochFileMessage if m.attempt != null =>
        val p = new HPath(m.attempt)
        if (fs.exists(p)) fs.delete(p, false): Unit
      case _ => ()
    }
  }
}

/** attempt == null marks an empty partition (no file created). */
private[sources] final case class AvroEpochFileMessage(
    attempt: String, partition: Int) extends WriterCommitMessage

private[sources] final class AvroStreamingWriterFactory(
    path: String, queryId: String, schema: StructType, avroJson: String,
    codec: String,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fromCatalyst =
        CatalystTypeConverters.createToScalaConverter(schema)
      // lazy-create: an empty partition must not litter the zone with
      // zero-row container files every trigger
      private var w: AvroIo.AvroRowFileWriter = _
      private var attempt: HPath = _
      override def write(r: InternalRow): Unit = {
        if (w == null) {
          attempt = new HPath(path,
            f".attempt-q$queryId-e$epochId-p$partitionId%05d-t$taskId.avro")
          w = new AvroIo.AvroRowFileWriter(schema, avroJson, attempt,
            conf.value, codec)
        }
        w.append(fromCatalyst(r).asInstanceOf[Row])
      }
      override def commit(): WriterCommitMessage = {
        if (w != null) w.close()
        AvroEpochFileMessage(if (attempt == null) null else attempt.toString,
          partitionId)
      }
      override def abort(): Unit = if (w != null) w.abort()
      override def close(): Unit = ()
    }
}

private[sources] final class AvroScanBuilder(
    path: String, conflicts: PsIO.ConflictPolicy,
    maxSplitBytes: Option[Long], maxFilesPerTrigger: Option[Int],
    logCompactInterval: Int, maxFileAgeMs: Option[Long],
    full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  // Catalyst hands back the pruned subset of the full schema (possibly
  // reordered); empty pruning (count-only scans) keeps the narrowest
  // column (by Catalyst defaultSize — an int/long over a nested payload
  // blob) so each record still decodes exactly once at minimal cost
  override def pruneColumns(requiredSchema: StructType): Unit =
    required =
      if (requiredSchema.isEmpty && full.nonEmpty)
        StructType(Seq(full.fields.minBy(_.dataType.defaultSize)))
      else requiredSchema
  // Accept the conjuncts the decode-time evaluator can reproduce
  // EXACTLY (AvroFilters' supported subset), but hand every conjunct
  // back as residual: Spark re-applies them above the scan, so the
  // decode-time skip can only remove rows the residual Filter would
  // also remove — pushdown here is a row-materialization saving
  // (skip the Catalyst conversion + downstream processing of rows a
  // selective predicate rejects), never a correctness surface. Avro
  // blocks carry no stats, so unlike parquet there is nothing coarser
  // than per-record skipping to prune.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => AvroFilters.compile(f, full).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  // Per-task decode cap: a global limit of N needs at most N rows FROM
  // EACH partition, so every split stops decoding (and seeking blocks)
  // once it has emitted N. Returning false keeps Spark's own limit
  // above the scan — this is an early-termination saving, not a
  // semantics change. Catalyst only pushes a limit when no Filter
  // stands between it and the scan, so the cap never under-delivers
  // rows a residual predicate would still need to sieve.
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }
  override def build(): Scan =
    new AvroScan(path, conflicts, maxSplitBytes, maxFilesPerTrigger,
      logCompactInterval, maxFileAgeMs, required, pushed, limit)
}

private[sources] final class AvroScan(
    path: String, conflicts: PsIO.ConflictPolicy,
    maxSplitBytes: Option[Long], maxFilesPerTrigger: Option[Int],
    logCompactInterval: Int, maxFileAgeMs: Option[Long],
    required: StructType, pushed: Array[Filter], limit: Option[Int])
    extends Scan with Batch with SupportsReportStatistics {

  // planned once per scan, driver-side; the header job behind planRead
  // is session-cached, so re-planning an unchanged directory is
  // metadata-only
  private lazy val plan = AvroIo.planRead(SparkSession.active, path, conflicts)

  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftAvroScan $path columns=[${required.fieldNames.mkString(", ")}]" +
      (if (pushed.isEmpty) ""
       else s" PushedFilters=[${pushed.mkString(", ")}]") +
      limit.map(n => s" PushedLimit=$n").getOrElse("")
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val splitBytes = maxSplitBytes.getOrElse(SQLConf.get.filesMaxPartitionBytes)
    AvroIo.computeSplits(plan, splitBytes).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroPartitionReaderFactory(plan.genJsons, required, pushed, limit,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(plan.files.map(_._2).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new AvroMicroBatchStream(path, maxSplitBytes, maxFilesPerTrigger,
      logCompactInterval, maxFileAgeMs, required, pushed, checkpointLocation)
}

/** Streaming face over the landing zone: each trigger picks up files
  * that appeared since the last one (the Kafka-connect sink cadence —
  * files are APPENDED, never rewritten, and the two-phase write commit
  * guarantees a visible file is complete). Offsets are batch ordinals;
  * the files belonging to each batch are persisted as a tiny log under
  * the query's checkpoint (`graft-avro-files/<batch>`, one
  * `path\tlen\tmtime` line per file, written tmp-then-rename), so a
  * restarted query REPLAYS an uncommitted batch over exactly the files
  * it originally contained — exactly-once, the FileStreamSource
  * contract. Every `logCompactInterval` batches the log rolls up into
  * one snapshot and the per-batch files below it are pruned, so a
  * restart reads ONE snapshot plus a bounded tail — flat in trigger
  * count; `maxFileAgeMs` optionally bounds the seen-file set by the
  * zone's live window (files older than the horizon are never
  * ingested and their log entries are purged at roll-up).
  *
  * The unified schema is pinned when the stream STARTS (inferSchema
  * over the files present, or the user's explicit `.schema(...)` —
  * which is also how a stream starts against a still-empty zone).
  * Files arriving from KNOWN generations, or from new generations
  * whose columns project losslessly onto the pinned schema (absent
  * columns null-fill, widths widen), decode normally; a new generation
  * whose type CONFLICTS with the pinned schema fails the batch loudly
  * — re-baseline by restarting the stream, which re-infers.
  *
  * Scale posture: per trigger, one small distributed header job over
  * only the NEW files, then the same sync-marker sub-file splits as
  * the batch read (a fat straggler file still decodes in parallel).
  * `maxFilesPerTrigger` bounds a backlogged zone's first batch. */
private[sources] final class AvroMicroBatchStream(
    path: String, maxSplitBytes: Option[Long], maxFilesPerTrigger: Option[Int],
    logCompactInterval: Int, maxFileAgeMs: Option[Long],
    required: StructType, pushed: Array[Filter], checkpointLocation: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}
  import org.apache.hadoop.fs.{Path => HPath}

  private val spark = SparkSession.active
  private val hconf = spark.sparkContext.hadoopConfiguration
  private val logDir = new HPath(checkpointLocation, "graft-avro-files")
  // the checkpoint may live on a different filesystem than the data
  // (hdfs checkpoint over an s3 zone): bind each side to its OWN fs
  private val logFs = logDir.getFileSystem(hconf)

  // Replay state, rebuilt from the log on (re)start. `batches` holds
  // the file lists the engine may still REPLAY (batches the query has
  // not committed — commit() drops entries the moment their offsets
  // are durable downstream); `seen` (path -> zone mtime, -1 unknown)
  // spans every ingested file so re-listing never re-ingests;
  // `highWater` is the last logged ordinal, independent of the map so
  // dropping committed batches cannot roll offsets backwards.
  private val batches = scala.collection.mutable.TreeMap[Long, Seq[(String, Long)]]()
  private val seen = scala.collection.mutable.HashMap[String, Long]()
  private var highWater = -1L

  private def readFully(p: HPath): String = AvroIo.readSmallFile(logFs, p)

  // per-batch log lines are `path\tlen\tmtime`; a 2-field line is a
  // pre-compaction checkpoint (no mtime recorded -> -1, never purged)
  private def parseBatchLines(text: String): Seq[(String, Long, Long)] =
    text.split("\n").iterator.filter(_.nonEmpty).map { l =>
      val t = l.split("\t")
      (t(0), t(1).toLong, if (t.length > 2) t(2).toLong else -1L)
    }.toSeq

  // (Re)start: read the LATEST compact snapshot (one sequential file
  // holding the whole seen-set plus every still-replayable batch's
  // file list), then only the per-batch logs ABOVE it — restart cost
  // is O(snapshot + compactInterval), not O(total batches ever). A
  // crash between snapshot write and log pruning just leaves stale
  // per-batch logs <= the snapshot id, skipped here.
  locally {
    logFs.mkdirs(logDir)
    val entries = logFs.listStatus(logDir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
    val latestCompact = entries
      .flatMap(s => AvroMicroBatchStream.compactId(s.getPath.getName)
        .map((_, s.getPath)))
      .sortBy(_._1).lastOption
    latestCompact.foreach { case (cid, p) =>
      val lines = readFully(p).split("\n").iterator.filter(_.nonEmpty)
      val header = lines.next().split("\t")
      require(header(0) == AvroMicroBatchStream.CompactMagic,
        s"graft-avro stream: unrecognized snapshot header in $p")
      highWater = header(1).toLong
      val byBatch = scala.collection.mutable.TreeMap[Long, List[(String, Long)]]()
      lines.foreach { l =>
        val t = l.split("\t")
        t(0) match {
          case "S" => seen.put(t(1), t(2).toLong): Unit
          case "B" =>
            val id = t(1).toLong
            byBatch.put(id, (t(2), t(3).toLong) :: byBatch.getOrElse(id, Nil))
            seen.put(t(2), t(4).toLong): Unit
          case other => throw new IllegalStateException(
            s"graft-avro stream: unrecognized snapshot line tag '$other' in $p")
        }
      }
      byBatch.foreach { case (id, fs) => batches.put(id, fs.reverse) }
      require(cid <= highWater,
        s"graft-avro stream: snapshot $p names batches above its own high water")
    }
    val floor = latestCompact.map(_._1).getOrElse(-1L)
    entries
      .flatMap(s => s.getPath.getName.toLongOption.map((_, s.getPath)))
      .filter(_._1 > floor).sortBy(_._1)
      .foreach { case (id, p) =>
        val files = parseBatchLines(readFully(p))
        batches.put(id, files.map { case (f, l, _) => (f, l) })
        files.foreach { case (f, _, m) => seen.put(f, m) }
        highWater = math.max(highWater, id)
      }
  }
  private def maxBatch: Long = highWater

  private def offsetOf(b: Long): Offset = new Offset {
    override def json(): String = s"""{"batch":$b}"""
  }
  private def batchOf(o: Offset): Long = {
    val j = o.json()
    val m = """"batch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(j)
    require(m.isDefined, s"graft-avro stream: malformed offset $j")
    m.get.group(1).toLong
  }

  override def initialOffset(): Offset = offsetOf(-1L)
  override def deserializeOffset(json: String): Offset = {
    val m = """"batch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
    require(m.isDefined, s"graft-avro stream: malformed offset $json")
    offsetOf(m.get.group(1).toLong)
  }

  /** Durably assign the next batch ordinal to `files` (tmp-then-rename:
    * a driver killed mid-write must never leave a half batch log that a
    * restart would replay as truth), then roll the log up every
    * `logCompactInterval` batches. Caller holds the lock. */
  private def logBatch(files: Seq[(String, Long, Long)]): Unit = {
    val id = maxBatch + 1
    val tmp = new HPath(logDir, s".${id}.tmp")
    val out = logFs.create(tmp, true)
    try out.write(files.map { case (f, l, m) => s"$f\t$l\t$m" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val committed = new HPath(logDir, id.toString)
    require(logFs.rename(tmp, committed),
      s"graft-avro stream: batch-log commit failed: $tmp -> $committed")
    batches.put(id, files.map { case (f, l, _) => (f, l) })
    files.foreach { case (f, _, m) => seen.put(f, m) }
    highWater = id
    if (logCompactInterval > 0 && (id + 1) % logCompactInterval == 0)
      compactLog(id)
  }

  /** Roll every log entry <= `upTo` into ONE snapshot file
    * (`<upTo>.compact`, tmp-then-rename), then prune the superseded
    * per-batch logs and older snapshots. The snapshot holds the full
    * per-batch file lists for batches the engine may still replay
    * (everything `commit()` has not dropped) and collapses committed
    * batches to bare seen-set entries — so a restart does ONE
    * sequential read plus at most `logCompactInterval` tail logs,
    * flat in the stream's trigger count. With `maxFileAgeMs` set,
    * seen entries whose zone mtime fell behind the horizon are purged
    * from the snapshot AND from driver memory (the pickup filter in
    * [[unseenFiles]] skips such files by the same cutoff, so purging
    * them can never re-ingest — modulo zone-vs-driver clock skew,
    * which the caller's margin must absorb). Prune failures are
    * harmless: stale logs below a snapshot are ignored on restart. */
  private def compactLog(upTo: Long): Unit = {
    val cutoff = maxFileAgeMs.map(System.currentTimeMillis() - _)
    val sb = new StringBuilder
    sb.append(s"${AvroMicroBatchStream.CompactMagic}\t$upTo\n")
    val replayable = scala.collection.mutable.HashSet[String]()
    batches.foreach { case (bid, fs) =>
      fs.foreach { case (f, l) =>
        replayable.add(f): Unit
        sb.append(s"B\t$bid\t$f\t$l\t${seen.getOrElse(f, -1L)}\n")
      }
    }
    seen.foreach { case (f, m) =>
      if (!replayable(f) && !cutoff.exists(c => m >= 0 && m < c))
        sb.append(s"S\t$f\t$m\n")
    }
    val tmp = new HPath(logDir, s".${upTo}.compact.tmp")
    val out = logFs.create(tmp, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new HPath(logDir, s"$upTo.compact")
    require(logFs.rename(tmp, dest),
      s"graft-avro stream: snapshot commit failed: $tmp -> $dest")
    cutoff.foreach(c =>
      seen.filterInPlace((f, m) => replayable(f) || m < 0 || m >= c))
    logFs.listStatus(logDir).foreach { s =>
      val n = s.getPath.getName
      val stale = n.toLongOption.exists(_ <= upTo) ||
        AvroMicroBatchStream.compactId(n).exists(_ < upTo)
      if (stale)
        try logFs.delete(s.getPath, false): Unit
        catch { case _: java.io.IOException => () }
    }
  }

  // listFilesFor tolerates a zone that does not exist YET (explicit
  // user schema, writer not live); name-sorted so a capped pickup is
  // deterministic. The maxFileAge horizon applies HERE as well as at
  // purge time: a file landing with an mtime already behind the
  // horizon (rsync'd with preserved stamps) is deliberately never
  // ingested — the retention contract, not a race.
  private def unseenFiles(): Seq[(String, Long, Long)] = {
    val cutoff = maxFileAgeMs.map(System.currentTimeMillis() - _)
    AvroIo.listFilesFor(spark, path)
      .collect { case (f, len, m)
        if !seen.contains(f) && !cutoff.exists(m < _) => (f, len, m) }
  }

  // ---- admission control (SupportsAdmissionControl) -----------------
  // The cap must live here, not in a no-arg latestOffset: the engine's
  // Trigger.AvailableNow machinery captures the full backlog target via
  // reportLatestOffset and then drains it through latestOffset(start,
  // limit) one capped batch per trigger — a cap hidden inside a no-arg
  // latestOffset would make AvailableNow stop after ONE capped batch.

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n.max(1)))
      .getOrElse(ReadLimit.allAvailable())

  /** Progress-metrics face: the latest LOGGED ordinal, side-effect
    * free. The engine calls this every trigger for reporting — it must
    * not list the zone (a second LIST per trigger on an object store)
    * nor durably log anything (the first call against a 100k-file
    * backlog would stall the trigger on thousands of checkpoint
    * writes). All logging happens in latestOffset/prepare. */
  override def reportLatestOffset(): Offset = synchronized(offsetOf(maxBatch))

  // Trigger.AvailableNow: the engine consults the source DIRECTLY when
  // it implements SupportsTriggerAvailableNow (the wrapper it applies
  // otherwise returns the whole captured backlog as ONE batch,
  // bypassing admission control). prepare() snapshots the backlog's
  // FILE LIST in memory, chunked at the cap; latestOffset then logs
  // one chunk per trigger (one checkpoint write per trigger — never an
  // eager thousands-of-writes sweep) and reports drained when the
  // snapshot is spent — files landing mid-run wait for the next run.
  private var availableNowMode = false
  private var pendingSnapshot: List[Seq[(String, Long, Long)]] = Nil
  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    val cap = maxFilesPerTrigger.map(_.max(1)).getOrElse(Int.MaxValue)
    pendingSnapshot = unseenFiles().grouped(cap).toList
    availableNowMode = true
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val startB = batchOf(start)
    if (maxBatch > startB) offsetOf(startB + 1) // drain logged batches one per trigger
    else if (availableNowMode) pendingSnapshot match {
      case next :: rest =>
        logBatch(next)
        pendingSnapshot = rest
        offsetOf(maxBatch)
      case Nil => offsetOf(startB) // snapshot drained: report no new data
    }
    else {
      val cap = limit match {
        case m: ReadMaxFiles => m.maxFiles()
        case _ => Int.MaxValue
      }
      val take = unseenFiles().take(cap)
      if (take.nonEmpty) logBatch(take)
      offsetOf(maxBatch)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-avro stream: latestOffset(Offset, ReadLimit) is the entry point")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (batchOf(start), batchOf(end))
    if (e <= s) return Array.empty
    val files = synchronized {
      batches.rangeImpl(Some(s + 1), Some(e + 1)).values.flatten.toSeq
    }
    // every logged batch holds >=1 file, so an empty range here means
    // the query's offset log and our batch log disagree (a partially
    // wiped checkpoint) — replaying it as zero rows would be silent
    // data loss
    require(files.nonEmpty,
      s"graft-avro stream: no batch log for offsets ($s, $e] under " +
        s"$logDir — the checkpoint is missing its file log; " +
        "start the query from a fresh checkpoint")
    // one small header job over only this range's files (headers are
    // deliberately uncached here — see AvroIo.headersFor)
    val sconf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val headers = AvroIo.headersFor(spark, files, sconf)
    val splitBytes = maxSplitBytes
      .getOrElse(SQLConf.get.filesMaxPartitionBytes).max(1L)
    headers.flatMap { case (f, len, schemaJson, _) =>
      (0L until len by splitBytes).map(st =>
        AvroStreamSplit(f, len, st, math.min(st + splitBytes, len), schemaJson))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroStreamReaderFactory(required, pushed,
      new org.apache.spark.util.SerializableConfiguration(hconf))

  // The engine commits a batch once its offsets are durable downstream
  // — it will never replay it, so its FILE LIST is dead replay state:
  // drop it from the in-memory map now (the next snapshot collapses it
  // on disk to bare seen-set entries). The PATHS stay in `seen` — that
  // is what stops re-ingestion — bounded by maxFileAgeMs when set,
  // else O(total files ever ingested): the same order as the zone's
  // own listing.
  override def commit(end: Offset): Unit = synchronized {
    val e = batchOf(end)
    val done = batches.rangeImpl(None, Some(e + 1)).keys.toList
    done.foreach(batches.remove)
  }
  override def stop(): Unit = ()
}

private[sources] object AvroMicroBatchStream {
  /** First line of a log snapshot; versioned so a future layout change
    * fails loudly instead of misparsing an old checkpoint. */
  val CompactMagic = "graft-avro-compact-v1"
  def compactId(name: String): Option[Long] =
    if (name.endsWith(".compact")) name.stripSuffix(".compact").toLongOption
    else None
}

/** One streaming read task's byte range; carries its file's writer
  * schema JSON directly (a stream's generations are discovered batch by
  * batch, so there is no stream-lifetime schema array to index into —
  * and a handful of KB per task is noise next to the block bytes). */
private[sources] final case class AvroStreamSplit(
    path: String, len: Long, start: Long, end: Long, writerJson: String)
    extends InputPartition

private[sources] final class AvroStreamReaderFactory(
    target: StructType, pushed: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[AvroStreamSplit]
    new AvroRowPartitionReader(
      new AvroIo.SplitRows(
        AvroIo.AvroSplit(sp.path, sp.len, sp.start, sp.end, 0),
        sp.writerJson, target, conf),
      target, pushed, Int.MaxValue)
  }
}

private[sources] final class AvroPartitionReaderFactory(
    genJsons: Array[String], target: StructType, pushed: Array[Filter],
    limit: Option[Int],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[AvroIo.AvroSplit]
    new AvroRowPartitionReader(
      new AvroIo.SplitRows(sp, genJsons(sp.schemaIdx), target, conf),
      target, pushed, limit.getOrElse(Int.MaxValue))
  }
}

/** The ONE filter-skipping, limit-capped reader over a split's rows —
  * shared by the batch and streaming scan paths so the decode-time
  * skip (whose exactness the whole pushdown design rests on) cannot
  * drift between them. Rows arrive CATALYST-native from SplitRows
  * (one materialization per record); the pushed-filter skip runs on
  * the internal row before anything downstream touches it. */
private[sources] final class AvroRowPartitionReader(
    rows: AvroIo.SplitRows, target: StructType, pushed: Array[Filter],
    cap: Int) extends PartitionReader[InternalRow] {
  // compiled once per task against the rows' actual layout; a pushed
  // conjunct whose column fell out of `target` (cannot happen while
  // every conjunct stays residual, but defensively) just doesn't
  // skip — correctness lives in the residual Filter above the scan
  private val evs = pushed.flatMap(AvroFilters.compile(_, target))
  private var cur: InternalRow = _
  private var emitted = 0
  override def next(): Boolean = {
    // a global limit of N needs at most N rows from each partition:
    // stop decoding (and close the stream) once this task emitted N
    if (emitted >= cap) { rows.close(); return false }
    while (rows.hasNext) {
      val r = rows.next()
      // the residual Filter keeps a row iff every conjunct is TRUE,
      // so skipping on FALSE *or* UNKNOWN matches it exactly
      var keep = true
      var i = 0
      while (keep && i < evs.length) {
        if (evs(i)(r) != AvroFilters.True) keep = false
        i += 1
      }
      if (keep) {
        cur = r
        emitted += 1
        return true
      }
    }
    false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = rows.close()
}

/** Exact three-valued (SQL Kleene) evaluation of pushed source filters
  * over the Avro scan's CATALYST rows, used to skip downstream
  * processing of rows a selective predicate rejects. Only shapes
  * whose Spark semantics this evaluator reproduces bit-exactly
  * compile; anything else stays residual-only. The subtleties
  * mirrored here: Spark compares float/double nan-safely (NaN == NaN,
  * NaN greater than everything, -0.0 == 0.0 — `ctx.genComp`), strings
  * in UTF-8 BYTE order (UTF8String's own binary comparison, evaluated
  * natively now that cells arrive as UTF8String), and `a IN (…,
  * null)` yields UNKNOWN — not FALSE — when no non-null element
  * matches. Cell access goes through the typed InternalRow accessors
  * for the column's declared type; literals come from Catalyst's
  * filter translation and may arrive under either the java.sql or
  * java.time session representation. Every compiled evaluator is made
  * TOTAL at the top level: if a cell's runtime representation ever
  * diverges from the decoder contract, the conjunct degrades to
  * UNKNOWN (no skip — the residual Filter above the scan still
  * decides) instead of failing the task. */
private[sources] object AvroFilters {
  import org.apache.spark.sql.sources._
  import org.apache.spark.unsafe.types.UTF8String

  final val True = 1
  final val False = 0
  final val Unknown = -1

  /** Compile one pushed conjunct to a three-valued evaluator over
    * catalyst rows laid out as `schema`, or None when any part falls
    * outside the exactly-evaluable subset. */
  def compile(f: Filter, schema: StructType): Option[InternalRow => Int] =
    compile0(f, schema).map { ev => (row: InternalRow) =>
      // totality guard: an unexpected runtime representation must
      // degrade to no-skip, never fail the task (correctness lives in
      // the residual Filter). The try is free on the no-throw path.
      try ev(row)
      catch { case _: ClassCastException | _: MatchError |
                   _: NullPointerException => Unknown }
    }

  private def compile0(f: Filter, schema: StructType): Option[InternalRow => Int] = f match {
    case And(l, r) =>
      for (a <- compile0(l, schema); b <- compile0(r, schema)) yield { (row: InternalRow) =>
        val x = a(row)
        if (x == False) False
        else { val y = b(row); if (y == False) False
               else if (x == Unknown || y == Unknown) Unknown else True }
      }
    case Or(l, r) =>
      for (a <- compile0(l, schema); b <- compile0(r, schema)) yield { (row: InternalRow) =>
        val x = a(row)
        if (x == True) True
        else { val y = b(row); if (y == True) True
               else if (x == Unknown || y == Unknown) Unknown else False }
      }
    case Not(c) =>
      compile0(c, schema).map(e => (row: InternalRow) => {
        val x = e(row); if (x == Unknown) Unknown else 1 - x
      })
    case AlwaysTrue() => Some(_ => True)
    case AlwaysFalse() => Some(_ => False)
    case IsNull(a) =>
      idx(a, schema).map(i => (row: InternalRow) => if (row.isNullAt(i)) True else False)
    case IsNotNull(a) =>
      idx(a, schema).map(i => (row: InternalRow) => if (row.isNullAt(i)) False else True)
    case EqualTo(a, v) => comparison(a, v, schema, c => if (c == 0) True else False)
    case GreaterThan(a, v) => comparison(a, v, schema, c => if (c > 0) True else False)
    case GreaterThanOrEqual(a, v) => comparison(a, v, schema, c => if (c >= 0) True else False)
    case LessThan(a, v) => comparison(a, v, schema, c => if (c < 0) True else False)
    case LessThanOrEqual(a, v) => comparison(a, v, schema, c => if (c <= 0) True else False)
    case EqualNullSafe(a, v) =>
      if (v == null) // <=> null is exactly IsNull
        idx(a, schema).map(i =>
          (row: InternalRow) => if (row.isNullAt(i)) True else False)
      else
        for (i <- idx(a, schema); ops <- cmpOps(typeAt(schema, a));
             lit <- ops.normLit(v)) yield { (row: InternalRow) =>
          if (row.isNullAt(i)) False
          else if (ops.cmp(ops.get(row, i), lit) == 0) True else False
        }
    case In(a, vs) =>
      for (i <- idx(a, schema); ops <- cmpOps(typeAt(schema, a));
           lits <- sequenceOpt(vs.filter(_ != null).map(ops.normLit))) yield {
        val hasNull = vs.exists(_ == null)
        (row: InternalRow) => {
          if (row.isNullAt(i)) Unknown
          else {
            val c = ops.get(row, i)
            if (lits.exists(l => ops.cmp(c, l) == 0)) True
            else if (hasNull) Unknown else False
          }
        }
      }
    // UTF8String's startsWith/endsWith/contains are byte-level — the
    // exact semantics Spark's own string predicates evaluate
    case StringStartsWith(a, v) => stringMatch(a, v, schema, _.startsWith(_))
    case StringEndsWith(a, v) => stringMatch(a, v, schema, _.endsWith(_))
    case StringContains(a, v) => stringMatch(a, v, schema, _.contains(_))
    case _ => None
  }

  // ---- leaves ------------------------------------------------------

  private def idx(attr: String, schema: StructType): Option[Int] = {
    val i = schema.fieldNames.indexOf(attr)
    if (i < 0) None else Some(i)
  }

  private def typeAt(schema: StructType, attr: String): DataType =
    idx(attr, schema).map(i => schema.fields(i).dataType).getOrElse(NullType)

  private def comparison(attr: String, v: Any, schema: StructType,
                         sign: Int => Int): Option[InternalRow => Int] =
    for (i <- idx(attr, schema); ops <- cmpOps(typeAt(schema, attr));
         lit <- Option(v).flatMap(ops.normLit)) yield { (row: InternalRow) =>
      if (row.isNullAt(i)) Unknown
      else sign(ops.cmp(ops.get(row, i), lit))
    }

  private def stringMatch(attr: String, v: String, schema: StructType,
                          m: (UTF8String, UTF8String) => Boolean): Option[InternalRow => Int] =
    typeAt(schema, attr) match {
      case StringType if v != null =>
        idx(attr, schema).map { i =>
          val lit = UTF8String.fromString(v)
          (row: InternalRow) =>
            if (row.isNullAt(i)) Unknown
            else if (m(row.getUTF8String(i), lit)) True else False
        }
      case _ => None
    }

  private def sequenceOpt(xs: Array[Option[Any]]): Option[Seq[Any]] =
    if (xs.forall(_.isDefined)) Some(xs.toSeq.map(_.get)) else None

  // ---- per-type access, normalization + ordering -------------------

  /** Literal normalization to the column's catalyst representation,
    * the typed cell accessor, and the comparator with Spark's exact
    * semantics for that type. */
  private final case class Ops(normLit: Any => Option[Any],
                               get: (InternalRow, Int) => Any,
                               cmp: (Any, Any) => Int)

  private val longCmp: (Any, Any) => Int =
    (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])

  private def cmpOps(dt: DataType): Option[Ops] = dt match {
    case IntegerType => Some(Ops(
      { case n: java.lang.Number => Some(java.lang.Long.valueOf(n.longValue)); case _ => None },
      (r, i) => java.lang.Long.valueOf(r.getInt(i).toLong),
      longCmp))
    case LongType => Some(Ops(
      { case n: java.lang.Number => Some(java.lang.Long.valueOf(n.longValue)); case _ => None },
      (r, i) => java.lang.Long.valueOf(r.getLong(i)),
      longCmp))
    case FloatType => Some(Ops(
      { case n: java.lang.Number => Some(java.lang.Double.valueOf(n.doubleValue)); case _ => None },
      (r, i) => java.lang.Double.valueOf(r.getFloat(i).toDouble),
      (a, b) => nanSafeCmp(a.asInstanceOf[Double], b.asInstanceOf[Double])))
    case DoubleType => Some(Ops(
      { case n: java.lang.Number => Some(java.lang.Double.valueOf(n.doubleValue)); case _ => None },
      (r, i) => java.lang.Double.valueOf(r.getDouble(i)),
      (a, b) => nanSafeCmp(a.asInstanceOf[Double], b.asInstanceOf[Double])))
    case StringType => Some(Ops(
      { case s: String => Some(UTF8String.fromString(s)); case _ => None },
      (r, i) => r.getUTF8String(i),
      (a, b) => a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])))
    case BooleanType => Some(Ops(
      { case b: java.lang.Boolean => Some(b); case _ => None },
      (r, i) => java.lang.Boolean.valueOf(r.getBoolean(i)),
      (a, b) => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])))
    case d: DecimalType => Some(Ops(
      { case x: java.math.BigDecimal => Some(org.apache.spark.sql.types.Decimal(x))
        case x: scala.math.BigDecimal => Some(org.apache.spark.sql.types.Decimal(x))
        case x: org.apache.spark.sql.types.Decimal => Some(x)
        case _ => None },
      (r, i) => r.getDecimal(i, d.precision, d.scale),
      // Decimal.compare is scale-aware (BigDecimal value order)
      (a, b) => a.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .compare(b.asInstanceOf[org.apache.spark.sql.types.Decimal])))
    case TimestampType => Some(Ops(
      { case t: java.sql.Timestamp =>
          Some(java.lang.Long.valueOf(DateTimeUtils.fromJavaTimestamp(t)))
        case i: java.time.Instant =>
          Some(java.lang.Long.valueOf(DateTimeUtils.instantToMicros(i)))
        case _ => None },
      (r, i) => java.lang.Long.valueOf(r.getLong(i)),
      longCmp))
    case TimestampNTZType => Some(Ops(
      { case l: java.time.LocalDateTime =>
          Some(java.lang.Long.valueOf(DateTimeUtils.localDateTimeToMicros(l)))
        case _ => None },
      (r, i) => java.lang.Long.valueOf(r.getLong(i)),
      longCmp))
    case DateType => Some(Ops(
      { case d: java.sql.Date =>
          Some(java.lang.Integer.valueOf(DateTimeUtils.fromJavaDate(d)))
        case d: java.time.LocalDate =>
          Some(java.lang.Integer.valueOf(DateTimeUtils.localDateToDays(d)))
        case _ => None },
      (r, i) => java.lang.Integer.valueOf(r.getInt(i)),
      (a, b) => java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])))
    case _ => None // binary / nested / anything else: residual-only
  }

  /** Spark's float/double comparison semantics (Utils.nanSafeCompareDoubles):
    * primitive <,>,== first — so -0.0 == 0.0 — then NaN equal to NaN and
    * greater than everything else. */
  private def nanSafeCmp(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0
    else { // at least one NaN
      val xN = java.lang.Double.isNaN(x)
      val yN = java.lang.Double.isNaN(y)
      if (xN && yN) 0 else if (xN) 1 else -1
    }
}
