package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileStream, DataFileWriter, SeekableInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Avro object-container-file source/sink built directly on the Avro
  * Java library the Spark image already ships (`avro-1.12.1.jar`) —
  * the external `spark-avro` DataSource module is not bundled, and the
  * Kafka-dump / schema-registry world a 100 TB pipeline ingests from
  * speaks Avro. Same extension posture as the Npy/Pickle/Arrow codecs
  * (reference io parity: io.py reads only csv/json/pickle/numpy —
  * this is §2.11 surface).
  *
  * Scale shape, unlike those driver-side codecs: BOTH directions are
  * distributed. Writes emit one container file per input partition
  * through the Hadoop FileSystem API (local fs here, HDFS/object
  * stores on a cluster) under a two-phase commit; reads parallelize
  * over SUB-FILE byte ranges via Avro's block sync markers, so a
  * directory with one fat file among small ones still scans with
  * size-proportional parallelism and no driver materialization.
  *
  * Mixed writer-schema generations in one directory (the format's
  * normal state — that is why schema registries exist) unify through
  * the same lossless lattice as readParquetEvolved: null-fill for
  * absent columns, int-width/int-to-double widening per generation
  * before the union, drop-or-stringify for irreconcilable re-types;
  * [[avroSchemaDrift]] is the per-column disposition ledger.
  *
  * Type lattice (both directions, nullable as the standard
  * `[null, T]` union): boolean/int/long/float/double/string/binary,
  * plus timestamp-millis/micros logical longs as Spark TimestampType,
  * local-timestamp-millis/micros as TimestampNTZType (the parquet
  * isAdjustedToUTC=false dtype real lakes carry — same payload, no
  * silent zone reinterpretation either way), and date logical ints as
  * DateType. Anything else fails loudly at write/read time — no
  * silent stringification. */
object AvroIo {

  private val SupportedMsg =
    "AvroIo supports boolean/int/long/float/double/string/binary/" +
      "timestamp/timestamp_ntz/date/decimal, plus nested record/array/" +
      "map (string keys) of those, and enum (read as string); " +
      "nullable via [null, T] unions"

  // ------------------------------------------------------------ schema

  /** The Avro schema for one non-null Spark type. Nested records get
    * path-derived names (`row_cust`, `row_cust_address`) — Avro
    * requires every record schema in a file to carry a distinct full
    * name unless structurally identical. Because '_' both joins path
    * segments and may appear IN a column name, two legal Spark schemas
    * can derive the same path (`a.b` vs a sibling column `a_b`): `used`
    * tracks the names taken during one schema build and deduplicates
    * with a deterministic `__2`/`__3` suffix (field order is the
    * schema's, so the same DataFrame schema always names identically —
    * and readers never depend on record names; the lattice unifies by
    * FIELD name). */
  private def toAvroType(dt: DataType, path: String,
      used: scala.collection.mutable.Set[String]): Schema = dt match {
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case IntegerType => Schema.create(Schema.Type.INT)
    case LongType    => Schema.create(Schema.Type.LONG)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case StringType  => Schema.create(Schema.Type.STRING)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    // Spark timestamps ARE epoch micros; timestamp-micros is the
    // exact Avro logical type (schema-registry events carry these);
    // NTZ (parquet isAdjustedToUTC=false, the common lake dtype)
    // maps to Avro's local-timestamp-micros — same payload, no
    // silent zone reinterpretation either way
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case st: StructType => toAvroSchema(st, path, used)
    case ArrayType(et, containsNull) =>
      val e = toAvroType(et, path + "_item", used)
      Schema.createArray(
        if (containsNull)
          Schema.createUnion(List(Schema.create(Schema.Type.NULL), e).asJava)
        else e)
    case MapType(StringType, vt, valueContainsNull) =>
      val v = toAvroType(vt, path + "_value", used)
      Schema.createMap(
        if (valueContainsNull)
          Schema.createUnion(List(Schema.create(Schema.Type.NULL), v).asJava)
        else v)
    case other => throw new IllegalArgumentException(
      s"AvroIo: unsupported Spark type $other at $path; $SupportedMsg")
  }

  private[sources] def toAvroSchema(schema: StructType, name: String,
      used: scala.collection.mutable.Set[String] =
        scala.collection.mutable.Set.empty): Schema = {
    val recName =
      if (used.add(name)) name
      else {
        var i = 2
        while (!used.add(s"${name}__$i")) i += 1
        s"${name}__$i"
      }
    val fields = schema.fields.map { f =>
      val base = toAvroType(f.dataType, s"${recName}_${f.name}", used)
      val s =
        if (f.nullable)
          Schema.createUnion(List(Schema.create(Schema.Type.NULL), base).asJava)
        else base
      new Schema.Field(f.name, s, null, null)
    }
    Schema.createRecord(recName, null, "graft", false, fields.toList.asJava)
  }

  /** Unwrap `[null, T]` unions; reject anything wider. */
  private def nonNullBranch(s: Schema): (Schema, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala
      val nn = branches.filter(_.getType != Schema.Type.NULL)
      if (nn.size != 1) throw new IllegalArgumentException(
        s"AvroIo: unsupported union $s; $SupportedMsg")
      (nn.head, branches.size != nn.size)
    case _ => (s, false)
  }

  private def isTimestamp(base: Schema): Boolean =
    base.getType == Schema.Type.LONG && (base.getLogicalType match {
      case _: LogicalTypes.TimestampMillis | _: LogicalTypes.TimestampMicros => true
      case _ => false
    })

  private def isLocalTimestamp(base: Schema): Boolean =
    base.getType == Schema.Type.LONG && (base.getLogicalType match {
      case _: LogicalTypes.LocalTimestampMillis | _: LogicalTypes.LocalTimestampMicros => true
      case _ => false
    })

  private def isDate(base: Schema): Boolean =
    base.getType == Schema.Type.INT &&
      base.getLogicalType.isInstanceOf[LogicalTypes.Date]

  private def decimalOf(base: Schema): Option[DecimalType] =
    base.getLogicalType match {
      case d: LogicalTypes.Decimal =>
        // Spark decimals cap at precision 38; a wider Avro decimal
        // cannot round-trip losslessly, so it falls through to the
        // underlying primitive gate (bytes/fixed -> loud failure is
        // wrong here: the payload IS readable as raw unscaled bytes —
        // but silently so; fail loudly instead)
        if (d.getPrecision <= DecimalType.MAX_PRECISION)
          Some(DecimalType(d.getPrecision, d.getScale))
        else throw new IllegalArgumentException(
          s"AvroIo: decimal(${d.getPrecision},${d.getScale}) exceeds Spark's " +
            s"max precision ${DecimalType.MAX_PRECISION}")
      case _ => None
    }

  /** One Avro field's Spark type. timestamp-millis/micros map to
    * TimestampType, date to DateType, decimal bytes/fixed to
    * DecimalType, enum to string, and record/array/map (string keys —
    * the only kind Avro has) recurse; any OTHER logical type reads as
    * its underlying primitive (the logical annotation is advisory in
    * Avro — the underlying value is the lossless truth, never a
    * stringification). */
  private def fieldSparkType(fieldName: String, base: Schema): DataType =
    base.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT     => if (isDate(base)) DateType else IntegerType
      case Schema.Type.LONG =>
        if (isTimestamp(base)) TimestampType
        else if (isLocalTimestamp(base)) TimestampNTZType
        else LongType
      case Schema.Type.FLOAT   => FloatType
      case Schema.Type.DOUBLE  => DoubleType
      case Schema.Type.STRING  => StringType
      case Schema.Type.BYTES   => decimalOf(base).getOrElse(BinaryType)
      case Schema.Type.FIXED   => decimalOf(base).getOrElse(BinaryType)
      // enums are closed string sets; the symbol string is the value
      case Schema.Type.ENUM    => StringType
      case Schema.Type.RECORD  => toSparkSchema(base)
      case Schema.Type.ARRAY =>
        val (et, elemNullable) = nonNullBranch(base.getElementType)
        ArrayType(fieldSparkType(s"$fieldName[]", et), elemNullable)
      case Schema.Type.MAP =>
        val (vt, valNullable) = nonNullBranch(base.getValueType)
        MapType(StringType, fieldSparkType(s"$fieldName{}", vt), valNullable)
      case other => throw new IllegalArgumentException(
        s"AvroIo: unsupported Avro type $other for field $fieldName; $SupportedMsg")
    }

  private[sources] def toSparkSchema(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD,
      s"AvroIo: top-level Avro type must be a record, got ${schema.getType}")
    StructType(schema.getFields.asScala.map { f =>
      val (base, nullable) = nonNullBranch(f.schema())
      StructField(f.name, fieldSparkType(f.name, base), nullable)
    }.toSeq)
  }

  private def bbBytes(bb: java.nio.ByteBuffer): Array[Byte] = {
    val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
  }

  /** Spark external row value -> the Avro datum for one non-null
    * field type (bytes -> ByteBuffer, timestamp/date -> logical
    * primitives under BOTH the java.sql and java.time session
    * surfaces, decimal -> unscaled big-endian bytes at the declared
    * scale, struct/array/map by recursion). */
  private def sparkToAvro(dt: DataType, schema: Schema): Any => Any = dt match {
    case BinaryType => {
      case null => null
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case x => x
    }
    case TimestampType => {
      case null => null
      case ts: java.sql.Timestamp =>
        java.lang.Long.valueOf(DateTimeUtils.fromJavaTimestamp(ts))
      case i: java.time.Instant =>
        java.lang.Long.valueOf(DateTimeUtils.instantToMicros(i))
      case x => x
    }
    case TimestampNTZType => {
      case null => null
      case ldt: java.time.LocalDateTime =>
        java.lang.Long.valueOf(DateTimeUtils.localDateTimeToMicros(ldt))
      case x => x
    }
    case DateType => {
      case null => null
      case d: java.sql.Date =>
        java.lang.Integer.valueOf(DateTimeUtils.fromJavaDate(d))
      case ld: java.time.LocalDate =>
        java.lang.Integer.valueOf(DateTimeUtils.localDateToDays(ld))
      case x => x
    }
    case d: DecimalType => {
      case null => null
      case bd: java.math.BigDecimal =>
        // UNNECESSARY: a value at a wider scale than declared must fail
        // loudly, never round silently into the container
        java.nio.ByteBuffer.wrap(
          bd.setScale(d.scale, java.math.RoundingMode.UNNECESSARY)
            .unscaledValue().toByteArray)
      case sd: org.apache.spark.sql.types.Decimal =>
        java.nio.ByteBuffer.wrap(
          sd.toJavaBigDecimal.setScale(d.scale, java.math.RoundingMode.UNNECESSARY)
            .unscaledValue().toByteArray)
      case x => throw new IllegalStateException(s"AvroIo: decimal field held $x")
    }
    case st: StructType =>
      val fieldSchemas = schema.getFields.asScala.map(f => nonNullBranch(f.schema())._1)
      val convs = st.fields.zip(fieldSchemas).map { case (f, fs) => sparkToAvro(f.dataType, fs) }
      val fn: Any => Any = {
        case null => null
        case r: Row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < convs.length) { rec.put(i, convs(i)(r.get(i))); i += 1 }
          rec
        case x => throw new IllegalStateException(s"AvroIo: struct field held $x")
      }
      fn
    case ArrayType(et, _) =>
      val (es, _) = nonNullBranch(schema.getElementType)
      val conv = sparkToAvro(et, es)
      val fn: Any => Any = {
        case null => null
        case s: scala.collection.Seq[_] =>
          val l = new java.util.ArrayList[Any](s.length)
          s.foreach(v => l.add(conv(v)))
          l
        case x => throw new IllegalStateException(s"AvroIo: array field held $x")
      }
      fn
    case MapType(StringType, vt, _) =>
      val (vs, _) = nonNullBranch(schema.getValueType)
      val conv = sparkToAvro(vt, vs)
      val fn: Any => Any = {
        case null => null
        case m: scala.collection.Map[_, _] =>
          val jm = new java.util.HashMap[String, Any](m.size * 2)
          m.foreach { case (k, v) => jm.put(k.toString, conv(v)) }
          jm
        case x => throw new IllegalStateException(s"AvroIo: map field held $x")
      }
      fn
    case _ => identity[Any]
  }

  // ------------------------------------------------------------- write

  /** Write `df` as a directory of Avro container files, one per
    * non-empty partition: an overwrite through the `graft-avro` batch
    * write, whose commit protocol ([[AvroBatchWrite]]) leaves the target
    * either the previous generation or the complete new one. `codec`:
    * None (null codec), Some("deflate") or Some("zstandard"); deflate is
    * JDK-native, snappy would drag in platform natives the jar policy
    * avoids. */
  def toAvro(df: DataFrame, path: String,
             codec: Option[String] = Some("deflate")): Unit =
    df.write.format(classOf[AvroDataSource].getName)
      .option(AvroDataSource.CodecOption, codec.getOrElse("null"))
      .mode(SaveMode.Overwrite).save(path)

  /** Job-commit by directory swap (shared by [[compactAvro]] and the
    * `graft-avro` overwrite, [[AvroBatchWrite]]):
    *  - sweep orphaned dot-prefixed attempt files BEFORE the rename (a
    *    task that died between create and task-commit, or a
    *    speculative loser killed mid-write, leaves `.attempt-*`
    *    behind; the directory rename would otherwise carry it into
    *    committed output — invisible to readAvro's filter but
    *    accumulating disk across retried/speculative writes);
    *  - move the previous generation ASIDE (rename, never
    *    delete-first), swap the new one in, then drop the old copy —
    *    every failure path leaves a complete generation on disk. The
    *    brief target-absent window between the two renames makes a
    *    concurrent reader fail loudly ("no files"), never read a mix;
    *  - after a successful swap, a cleanup failure must not report the
    *    write as failed, but a silently surviving hidden ._old_ copy
    *    per rewrite is an unbounded disk leak — warn with the path so
    *    an operator can reclaim it. */
  private[sources] def jobCommitSwap(
      fs0: FileSystem, tmp: HPath, target: HPath, op: String): Unit = {
    fs0.listStatus(tmp).foreach { st =>
      if (st.getPath.getName.startsWith(".")) fs0.delete(st.getPath, false): Unit
    }
    val oldAside = new HPath(target.getParent,
      s"._old_${target.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
    val hadOld = fs0.exists(target)
    if (hadOld) require(fs0.rename(target, oldAside),
      s"$op: could not move the previous generation aside " +
        s"($target -> $oldAside); target left untouched, new data kept at $tmp")
    if (!fs0.rename(tmp, target)) {
      val tail =
        if (!hadOld) "; no previous generation existed (target is absent)"
        else if (fs0.rename(oldAside, target)) "; previous generation restored"
        else s"; previous generation preserved at $oldAside"
      throw new IllegalStateException(
        s"$op: job-commit rename $tmp -> $target failed; " +
          s"new generation kept at $tmp" + tail)
    }
    if (hadOld) {
      val cleaned =
        try fs0.delete(oldAside, true)
        catch { case _: java.io.IOException => false }
      if (!cleaned) System.err.println(
        s"[AvroIo] WARNING: committed $target but could not remove the " +
          s"superseded generation at $oldAside — delete it manually")
    }
  }

  /** Compact a directory of small Avro container files into
    * ~`targetBytes`-sized files WITHOUT decoding a single record — the
    * landing-zone maintenance face. A Kafka-connect sink drops
    * thousands of MB-scale files per day, and every scan of a 10k-file
    * directory pays 10k header reads plus a task-scheduling floor
    * until someone compacts it; rewriting through decode/encode (read
    * → write) would burn the decode CPU this module documents as the
    * scan bottleneck just to move bytes.
    *
    * Files are grouped by (writer schema, codec) — mixed generations
    * stay SEPARATE output files, so [[readAvro]]'s lattice and
    * [[avroSchemaDrift]]'s ledger see exactly the same generations
    * before and after — then bin-packed in name order to
    * `targetBytes`. One task per output file block-copies its inputs
    * via the container API's `appendAllFrom` (sync markers re-anchored
    * by the writer; compressed blocks pass through, recompress=false).
    * Same job-commit swap as the `graft-avro` overwrite. Returns the
    * output file count.
    *
    * What survives compaction: RECORDS (byte-faithful block copy), the
    * writer schema, and the codec. Custom per-file container metadata
    * (`setMeta` keys some producers stash — offsets, provenance tags)
    * does NOT carry over: the inputs of one bin can disagree on it, so
    * any merge rule would be a silent lie; producers needing per-batch
    * metadata should keep it in a sidecar (or a column), not in
    * container headers that compaction/re-sharding legitimately
    * rewrites.
    *
    * Interaction with [[readAvroStream]]: compact into a DIFFERENT
    * directory (`outDir != inDir`, which this method requires anyway)
    * and retire the fragmented zone only after draining its streams. A
    * stream logs batches by file path, so deleting small files out
    * from under an UNCOMMITTED batch makes its replay fail loudly
    * (never silently short) — committed batches are unaffected. A
    * stream started on the compacted zone re-reads everything; offsets
    * do not transfer across a compaction because the files are new. */
  def compactAvro(spark: SparkSession, inDir: String, outDir: String,
                  targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, s"compactAvro: non-positive targetBytes $targetBytes")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val inPath = new HPath(inDir)
    val inFs = inPath.getFileSystem(conf.value)
    val target = new HPath(outDir)
    // output-side filesystem ops (tmp, commit swap, cleanup) must bind
    // to the TARGET's filesystem — compacting hdfs:// to file:/ is a
    // legal cross-FS pair
    val fs0 = target.getFileSystem(conf.value)
    // qualified comparison, not raw strings: "/zone" vs "/zone/" vs
    // "file:/zone" are the same directory, and a self-rewrite would
    // move the input aside and delete it after commit
    require(inFs.makeQualified(inPath) != fs0.makeQualified(target),
      "compactAvro cannot rewrite a directory onto itself")
    val files = listDataFiles(inFs, inDir)
    require(files.nonEmpty, s"compactAvro: no Avro data files under $inDir")
    // (path, len, schemaJson, codec) via the shared cached header sweep
    // — a directory readAvro just scanned compacts with no second
    // header job
    val headers = fileHeadersCached(spark, inDir, files, conf)
    val byGroup = headers.groupBy(r => (r._3, r._4)).toSeq.sortBy(_._1)
    // first-fit in name order: cumulative bytes per bin up to the
    // target, at least one file per bin (a single fat file passes
    // through as its own bin — readAvro splits it at sync markers)
    val bins = scala.collection.mutable.ArrayBuffer.empty[(String, String, Seq[String])]
    for (((schemaJson, codec), group) <- byGroup) {
      var cur = List.newBuilder[String]
      var curBytes = 0L
      var curN = 0
      for ((f, len, _, _) <- group) {
        if (curN > 0 && curBytes + len > targetBytes) {
          bins += ((schemaJson, codec, cur.result()))
          cur = List.newBuilder[String]; curBytes = 0L; curN = 0
        }
        cur += f; curBytes += len; curN += 1
      }
      if (curN > 0) bins += ((schemaJson, codec, cur.result()))
    }
    val tmp = new HPath(target.getParent,
      s"._tmp_${target.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
    fs0.mkdirs(tmp)
    val tmpStr = tmp.toString
    var jobCompleted = false
    var jobStarted = false
    try {
      val binRdd = spark.sparkContext
        .parallelize(bins.toSeq.zipWithIndex, bins.size)
        .map { case ((schemaJson, codec, inFiles), i) =>
          val schema = new Schema.Parser().parse(schemaJson)
          val fs = new HPath(tmpStr).getFileSystem(conf.value)
          val tc = org.apache.spark.TaskContext.get()
          val attemptTag =
            if (tc == null) "local" else tc.taskAttemptId().toString
          val attempt = new HPath(tmpStr, f".attempt-$attemptTag-part-$i%05d.avro")
          val os = fs.create(attempt, true)
          val w = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](schema))
          if (codec != "null") w.setCodec(CodecFactory.fromString(codec))
          w.create(schema, os)
          try {
            inFiles.foreach { f =>
              val in = new HPath(f).getFileSystem(conf.value).open(new HPath(f))
              val st =
                try new DataFileStream[GenericRecord](in,
                  new GenericDatumReader[GenericRecord]())
                catch { case e: Throwable => in.close(); throw e }
              // raw block copy: same schema + same codec by grouping,
              // so no per-record decode happens here
              try w.appendAllFrom(st, /* recompress = */ false)
              finally st.close()
            }
          } finally w.close()
          val committed = new HPath(tmpStr, f"part-$i%05d.avro")
          if (!fs.rename(attempt, committed)) {
            if (fs.exists(committed)) fs.delete(attempt, false): Unit
            else throw new IllegalStateException(
              s"AvroIo.compactAvro: task-commit rename $attempt -> " +
                s"$committed failed with no committed winner")
          }
          1
        }
      jobStarted = true
      binRdd.count(): Unit
      jobCompleted = true
      jobCommitSwap(fs0, tmp, target, "AvroIo.compactAvro")
    } finally {
      cleanupFailedWrite(fs0, tmp, jobCompleted, jobStarted)
    }
    bins.size
  }

  /** Failed-write temp cleanup ([[compactAvro]]'s finally block and
    * the `graft-avro` overwrite's abort): only a
    * FAILED JOB's partial task output is garbage worth cleaning (the
    * previous generation still sits at target, untouched). After the
    * job completes, tmp is a complete copy: on successful commit it
    * was renamed away (nothing to delete), and on a commit failure it
    * is deliberately KEPT — the commit exception names it as the
    * surviving new generation.
    *
    * The delete must OUTLAST the stragglers: job abort kills the
    * surviving tasks asynchronously, and a kill landing between a
    * task's create() and its demise can resurrect the tmp dir (Hadoop
    * create() re-makes parent dirs) AFTER a single delete — so when
    * the job RAN, re-sweep until the dir stays gone for one grace
    * interval, bounded, and warn with the path if it somehow survives.
    * A failure before the job launched has no stragglers: single
    * delete, no sleeping. The sleep preserves the interrupt flag and
    * stops sweeping (job-cancel interrupts this thread; the original
    * exception must not be replaced). */
  private[sources] def cleanupFailedWrite(
      fs0: FileSystem, tmp: HPath,
      jobCompleted: Boolean, jobStarted: Boolean): Unit = {
    if (!jobCompleted) {
      fs0.delete(tmp, true): Unit
      if (jobStarted) {
        var tries = 0
        var interrupted = false
        while (!interrupted && tries < 10 && {
          try Thread.sleep(200)
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt(); interrupted = true }
          !interrupted && fs0.exists(tmp)
        }) { fs0.delete(tmp, true): Unit; tries += 1 }
        if (fs0.exists(tmp)) System.err.println(
          s"[AvroIo] WARNING: failed write's temp dir $tmp kept being " +
            "recreated by straggler tasks — delete it manually")
      }
    }
  }

  // -------------------------------------------------------------- read

  /** SeekableInput over a Hadoop stream — what lets a task start
    * decoding at an arbitrary sync marker instead of byte 0. */
  private final class HadoopSeekableInput(
      in: org.apache.hadoop.fs.FSDataInputStream, len: Long) extends SeekableInput {
    def seek(p: Long): Unit = in.seek(p)
    def tell(): Long = in.getPos
    def length(): Long = len
    def read(b: Array[Byte], off: Int, l: Int): Int = in.read(b, off, l)
    def close(): Unit = in.close()
  }

  /** The streaming sink's epoch-marker log directory (underscore
    * prefix: never listed as data) and the visible file-name shape it
    * commits. A sink-pattern file is DATA only once its (queryId,
    * epoch) marker exists — so a crash between a partial epoch commit
    * and its replay is invisible to every reader, and the replay's
    * delete-and-redo touches only files no reader has listed. */
  private[sources] val SinkCommitsDir = "_graft_commits"
  private val SinkFileName = "part-q(.+)-e(\\d+)-p\\d+\\.avro".r
  private val SinkHwName = "hw-(\\d+)".r

  /** The epoch a sink high-water file vouches for, or None for any
    * other marker-directory entry (per-epoch markers are bare numeric
    * names). */
  private[sources] def sinkHwEpoch(name: String): Option[Long] = name match {
    case SinkHwName(e) => e.toLongOption
    case _ => None
  }

  /** Per-query committed-epoch state under a zone's marker root: the
    * rolled-up high-water epoch per query id (every epoch <= it is
    * committed — the sink's marker compaction writes these) plus the
    * explicit per-epoch markers above it. Listing cost is O(queries +
    * markers-above-water): bounded by the sink's roll-up interval for
    * live producers, not by total epochs ever committed. */
  private final case class SinkCommits(hw: Map[String, Long],
                                       markers: Set[(String, Long)]) {
    def committed(qid: String, epoch: Long): Boolean =
      hw.get(qid).exists(epoch <= _) || markers((qid, epoch))
  }

  private def sinkCommittedState(fs: FileSystem, commitsRoot: HPath): SinkCommits =
    if (!fs.exists(commitsRoot)) SinkCommits(Map.empty, Set.empty)
    else {
      val hw = Map.newBuilder[String, Long]
      val markers = Set.newBuilder[(String, Long)]
      fs.listStatus(commitsRoot).filter(_.isDirectory).foreach { qd =>
        val qid = qd.getPath.getName
        var best = -1L
        fs.listStatus(qd.getPath).filter(_.isFile).foreach { m =>
          val n = m.getPath.getName
          sinkHwEpoch(n) match {
            case Some(e) => best = math.max(best, e)
            case None => n.toLongOption.foreach(e => markers += ((qid, e)))
          }
        }
        if (best >= 0) hw += ((qid, best))
      }
      SinkCommits(hw.result(), markers.result())
    }

  /** (path, length, mtime) of every data file under `path`,
    * name-sorted. mtime rides along solely for the header-cache
    * signature: a file REPLACED in place at the same length must not
    * serve a stale cached schema. */
  private def listDataFiles(fs: FileSystem, path: String): Seq[(String, Long, Long)] = {
    val p = new HPath(path)
    val isDir = fs.getFileStatus(p).isDirectory
    val all = if (isDir) fs.listStatus(p).toSeq else Seq(fs.getFileStatus(p))
    val files = all.filter(s => s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
    // marker gate for streaming-sink files; non-sink names (overwrite
    // parts, foreign producers) are unconditionally visible
    val gated =
      if (!files.exists(s => SinkFileName.pattern.matcher(s.getPath.getName).matches))
        files
      else {
        // markers live beside the data files — for a DIRECT file path
        // that is the file's parent directory, not the file itself
        val commitsRoot = new HPath(if (isDir) p else p.getParent, SinkCommitsDir)
        val commits = sinkCommittedState(fs, commitsRoot)
        files.filter(s => s.getPath.getName match {
          case SinkFileName(qid, epoch) => commits.committed(qid, epoch.toLong)
          case _ => true
        })
      }
    gated.map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .sortBy(_._1)
  }

  /** Every file's embedded writer schema, read DISTRIBUTEDLY (header
    * bytes only — a 100k-file dump must not serialize 100k header
    * reads through the driver). Returns (path, len, schemaJson) in
    * name order.
    *
    * Schema JSONs dedupe MAP-SIDE: each partition ships per-file
    * (path, len, schemaHash) plus its small distinct hash->json map,
    * so the collect (and the cached driver value, which shares one
    * String instance per distinct schema) is O(files) references +
    * O(distinct generations x schema size) — not O(files x schema
    * size), which at 100k files with multi-KB registry schemas would
    * be hundreds of MB of driver heap for a handful of generations. */
  private def fileHeaders(spark: SparkSession, files: Seq[(String, Long)],
                          conf: org.apache.spark.util.SerializableConfiguration)
      : Seq[(String, Long, String, String)] = {
    val parts = math.min(files.size, 256).max(1)
    val perPart = spark.sparkContext.parallelize(files, parts).mapPartitions { it =>
      val distinct = scala.collection.mutable.HashMap[String, String]()
      val rows = it.map { case (f, len) =>
        val in = new HPath(f).getFileSystem(conf.value).open(new HPath(f))
        // a header-parse throw (truncated/corrupt file) must not leak the
        // stream — the DataFileStream ctor itself can fail
        val st =
          try new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
          catch { case e: Throwable => in.close(); throw e }
        val (json, codec) =
          try (st.getSchema.toString,
            Option(st.getMetaString("avro.codec")).getOrElse("null"))
          finally st.close()
        val h = java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        distinct.getOrElseUpdate(h, json)
        (f, len, h, codec)
      }.toArray // force the file sweep before shipping the schema map
      Iterator.single((rows, distinct.toMap))
    }.collect()
    val schemaByHash = perPart.iterator.flatMap(_._2).toMap
    perPart.iterator.flatMap(_._1).toSeq.sortBy(_._1)
      .map { case (f, l, h, c) => (f, l, schemaByHash(h), c) }
  }

  /** Header cache: one entry per (live session, directory), replaced
    * whenever the (path,length,mtime) file-list signature changes —
    * re-composing a read of an UNCHANGED directory is metadata-only
    * (the parquet footer/FileIndex posture), any added/removed/
    * resized/replaced file re-scans, and a monitoring session
    * re-reading a GROWING directory every cycle replaces its one entry
    * instead of accumulating one per observed file list.
    *
    * Known (accepted) staleness window: a file REPLACED in place at
    * identical byte length within the filesystem's mtime granularity
    * (1 s on many local/network filesystems) produces an unchanged
    * signature and serves the cached writer schema — the same window
    * every mtime-based metadata cache has (parquet FileIndex included).
    * Avro landing zones append new files rather than rewriting in
    * place, so this is acceptable; callers needing hard guarantees can
    * bounce the session or write to a fresh directory per generation. */
  private val headerCache =
    new graft.SessionCache[Seq[(String, Long, String, String)]]

  /** The Avro record-schema JSON for a Spark schema — the write-side
    * mapping of both `graft-avro` write faces, built once on the driver
    * and shipped as JSON. Fails loudly on unsupported Spark types. */
  private[sources] def avroJsonFor(schema: StructType): String =
    toAvroSchema(schema, "row").toString

  /** Container codec for one canonical name. `zstandard` rides the
    * zstd-jni Spark already bundles for shuffle/parquet; presence-
    * gated so a slimmed deployment fails loudly at WRITE time (the
    * read side needs the same class and would fail equally loudly). */
  private[sources] def codecFor(name: String): Option[CodecFactory] = name match {
    case "null" | "none" => None
    case "deflate" => Some(CodecFactory.deflateCodec(6))
    case "zstandard" | "zstd" =>
      try Class.forName("com.github.luben.zstd.ZstdOutputStreamNoFinalizer")
      catch {
        case _: ClassNotFoundException => throw new IllegalArgumentException(
          "AvroIo: codec zstandard needs zstd-jni on the classpath " +
            "(Spark distributions bundle it; this one does not)")
      }
      Some(CodecFactory.zstandardCodec(3))
    case other => throw new IllegalArgumentException(
      s"AvroIo: unsupported codec '$other' (deflate|zstandard|none)")
  }

  /** One container file on the zone filesystem, appended row by row —
    * the per-task body of both `graft-avro` write faces (batch and
    * streaming); lifecycle (create/commit/abort paths) belongs to the
    * caller. */
  private[sources] final class AvroRowFileWriter(
      sparkSchema: StructType, avroJson: String, dest: HPath,
      conf: org.apache.hadoop.conf.Configuration, codec: String) {
    private val schema = new Schema.Parser().parse(avroJson)
    private val fs = dest.getFileSystem(conf)
    private val os = fs.create(dest, true)
    private val w = {
      val dw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      codecFor(codec).foreach(dw.setCodec)
      try dw.create(schema, os)
      catch { case e: Throwable => os.close(); throw e }
    }
    // per-field converters built once per writer (the java8API session
    // flag surfaces time values as java.time instead of java.sql —
    // sparkToAvro accepts both, same payloads)
    private val convs = sparkSchema.fields.zip(schema.getFields.asScala).map {
      case (f, af) => sparkToAvro(f.dataType, nonNullBranch(af.schema())._1)
    }
    def append(row: Row): Unit = {
      val rec = new GenericData.Record(schema)
      var j = 0
      while (j < convs.length) {
        rec.put(j, convs(j)(row.get(j)))
        j += 1
      }
      w.append(rec)
    }
    def close(): Unit = w.close() // closes the stream too
    def abort(): Unit = {
      try w.close() catch { case _: Throwable => () }
      if (fs.exists(dest)) fs.delete(dest, false): Unit
    }
  }

  /** Read one small metadata file fully as UTF-8 (batch logs,
    * snapshots, lake manifests — never data). */
  private[sources] def readSmallFile(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Facades for the streaming face (AvroMicroBatchStream): list a
    * landing zone's data files and read a specific file batch's writer
    * schemas. The header read is UNCACHED by design — a micro-batch
    * reads headers once for only its NEW files, and caching per batch
    * would accumulate entries for the lifetime of a long-running
    * stream. */
  private[sources] def listFilesFor(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty else listDataFiles(fs, path)
  }

  private[sources] def headersFor(
      spark: SparkSession, files: Seq[(String, Long)],
      conf: org.apache.spark.util.SerializableConfiguration)
      : Seq[(String, Long, String, String)] =
    fileHeaders(spark, files, conf)

  /** (path, len, writer-schema JSON, codec) per data file, cached. */
  private def fileHeadersCached(
      spark: SparkSession, dir: String, files: Seq[(String, Long, Long)],
      conf: org.apache.spark.util.SerializableConfiguration)
      : Seq[(String, Long, String, String)] = {
    val sig = files.map { case (f, l, m) => s"$f:$l:$m" }.mkString("\n")
    headerCache.getOrCompute(spark, dir, sig)(
      fileHeaders(spark, files.map { case (f, l, _) => (f, l) }, conf))
  }

  /** Unify one column's Spark types across writer-schema generations:
    * the same lossless lattice as readParquetEvolved (equal types
    * stand; integral widths widen; int+fractional -> double) —
    * timestamp/string/binary/boolean unify only with themselves —
    * extended RECURSIVELY into nested types:
    *   - structs unify field-by-field (names union, first-seen order;
    *     a field absent from a generation is nullable in the unified
    *     struct and null-fills — the nested analogue of column
    *     null-fill, so ADDING a nested field across generations is
    *     lossless evolution, not a conflict);
    *   - arrays unify on the element type, maps on the value type;
    *   - decimals at the SAME scale widen to the max precision
    *     (values unchanged — precision is a capacity bound).
    * None = irreconcilable ANYWHERE inside the column; nested
    * conflicts deliberately bubble up to the COLUMN-level
    * drop/stringify policy rather than silently amputating a nested
    * field — the ledger ([[avroSchemaDrift]]) stays truthful at the
    * granularity users act on. */
  private[sources] def unifyAvroTypes(ts: Seq[DataType]): Option[DataType] = {
    val distinct = ts.distinct
    if (distinct.size == 1) Some(distinct.head)
    else if (distinct.forall(_.isInstanceOf[StructType])) {
      val gens = distinct.map(_.asInstanceOf[StructType])
      val names = scala.collection.mutable.LinkedHashSet[String]()
      gens.foreach(_.foreach(f => names += f.name))
      val fields = names.toSeq.map { n =>
        val perGen = gens.map(_.find(_.name == n))
        val present = perGen.flatten
        val nullable = perGen.exists(_.isEmpty) || present.exists(_.nullable)
        unifyAvroTypes(present.map(_.dataType)).map(StructField(n, _, nullable))
      }
      if (fields.exists(_.isEmpty)) None
      else Some(StructType(fields.map(_.get)))
    }
    else if (distinct.forall(_.isInstanceOf[ArrayType])) {
      val arrs = distinct.map(_.asInstanceOf[ArrayType])
      unifyAvroTypes(arrs.map(_.elementType))
        .map(et => ArrayType(et, arrs.exists(_.containsNull)))
    }
    else if (distinct.forall { case MapType(StringType, _, _) => true; case _ => false }) {
      val maps = distinct.map(_.asInstanceOf[MapType])
      unifyAvroTypes(maps.map(_.valueType))
        .map(vt => MapType(StringType, vt, maps.exists(_.valueContainsNull)))
    }
    else if (distinct.forall(_.isInstanceOf[DecimalType])) {
      val ds = distinct.map(_.asInstanceOf[DecimalType])
      if (ds.map(_.scale).distinct.size == 1)
        Some(DecimalType(ds.map(_.precision).max, ds.head.scale))
      else None // re-scaling shifts the digits — not a widening
    }
    else PsIO.unifyTypes(distinct)
  }

  /** The unified target schema over distinct writer schemas, column
    * order first-seen; a column is nullable if ANY generation declares
    * it nullable or omits it. Conflicted columns follow `conflicts`
    * (drop, or carry as string). */
  private[sources] def unifiedSchema(
      gens: Seq[StructType], conflicts: PsIO.ConflictPolicy): StructType = {
    val names = scala.collection.mutable.LinkedHashSet[String]()
    gens.foreach(_.foreach(f => names += f.name))
    val fields = names.toSeq.flatMap { n =>
      val perGen = gens.map(_.find(_.name == n))
      val present = perGen.flatten
      val nullable = perGen.exists(_.isEmpty) || present.exists(_.nullable)
      unifyAvroTypes(present.map(_.dataType)) match {
        case Some(t) => Some(StructField(n, t, nullable))
        case None => conflicts match {
          case PsIO.DropConflicts => None
          case PsIO.StringifyConflicts => Some(StructField(n, StringType, nullable))
        }
      }
    }
    StructType(fields)
  }

  /** All named-type full names (record/enum/fixed) anywhere in `s` —
    * seeds the name dedup when the reader schema copies writer
    * subtrees verbatim beside freshly built ones. */
  private def namedTypes(s: Schema,
      into: scala.collection.mutable.Set[String]): Unit = s.getType match {
    case Schema.Type.RECORD =>
      if (into.add(s.getFullName))
        s.getFields.asScala.foreach(f => namedTypes(f.schema(), into))
    case Schema.Type.ENUM | Schema.Type.FIXED => into.add(s.getFullName): Unit
    case Schema.Type.UNION => s.getTypes.asScala.foreach(namedTypes(_, into))
    case Schema.Type.ARRAY => namedTypes(s.getElementType, into)
    case Schema.Type.MAP   => namedTypes(s.getValueType, into)
    case _ => ()
  }

  /** The READER-side Avro schema resolving one writer's records onto
    * the unified `target` — this is where projection, null-fill, and
    * the primitive lattice all happen DURING decode instead of after
    * it:
    *  - a writer subtree whose Spark type already equals the target
    *    passes through verbatim (identity resolution, zero risk);
    *  - int->long / int,long,float->double widenings become Avro
    *    numeric PROMOTIONS (the resolving decoder emits the widened
    *    primitive straight off the wire);
    *  - records rebuild in TARGET field order: writer fields omitted
    *    from the target are SKIPPED by the resolver (projection),
    *    target fields missing from this writer become nullable reader
    *    fields with a null default the resolver materializes
    *    (null-fill) — so the decoded record is target-shaped, no
    *    permute/copy afterwards;
    *  - decimal widening, millis timestamps, and stringified columns
    *    keep the writer's wire shape — [[CompiledAvro]]'s leaf
    *    closures finish those during decode (resolution cannot
    *    express them). */
  private def readerTypeFor(wbase: Schema, target: DataType,
      used: scala.collection.mutable.Set[String]): Schema = {
    val srcT = fieldSparkType("f", wbase)
    (srcT, target) match {
      case (s, t) if s == t => wbase // identical subtree: verbatim
      case (IntegerType, LongType) => Schema.create(Schema.Type.LONG)
      case (IntegerType, DoubleType) | (LongType, DoubleType) |
           (FloatType, DoubleType) => Schema.create(Schema.Type.DOUBLE)
      case (f: DecimalType, t: DecimalType)
          if f.scale == t.scale && t.precision >= f.precision => wbase
      case (_, StringType) => wbase // stringify: the compiled leaf renders
      case (_: StructType, tt: StructType) =>
        val fields = tt.fields.map { tf =>
          Option(wbase.getField(tf.name)) match {
            case None => // null-fill via resolver default
              val gen = toAvroType(tf.dataType,
                s"rf_${wbase.getName}_${tf.name}", used)
              new Schema.Field(tf.name,
                Schema.createUnion(
                  List(Schema.create(Schema.Type.NULL), gen).asJava),
                null, org.apache.avro.JsonProperties.NULL_VALUE)
            case Some(wf) =>
              val (b, nullable) = nonNullBranch(wf.schema())
              val rt = readerTypeFor(b, tf.dataType, used)
              new Schema.Field(tf.name,
                if (nullable) Schema.createUnion(
                  List(Schema.create(Schema.Type.NULL), rt).asJava)
                else rt, null, null)
          }
        }
        Schema.createRecord(wbase.getName, wbase.getDoc,
          Option(wbase.getNamespace).getOrElse("graft"), false,
          fields.toList.asJava)
      case (_: ArrayType, ta: ArrayType) =>
        val (eb, eNullable) = nonNullBranch(wbase.getElementType)
        val et = readerTypeFor(eb, ta.elementType, used)
        Schema.createArray(
          if (eNullable) Schema.createUnion(
            List(Schema.create(Schema.Type.NULL), et).asJava)
          else et)
      case (_: MapType, tm: MapType) =>
        val (vb, vNullable) = nonNullBranch(wbase.getValueType)
        val vt = readerTypeFor(vb, tm.valueType, used)
        Schema.createMap(
          if (vNullable) Schema.createUnion(
            List(Schema.create(Schema.Type.NULL), vt).asJava)
          else vt)
      case (f, t) => throw new IllegalArgumentException(
        s"AvroIo: no lossless widening $f -> $t")
    }
  }

  private[sources] def readerSchemaFor(writer: Schema, target: StructType): Schema =
    if (toSparkSchema(writer) == target) writer
    else {
      val used = scala.collection.mutable.Set[String]()
      namedTypes(writer, used)
      readerTypeFor(writer, target, used)
    }

  /** The decode hot path, COMPILED: one closure tree per (writer,
    * target) pair walking the ResolvingDecoder directly — no
    * GenericRecord, no per-value schema switches, no logical-type
    * lookups, no post-pass. Each node reads its wire value and emits
    * the catalyst-native form in one step: boxed primitives (with
    * Avro's own numeric promotion applying the int->long/->double
    * lattice during decode), UTF8String straight from the decoder's
    * scratch Utf8 bytes (one copy, no UTF-16 round trip), raw byte
    * arrays, Decimal at the widened precision, micros from millis
    * timestamps, GenericInternalRow / GenericArrayData /
    * ArrayBasedMapData for the nested types, and the drift ledger's
    * documented String.valueOf(external) rendering for stringified
    * conflict columns. Null-filled fields (reader-only, null default)
    * and projection skips (writer-only fields) are the resolver's own
    * grammar actions — invisible here. */
  private object CompiledAvro {
    import org.apache.avro.io.Decoder
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String

    type ValueReader = Decoder => Any

    /** Compile one reader-schema node targeted at `target`. The reader
      * schema is target-shaped ([[readerTypeFor]]), so record
      * positions are target positions. `resolved` = decoding through a
      * ResolvingDecoder (records follow readFieldOrder); false = the
      * raw block decoder (writer == reader: fields arrive in schema
      * order with NO grammar walk — the single-generation fast path).
      * NOT thread-safe across tasks (string/bytes scratch buffers live
      * in the closures) — compile per task. */
    def compile(s: Schema, target: DataType, resolved: Boolean): ValueReader = s.getType match {
      case Schema.Type.NULL => rd => { rd.readNull(); null }
      case Schema.Type.UNION =>
        // nonNullBranch admits only [null, T] (either order) into the
        // lattice, but compile each branch generically by index
        val branches = s.getTypes.asScala.map(b => compile(b, target, resolved)).toArray
        rd => branches(rd.readIndex())(rd)
      case _ => target match {
        case StringType if s.getType == Schema.Type.STRING =>
          val scratch = new org.apache.avro.util.Utf8
          rd => {
            val u = rd.readString(scratch)
            UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(u.getBytes, 0, u.getByteLength))
          }
        case StringType if s.getType == Schema.Type.ENUM =>
          val syms = s.getEnumSymbols.asScala.map(UTF8String.fromString).toArray
          rd => syms(rd.readEnum())
        case StringType if s.getType == Schema.Type.BYTES =>
          // conflicted binary-vs-string column: the bytes ARE utf-8
          // text in the string generations' sense
          var scratch: java.nio.ByteBuffer = null
          rd => {
            val bb = rd.readBytes(scratch); scratch = bb
            UTF8String.fromBytes(bbBytes(bb))
          }
        case StringType =>
          // stringified conflict column: decode at the natural type,
          // render through the EXTERNAL representation — the exact
          // String.valueOf(external) the drift ledger documents
          val natT = fieldSparkType("f", s)
          require(natT != StringType, s"AvroIo: unexpected string source $s")
          val nat = compile(s, natT, resolved)
          val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(natT)
          rd => {
            val v = nat(rd)
            if (v == null) null
            else UTF8String.fromString(String.valueOf(toScala(v)))
          }
        case BooleanType => rd => java.lang.Boolean.valueOf(rd.readBoolean())
        case IntegerType | DateType => rd => java.lang.Integer.valueOf(rd.readInt())
        case LongType if s.getType == Schema.Type.INT =>
          // unreachable under readerTypeFor (widening becomes a reader
          // LONG the resolver promotes), but harmless and total
          rd => java.lang.Long.valueOf(rd.readInt().toLong)
        case LongType => rd => java.lang.Long.valueOf(rd.readLong())
        case TimestampType | TimestampNTZType =>
          s.getLogicalType match {
            case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis =>
              rd => java.lang.Long.valueOf(Math.multiplyExact(rd.readLong(), 1000L))
            case _ => rd => java.lang.Long.valueOf(rd.readLong())
          }
        case FloatType => rd => java.lang.Float.valueOf(rd.readFloat())
        case DoubleType => rd => java.lang.Double.valueOf(rd.readDouble())
        case BinaryType if s.getType == Schema.Type.FIXED =>
          val size = s.getFixedSize
          rd => { val b = new Array[Byte](size); rd.readFixed(b, 0, size); b }
        case BinaryType =>
          var scratch: java.nio.ByteBuffer = null
          rd => { val bb = rd.readBytes(scratch); scratch = bb; bbBytes(bb) }
        case t: DecimalType =>
          val scale = s.getLogicalType.asInstanceOf[LogicalTypes.Decimal].getScale
          if (s.getType == Schema.Type.FIXED) {
            val size = s.getFixedSize
            rd => {
              val b = new Array[Byte](size); rd.readFixed(b, 0, size)
              Decimal(BigDecimal(new java.math.BigDecimal(
                new java.math.BigInteger(b), scale)), t.precision, t.scale)
            }
          } else {
            var scratch: java.nio.ByteBuffer = null
            rd => {
              val bb = rd.readBytes(scratch); scratch = bb
              Decimal(BigDecimal(new java.math.BigDecimal(
                new java.math.BigInteger(bbBytes(bb)), scale)), t.precision, t.scale)
            }
          }
        case tt: StructType =>
          val n = s.getFields.size
          require(n == tt.length,
            s"AvroIo: reader record arity $n != target arity ${tt.length}")
          val fieldReaders = new Array[ValueReader](n)
          var i = 0
          while (i < n) {
            fieldReaders(i) = compile(s.getFields.get(i).schema(), tt.fields(i).dataType, resolved)
            i += 1
          }
          if (resolved) { rd =>
            val row = new GenericInternalRow(n)
            val order = rd.asInstanceOf[org.apache.avro.io.ResolvingDecoder].readFieldOrder()
            var j = 0
            while (j < order.length) {
              val pos = order(j).pos()
              row.update(pos, fieldReaders(pos)(rd))
              j += 1
            }
            row
          } else { rd =>
            val row = new GenericInternalRow(n)
            var j = 0
            while (j < n) {
              row.update(j, fieldReaders(j)(rd))
              j += 1
            }
            row
          }
        case ta: ArrayType =>
          val elem = compile(s.getElementType, ta.elementType, resolved)
          rd => {
            val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
            var n = rd.readArrayStart()
            while (n > 0) {
              var i = 0L
              while (i < n) { buf += elem(rd); i += 1 }
              n = rd.arrayNext()
            }
            new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
          }
        case tm: MapType =>
          val value = compile(s.getValueType, tm.valueType, resolved)
          val scratch = new org.apache.avro.util.Utf8
          rd => {
            val ks = scala.collection.mutable.ArrayBuffer.empty[Any]
            val vs = scala.collection.mutable.ArrayBuffer.empty[Any]
            var n = rd.readMapStart()
            while (n > 0) {
              var i = 0L
              while (i < n) {
                val u = rd.readString(scratch)
                ks += UTF8String.fromBytes(
                  java.util.Arrays.copyOfRange(u.getBytes, 0, u.getByteLength))
                vs += value(rd)
                i += 1
              }
              n = rd.mapNext()
            }
            new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(ks.toArray),
              new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.toArray))
          }
        case other => throw new IllegalArgumentException(
          s"AvroIo: cannot compile Avro ${s.getType} -> Spark $other")
      }
    }
  }

  /** The PROJECTION fast path's other half: compiled per-field byte
    * SKIPPERS for the reader⊂writer case, so a projected read decodes
    * through the raw BinaryDecoder — walk the writer's fields in wire
    * order, decode the projected ones, skip the rest — instead of
    * falling back to the ResolvingDecoder's per-value grammar walk
    * (measured: the resolver's overhead on a 6-column record exceeds
    * the cost of DECODING the 4 skipped numeric columns). Fixed-width
    * values skip by constant (`skipFixed`), varints by a read (a
    * varint's length is its encoding — there is nothing cheaper),
    * strings/bytes by their length prefix, arrays/maps by Avro's
    * block-size negative-count protocol when the writer recorded it. */
  private object CompiledSkipAvro {
    import org.apache.avro.io.Decoder

    type Skipper = Decoder => Unit

    def compileSkip(s: Schema): Skipper = s.getType match {
      case Schema.Type.NULL    => rd => rd.readNull()
      case Schema.Type.BOOLEAN => rd => { rd.readBoolean(); () }
      case Schema.Type.INT     => rd => { rd.readInt(); () }
      case Schema.Type.LONG    => rd => { rd.readLong(); () }
      case Schema.Type.FLOAT   => rd => rd.skipFixed(4)
      case Schema.Type.DOUBLE  => rd => rd.skipFixed(8)
      case Schema.Type.STRING  => rd => rd.skipString()
      case Schema.Type.BYTES   => rd => rd.skipBytes()
      case Schema.Type.ENUM    => rd => { rd.readEnum(); () }
      case Schema.Type.FIXED =>
        val n = s.getFixedSize; rd => rd.skipFixed(n)
      case Schema.Type.UNION =>
        val bs = s.getTypes.asScala.map(compileSkip).toArray
        rd => bs(rd.readIndex())(rd)
      case Schema.Type.RECORD =>
        val fs = s.getFields.asScala.map(f => compileSkip(f.schema())).toArray
        rd => { var i = 0; while (i < fs.length) { fs(i)(rd); i += 1 } }
      case Schema.Type.ARRAY =>
        val e = compileSkip(s.getElementType)
        rd => {
          var n = rd.skipArray()
          while (n > 0) {
            var i = 0L
            while (i < n) { e(rd); i += 1 }
            n = rd.skipArray()
          }
        }
      case Schema.Type.MAP =>
        val v = compileSkip(s.getValueType)
        rd => {
          var n = rd.skipMap()
          while (n > 0) {
            var i = 0L
            while (i < n) { rd.skipString(); v(rd); i += 1 }
            n = rd.skipMap()
          }
        }
    }

    /** writer-field-position → reader position (-1 = skip), defined
      * ONLY when the reader is a PURE projection of the writer: every
      * reader field exists in the writer by name with a structurally
      * identical schema — no widening, no null-fill defaults, no
      * aliasing. Reordered projections qualify (assembly follows the
      * wire order, writes land at reader positions); anything needing
      * resolution falls back to the ResolvingDecoder. */
    def projectionMap(writer: Schema, reader: Schema): Option[Array[Int]] = {
      if (writer.getType != Schema.Type.RECORD ||
          reader.getType != Schema.Type.RECORD) return None
      val wf = writer.getFields
      val positions = new Array[Int](wf.size)
      val matched = new Array[Boolean](reader.getFields.size)
      var i = 0
      while (i < wf.size) {
        val f = wf.get(i)
        val rf = reader.getField(f.name)
        if (rf == null) positions(i) = -1
        else if (rf.schema() == f.schema()) {
          positions(i) = rf.pos(); matched(rf.pos()) = true
        }
        else return None // type promotion: the resolver's job
        i += 1
      }
      if (matched.forall(identity)) Some(positions)
      else None // reader-only field needs a default: the resolver's job
    }
  }

  /** Render one catalyst value of `dt` as the drift ledger's pinned
    * external string: java.sql renderings for timestamp/date (the
    * datetime.java8API session flag must not move the strings),
    * BigDecimal.toString for decimals, utf-8 text for binary, Row-like
    * "[a,b]" for structs, "List(...)"/"Map(k -> v)" for collections in
    * decode order. Used only on stringified conflict columns — never
    * the hot path. */
  private def renderCatalyst(dt: DataType): Any => String = dt match {
    case StringType => v => v.toString // UTF8String
    case TimestampType => v =>
      DateTimeUtils.toJavaTimestamp(v.asInstanceOf[java.lang.Long]).toString
    case TimestampNTZType => v =>
      DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[java.lang.Long]).toString
    case DateType => v =>
      DateTimeUtils.toJavaDate(v.asInstanceOf[java.lang.Integer]).toString
    case _: DecimalType => v =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.toString
    case BinaryType => v =>
      new String(v.asInstanceOf[Array[Byte]], java.nio.charset.StandardCharsets.UTF_8)
    case st: StructType =>
      val renders = st.fields.map(f => renderCatalyst(f.dataType))
      v => {
        val r = v.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        val sb = new StringBuilder("[")
        var i = 0
        while (i < renders.length) {
          if (i > 0) sb.append(',')
          val cell = r.values(i)
          sb.append(if (cell == null) "null" else renders(i)(cell))
          i += 1
        }
        sb.append(']').toString
      }
    case at: ArrayType =>
      val render = renderCatalyst(at.elementType)
      v => v.asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.iterator
        .map(e => if (e == null) "null" else render(e))
        .mkString("List(", ", ", ")")
    case mt: MapType =>
      val render = renderCatalyst(mt.valueType)
      v => {
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayBasedMapData]
        val ks = m.keyArray.asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData].array
        val vs = m.valueArray.asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData].array
        ks.iterator.zip(vs.iterator)
          .map { case (k, x) =>
            s"$k -> ${if (x == null) "null" else render(x)}" }
          .mkString("Map(", ", ", ")")
      }
    case _ => v => String.valueOf(v) // numerics / boolean: boxed
  }

  private object CompiledUnsafeAvro {
    import org.apache.avro.io.Decoder
    import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
    import org.apache.spark.unsafe.types.UTF8String

    /** One top-level field: read its wire value off the decoder and
      * write it into the row buffer slot — primitively, no boxing. */
    type FieldWriter = (Decoder, UnsafeRowWriter, Int) => Unit

    /** The FLAT fast path: when every reader field is a (nullable)
      * primitive / string / enum / binary / decimal / date /
      * timestamp, records decode straight into an UnsafeRowWriter —
      * zero boxed values, one contiguous buffer per row (copied out
      * exact-size, so each emitted row is still a fresh object).
      * None = some field needs the boxed tree (nested types,
      * stringified conflicts). */
    def compile(s: Schema, target: StructType): Option[Array[FieldWriter]] = {
      if (s.getFields.size != target.length) return None
      val ws = new Array[FieldWriter](target.length)
      var i = 0
      while (i < target.length) {
        compileField(s.getFields.get(i).schema(), target.fields(i).dataType) match {
          case Some(w) => ws(i) = w
          case None => return None
        }
        i += 1
      }
      Some(ws)
    }

    private def compileField(s: Schema, target: DataType): Option[FieldWriter] =
      s.getType match {
        case Schema.Type.NULL =>
          Some((rd, w, i) => { rd.readNull(); w.setNullAt(i) })
        case Schema.Type.UNION =>
          val branches = s.getTypes.asScala.map(compileField(_, target))
          if (branches.exists(_.isEmpty)) None
          else {
            val bs = branches.map(_.get).toArray
            Some((rd, w, i) => bs(rd.readIndex())(rd, w, i))
          }
        case _ => target match {
          case BooleanType => Some((rd, w, i) => w.write(i, rd.readBoolean()))
          case IntegerType | DateType => Some((rd, w, i) => w.write(i, rd.readInt()))
          case LongType if s.getType == Schema.Type.INT =>
            Some((rd, w, i) => w.write(i, rd.readInt().toLong))
          case TimestampType | TimestampNTZType =>
            s.getLogicalType match {
              case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis =>
                Some((rd, w, i) =>
                  w.write(i, Math.multiplyExact(rd.readLong(), 1000L)))
              case _ => Some((rd, w, i) => w.write(i, rd.readLong()))
            }
          case LongType => Some((rd, w, i) => w.write(i, rd.readLong()))
          case FloatType => Some((rd, w, i) => w.write(i, rd.readFloat()))
          case DoubleType => Some((rd, w, i) => w.write(i, rd.readDouble()))
          case StringType if s.getType == Schema.Type.STRING =>
            val scratch = new org.apache.avro.util.Utf8
            // fromBytes WRAPS (no copy); the writer then copies into
            // the row buffer — one copy total, and the scratch is free
            // to be overwritten by the next read
            Some((rd, w, i) => {
              val u = rd.readString(scratch)
              w.write(i, UTF8String.fromBytes(u.getBytes, 0, u.getByteLength))
            })
          case StringType if s.getType == Schema.Type.ENUM =>
            val syms = s.getEnumSymbols.asScala.map(UTF8String.fromString).toArray
            Some((rd, w, i) => w.write(i, syms(rd.readEnum())))
          case BinaryType if s.getType == Schema.Type.FIXED =>
            val size = s.getFixedSize
            val scratch = new Array[Byte](size) // write() copies immediately
            Some((rd, w, i) => { rd.readFixed(scratch, 0, size); w.write(i, scratch) })
          case BinaryType if s.getType == Schema.Type.BYTES =>
            Some(new FieldWriter {
              private var scratch: java.nio.ByteBuffer = _
              def apply(rd: Decoder, w: UnsafeRowWriter, i: Int): Unit = {
                val bb = rd.readBytes(scratch); scratch = bb
                w.write(i, bb.array(), bb.arrayOffset() + bb.position(), bb.remaining())
              }
            })
          case t: DecimalType
              if s.getType == Schema.Type.BYTES || s.getType == Schema.Type.FIXED =>
            val scale = s.getLogicalType.asInstanceOf[LogicalTypes.Decimal].getScale
            val boxed = CompiledAvro.compile(s, t, resolved = false) // leaf: no record walk inside
            Some((rd, w, i) => {
              val _ = scale // decoded inside the boxed leaf at the same scale
              w.write(i, boxed(rd).asInstanceOf[Decimal], t.precision, t.scale)
            })
          case _ => None // nested / stringified: boxed tree
        }
      }
  }

  /** DatumReader face over the compiled decoders for DataFileReader.
    * Three modes, decided per file once DataFileReader injects the
    * file's writer schema via setSchema:
    *  - DIRECT (writer == reader, the single-generation full-read
    *    case): the raw block BinaryDecoder, fields in schema order —
    *    no ResolvingDecoder, so none of its per-value grammar-walk
    *    overhead;
    *  - PROJECTED (reader ⊂ writer, identical field schemas): still
    *    the raw BinaryDecoder — walk the writer's wire order, decode
    *    projected fields into their reader positions, SKIP the rest
    *    through [[CompiledSkipAvro]]'s compiled skippers;
    *  - RESOLVING (evolution / promotion / defaults): one
    *    ResolvingDecoder built lazily, configured per datum and
    *    drained after — GenericDatumReader's own protocol, minus its
    *    interpretive walk.
    * Flat schemas additionally take the UnsafeRow path
    * ([[CompiledUnsafeAvro]] — zero boxing, one buffer per row);
    * anything nested or stringified takes the boxed tree
    * ([[CompiledAvro]]). */
  /** Decode-mode tallies, one increment per reader initialization
    * (per file×split, never per record): lets specs assert WHICH path
    * a read engaged — a projection silently falling back to the
    * resolver would still be correct, just slow, and timing asserts
    * are co-tenant-flaky. Meaningful in local mode only (task and
    * driver share the JVM). */
  private[graft] object DecodeModes {
    val direct = new java.util.concurrent.atomic.AtomicLong
    val projected = new java.util.concurrent.atomic.AtomicLong
    val resolving = new java.util.concurrent.atomic.AtomicLong
  }

  private final class CompiledDatumReader(reader: Schema, target: StructType)
      extends org.apache.avro.io.DatumReader[AnyRef] {
    private var actual: Schema = _
    private var direct = false
    private var initialized = false
    private var resolver: org.apache.avro.io.ResolvingDecoder = _
    private var boxedRoot: CompiledAvro.ValueReader = _
    // PROJECTED mode state: writer-pos -> reader-pos (or -1), the
    // skippers for the -1 slots, and (boxed path only) per-field
    // readers indexed by reader position
    private var projMap: Array[Int] = _
    private var projSkips: Array[CompiledSkipAvro.Skipper] = _
    private var boxedFields: Array[CompiledAvro.ValueReader] = _
    private val unsafeWriters = CompiledUnsafeAvro.compile(reader, target)
    private val rowWriter = unsafeWriters.map(_ =>
      new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(
        target.length))
    private val unsafeN = target.length
    override def setSchema(s: Schema): Unit = actual = s
    override def read(reuse: AnyRef, in: org.apache.avro.io.Decoder): AnyRef = {
      if (!initialized) {
        direct = actual == reader
        if (!direct) {
          projMap = CompiledSkipAvro.projectionMap(actual, reader).orNull
          if (projMap != null) {
            projSkips = new Array[CompiledSkipAvro.Skipper](projMap.length)
            var i = 0
            while (i < projMap.length) {
              if (projMap(i) < 0)
                projSkips(i) =
                  CompiledSkipAvro.compileSkip(actual.getFields.get(i).schema())
              i += 1
            }
          } else
            resolver = org.apache.avro.io.DecoderFactory.get().resolvingDecoder(
              Schema.applyAliases(actual, reader), reader, null)
        }
        if (unsafeWriters.isEmpty) {
          if (projMap != null)
            // projected assembly follows the WIRE order, so the boxed
            // path needs per-field closures, not the record closure
            boxedFields = Array.tabulate(reader.getFields.size)(i =>
              CompiledAvro.compile(
                reader.getFields.get(i).schema(), target.fields(i).dataType,
                resolved = false))
          else
            boxedRoot = CompiledAvro.compile(reader, target, resolved = !direct)
        }
        (if (direct) DecodeModes.direct
         else if (projMap != null) DecodeModes.projected
         else DecodeModes.resolving).incrementAndGet(): Unit
        initialized = true
      }
      val projected = projMap != null
      val rd: org.apache.avro.io.Decoder =
        if (direct || projected) in else { resolver.configure(in); resolver }
      val v = unsafeWriters match {
        case Some(ws) =>
          val w = rowWriter.get
          w.reset()
          w.zeroOutNullBytes()
          if (direct) {
            var j = 0
            while (j < unsafeN) { ws(j)(rd, w, j); j += 1 }
          } else if (projected) {
            var j = 0
            while (j < projMap.length) {
              val p = projMap(j)
              if (p < 0) projSkips(j)(rd) else ws(p)(rd, w, p)
              j += 1
            }
          } else {
            val order = resolver.readFieldOrder()
            var j = 0
            while (j < order.length) {
              val pos = order(j).pos()
              ws(pos)(rd, w, pos)
              j += 1
            }
          }
          // exact-size copy: each emitted row owns its bytes, the
          // writer's grow-buffer is reused for the next record
          w.getRow.copy()
        case None =>
          if (projected) {
            val row = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(unsafeN)
            var j = 0
            while (j < projMap.length) {
              val p = projMap(j)
              if (p < 0) projSkips(j)(rd) else row.update(p, boxedFields(p)(rd))
              j += 1
            }
            row
          } else boxedRoot(rd)
      }
      if (!direct && !projected) resolver.drain()
      v.asInstanceOf[AnyRef]
    }
  }

  /** One read task's byte range: decode the blocks whose sync marker
    * falls in [start, end). Doubles as the DSv2 InputPartition — the
    * driver plans these, one task decodes each. */
  private[sources] final case class AvroSplit(path: String, len: Long,
      start: Long, end: Long, schemaIdx: Int)
    extends org.apache.spark.sql.connector.read.InputPartition

  /** The driver-side read plan for a directory: per-file (path, len,
    * writer-schema index), the distinct writer-schema JSONs in
    * first-seen file order, and the unified Spark schema. Built from
    * the cached header scan — re-planning an unchanged directory is
    * metadata-only. */
  private[sources] final case class AvroReadPlan(
      files: Seq[(String, Long, Int)], genJsons: Array[String],
      unified: StructType)

  private[sources] def planRead(spark: SparkSession, path: String,
                                conflicts: PsIO.ConflictPolicy): AvroReadPlan = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fs = new HPath(path).getFileSystem(conf.value)
    val files = listDataFiles(fs, path)
    require(files.nonEmpty, s"AvroIo.readAvro: no files under $path")
    val headers = fileHeadersCached(spark, path, files, conf)
    // distinct writer schemas in first-seen file order (usually a
    // handful of generations, however many files carry them)
    val schemaJsons = scala.collection.mutable.LinkedHashMap[String, Int]()
    val withIdx = headers.map { case (f, len, sj, _) =>
      (f, len, schemaJsons.getOrElseUpdate(sj, schemaJsons.size))
    }
    val genSchemas = schemaJsons.keys.toArray
    val unified = unifiedSchema(
      genSchemas.toSeq.map(sj => toSparkSchema(new Schema.Parser().parse(sj))),
      conflicts)
    require(unified.nonEmpty,
      s"AvroIo.readAvro: no unifiable columns across the writer schemas under $path")
    AvroReadPlan(withIdx, genSchemas, unified)
  }

  private[sources] def computeSplits(plan: AvroReadPlan,
                                     splitBytes: Long): Array[AvroSplit] =
    plan.files.flatMap { case (f, len, si) =>
      (0L until len by splitBytes.max(1L)).map(s =>
        AvroSplit(f, len, s, math.min(s + splitBytes.max(1L), len), si))
    }.toArray

  /** Decode one split: sync to the first block marker at/after
    * `sp.start`, stop at the first past `sp.end`. The resolving
    * decoder does the projection (writer fields absent from `target`
    * skip their bytes), null-fill (reader-only fields default null),
    * and primitive widening DURING decode against
    * [[readerSchemaFor]]'s target-shaped schema, and the COMPILED
    * per-field closures ([[CompiledAvro]] via [[CompiledDatumReader]])
    * materialize each record as a GenericInternalRow with
    * catalyst-native leaves — one materialization per record, no
    * interpretive per-value schema walk. Each emitted InternalRow is
    * a fresh object — downstream operators may buffer rows without
    * copying, whatever the codegen config. Self-closing on
    * exhaustion; `close()` for early termination (limits, task
    * kill). */
  private[sources] final class SplitRows(
      sp: AvroSplit, writerJson: String, target: StructType,
      conf: org.apache.spark.util.SerializableConfiguration)
      extends Iterator[org.apache.spark.sql.catalyst.InternalRow] with AutoCloseable {
    private val writer = new Schema.Parser().parse(writerJson)
    private val readerSchema = readerSchemaFor(writer, target)
    private val r: DataFileReader[AnyRef] = {
      val in = new HPath(sp.path).getFileSystem(conf.value).open(new HPath(sp.path))
      // ctor header-parse or sync-scan throws (truncated/corrupt
      // file) happen BEFORE any completion hook exists — close the
      // stream on that path or retries leak descriptors
      try {
        val rr = new DataFileReader[AnyRef](
          new HadoopSeekableInput(in, sp.len),
          new CompiledDatumReader(readerSchema, target))
        // the header ends with the 16-byte sync marker, so sync(0)
        // lands on the first block; later starts land on the first
        // block boundary in-range
        rr.sync(sp.start)
        rr
      } catch { case e: Throwable => in.close(); throw e }
    }
    private var closed = false
    def close(): Unit = if (!closed) { r.close(); closed = true }
    def hasNext: Boolean = {
      val h = !closed && r.hasNext && !r.pastSync(sp.end)
      if (!h) close()
      h
    }
    def next(): org.apache.spark.sql.catalyst.InternalRow =
      r.next(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
  }

  /** Read a file or directory of Avro container files as a DataFrame,
    * resolving mixed writer-schema generations (the format's normal
    * state — that is why schema registries exist) into ONE unified
    * frame under the same drift discipline as readParquetEvolved:
    * columns missing from a generation null-fill, type drift along the
    * lossless lattice (int widths, int/float -> double) widens per
    * writer schema BEFORE the union, irreconcilable re-types follow
    * `conflicts` (dropped by default, or carried as string). Use
    * [[avroSchemaDrift]] for the per-column disposition ledger.
    *
    * Scale shape: headers are read distributedly (one small job), then
    * decoding parallelizes over SUB-FILE byte ranges — each task syncs
    * to the first Avro block marker in its range and stops at the
    * first past it (the public avro-mapred split protocol), so one
    * 10 GB file among small ones scans with ~len/`maxSplitBytes`-way
    * parallelism instead of straggling on a single task.
    * `maxSplitBytes` defaults to spark.sql.files.maxPartitionBytes.
    *
    * `columns` is projection PUSHDOWN, not post-decode pruning: the
    * requested columns become the per-file READER schema, and Avro's
    * resolving decoder then SKIPS every other field's bytes — the
    * row-format analogue of parquet's ReadSchema pruning (decode CPU
    * is the Avro scan bottleneck; a 2-column projection of a 50-column
    * dump must not pay 50 decodes). Unknown names fail loudly. The
    * same pruning happens WITHOUT the parameter through Catalyst: the
    * scan is a DataSourceV2 relation ([[AvroDataSource]]), so a
    * `.select(...)` above it prunes the reader schema natively and the
    * plan shows a named `GraftAvroScan` with its projected columns —
    * PlanLint-visible, per-scan input metrics, maxPartitionBytes
    * respected. */
  def readAvro(spark: SparkSession, path: String,
               conflicts: PsIO.ConflictPolicy = PsIO.DropConflicts,
               maxSplitBytes: Option[Long] = None,
               columns: Option[Seq[String]] = None): DataFrame = {
    var reader = spark.read.format(classOf[AvroDataSource].getName)
      .option(AvroDataSource.ConflictsOption, conflicts match {
        case PsIO.DropConflicts      => "drop"
        case PsIO.StringifyConflicts => "stringify"
      })
    maxSplitBytes.foreach(b => reader = reader.option(AvroDataSource.SplitOption, b))
    val df = reader.load(path)
    columns match {
      case None => df
      case Some(cs) =>
        require(cs.nonEmpty && cs.distinct.size == cs.size,
          "AvroIo.readAvro: empty or duplicate projection columns")
        val unified = df.schema
        cs.foreach(c => if (!unified.fieldNames.contains(c))
          throw new IllegalArgumentException(
            s"AvroIo.readAvro: column $c not in the unified schema " +
              s"(${unified.fieldNames.mkString(", ")})"))
        df.select(cs.map(org.apache.spark.sql.functions.col): _*)
    }
  }

  /** Read a landing zone as a STREAM: each trigger picks up the Avro
    * container files that appeared since the last one and decodes them
    * with the same machinery as [[readAvro]] (sync-marker sub-file
    * splits, per-writer resolving decoder, filter/projection pushdown
    * through the DSv2 face). Exactly-once across restarts: the files
    * belonging to each micro-batch are logged under the query's
    * checkpoint, so an uncommitted batch replays over exactly its
    * original files. The unified schema is pinned at stream start from
    * the files then present (pass `schema` to start against an empty
    * zone); later generations project onto it — absent columns
    * null-fill, widths widen, a conflicting re-type fails the batch
    * loudly. `maxFilesPerTrigger` bounds a backlogged zone's batches.
    *
    * Composes with the existing streaming faces: feed it to
    * [[graft.streaming.StreamingOps.streamingDriftMonitorRefreshing]]
    * for continuous drift scoring of the zone, or gate + promote per
    * micro-batch for a continuously-maintained lake. */
  def readAvroStream(spark: SparkSession, path: String,
                     conflicts: PsIO.ConflictPolicy = PsIO.DropConflicts,
                     maxSplitBytes: Option[Long] = None,
                     maxFilesPerTrigger: Option[Int] = None,
                     schema: Option[org.apache.spark.sql.types.StructType] = None,
                     logCompactInterval: Int =
                       AvroDataSource.DefaultLogCompactInterval,
                     maxFileAgeMs: Option[Long] = None)
      : DataFrame = {
    var reader = spark.readStream.format(classOf[AvroDataSource].getName)
      .option(AvroDataSource.ConflictsOption, conflicts match {
        case PsIO.DropConflicts      => "drop"
        case PsIO.StringifyConflicts => "stringify"
      })
      .option(AvroDataSource.LogCompactOption, logCompactInterval)
    maxSplitBytes.foreach(b =>
      reader = reader.option(AvroDataSource.SplitOption, b))
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option(AvroDataSource.MaxFilesOption, n))
    maxFileAgeMs.foreach(a =>
      reader = reader.option(AvroDataSource.MaxFileAgeOption, a))
    schema.foreach(sc => reader = reader.schema(sc))
    reader.load(path)
  }

  /** Write a streaming frame INTO a landing zone — the engine-side
    * version of a Kafka-connect Avro sink: one container file per
    * (epoch, partition), deterministic names, exactly-once across
    * restarts via dot-prefixed attempts + an epoch marker log under
    * `_graft_commits/` (see AvroStreamingWrite for the protocol). The
    * zone it produces is exactly what [[readAvro]], [[readAvroStream]],
    * [[avroSchemaDrift]], and [[compactAvro]] consume — a query's
    * schema change across restarts simply lands as a new writer-schema
    * generation for the read lattice to unify.
    *
    * Returns the configured writer; set a trigger/outputMode if needed
    * and `.start()` it. Append mode only (a landing zone is
    * append-only by definition). */
  def avroStreamWriter(df: DataFrame, path: String,
                       codec: Option[String] = Some("deflate"),
                       logCompactInterval: Int =
                         AvroDataSource.DefaultLogCompactInterval)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(df.isStreaming, "AvroIo.avroStreamWriter: df must be a streaming frame")
    df.writeStream.format(classOf[AvroDataSource].getName)
      .option("path", path)
      .option(AvroDataSource.CodecOption, codec.map(_.toLowerCase).getOrElse("none"))
      .option(AvroDataSource.LogCompactOption, logCompactInterval)
  }

  /** Zone maintenance for streaming-sink litter: delete (a) dot-prefixed
    * attempt files and (b) sink-pattern files whose (queryId, epoch)
    * marker is absent — both reader-INVISIBLE already, but they consume
    * storage forever when their producer died for good (a crashed query
    * restarted from a fresh checkpoint gets a NEW queryId, so nothing
    * ever replays the old id's partial epochs). `olderThanMs` is the
    * safety margin against a LIVE producer's in-flight epoch: a healthy
    * commit follows its task writes within one trigger, so anything
    * unmarked and older than the margin is abandoned. Also sweeps the
    * marker log itself: per-epoch markers the sink's high-water
    * roll-up already subsumes, and whole `_graft_commits/<queryId>/`
    * directories for DEAD query ids (no data files left in the zone,
    * every marker older than the margin — a fresh checkpoint gets a
    * new id, so nothing ever consults the old directory again).
    * Returns the number of files deleted. Run it beside
    * [[compactAvro]] on the maintenance cadence. */
  def vacuumAvro(spark: SparkSession, path: String,
                 olderThanMs: Long = 24L * 3600 * 1000): Int = {
    require(olderThanMs >= 0, s"AvroIo.vacuumAvro: negative margin $olderThanMs")
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    val commitsRoot = new HPath(p, SinkCommitsDir)
    val commits = sinkCommittedState(fs, commitsRoot)
    val zoneFiles = fs.listStatus(p).filter(_.isFile)
    val doomed = zoneFiles.filter(s => s.getModificationTime < cutoff && {
      val n = s.getPath.getName
      n.startsWith(".attempt-") || (n match {
        case SinkFileName(qid, epoch) => !commits.committed(qid, epoch.toLong)
        case _ => false
      })
    })
    doomed.foreach(s => fs.delete(s.getPath, false): Unit)
    var removed = doomed.length
    // Marker-directory hygiene. Live query dirs: prune per-epoch
    // markers the high-water file already subsumes (the sink prunes
    // them itself at roll-up, but a producer that died mid-prune — or
    // predates marker compaction — leaves them behind). Dead query
    // dirs: a query id with NO remaining data files in the zone gates
    // nothing (a fresh checkpoint gets a NEW id, so nothing ever
    // replays the old one) — once its newest marker is older than the
    // margin, drop the whole directory. The data-file check happens
    // AFTER the uncommitted-litter sweep above, against the same
    // listing cutoff discipline: a producer idle longer than the
    // margin that then resumes under the same query id is the one
    // hazard, so size `olderThanMs` above any plausible producer gap.
    val survivors = (zoneFiles.map(_.getPath.getName).toSet -- doomed.map(_.getPath.getName))
    val liveQids = survivors.flatMap {
      case SinkFileName(qid, _) => Some(qid)
      case _ => None
    }
    if (fs.exists(commitsRoot)) {
      fs.listStatus(commitsRoot).filter(_.isDirectory).foreach { qd =>
        val qid = qd.getPath.getName
        val entries = fs.listStatus(qd.getPath).filter(_.isFile)
        if (!liveQids(qid) &&
            entries.forall(_.getModificationTime < cutoff)) {
          val n = entries.length
          if (fs.delete(qd.getPath, true)) removed += n
        } else commits.hw.get(qid).foreach { hw =>
          val subsumed = entries.filter(e =>
            e.getPath.getName.toLongOption.exists(_ <= hw) ||
              sinkHwEpoch(e.getPath.getName).exists(_ < hw))
          subsumed.foreach(e => fs.delete(e.getPath, false): Unit)
          removed += subsumed.length
        }
      }
    }
    removed
  }

  /** The drift ledger for an Avro directory: one row per column seen in
    * ANY writer-schema generation with its disposition — action ∈
    * stable | null_fill | widen | quarantine — the unified type, and
    * the per-generation types in first-seen order ("-" where absent).
    * Same contract as [[PsIO.parquetSchemaDrift]]; header bytes only. */
  def avroSchemaDrift(spark: SparkSession, path: String): DataFrame = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fs = new HPath(path).getFileSystem(conf.value)
    val files = listDataFiles(fs, path)
    require(files.nonEmpty, s"AvroIo.avroSchemaDrift: no files under $path")
    val gens = fileHeadersCached(spark, path, files, conf).map(_._3).distinct
      .map(sj => toSparkSchema(new Schema.Parser().parse(sj)))
    val names = scala.collection.mutable.LinkedHashSet[String]()
    gens.foreach(_.foreach(f => names += f.name))
    val rows = names.toSeq.map { nm =>
      val perGen = gens.map(_.find(_.name == nm).map(_.dataType))
      val present = perGen.flatten
      val unified = unifyAvroTypes(present)
      val action =
        if (unified.isEmpty) "quarantine"
        else if (present.map(_.simpleString).distinct.size > 1) "widen"
        else if (perGen.exists(_.isEmpty)) "null_fill"
        else "stable"
      (nm, action, unified.map(_.simpleString).getOrElse("-"),
        perGen.map(_.map(_.simpleString).getOrElse("-")).mkString(","))
    }
    spark.createDataFrame(rows)
      .toDF("column", "action", "unified_type", "types_seen")
  }
}
