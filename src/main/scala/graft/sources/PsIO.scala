package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFileFormat}
import org.apache.spark.sql.types.StructType
import graft.api.PsDataFrame

/** Ingest / egress.
  *
  * The reference's `read_csv` has three code paths — in-memory pandas,
  * chunked 10k-row loading when predicted OOM, and a direct SQLite
  * `.import` with types sniffed from the first 1,000 lines (reference:
  * pandasql/io.py:12-66). On Spark all three collapse: file sources are
  * already streamed and partitioned (`spark.sql.files.maxPartitionBytes`
  * splits); out-of-core is native. At 100 TB the scan parallelism comes
  * from file splits — no driver-side chunk loop.
  *
  * Parquet schemas are read from metadata, never from data: every
  * parquet read in the library goes through [[parquet]], whose
  * [[GraftParquetFormat]] reads the footers Spark's inference would pick
  * on the driver, so composing a query starts no Spark job (LazinessSpec)
  * and each read lists its path once. CSV and JSON readers without a
  * schema still infer it from the data, which is a job.
  */
object PsIO {

  def readParquet(spark: SparkSession, path: String): PsDataFrame =
    PsDataFrame(parquet(spark, path))

  /** `spark.read.parquet(paths: _*)`, the same relation (Spark's file
    * index, partition discovery, options and scan), with the data schema
    * read from the footers on the driver instead of in an inference job:
    * see [[GraftParquetFormat]]. A source lint (SessionBuilderLintSpec)
    * keeps every other schema-less parquet read out of `src/main`. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.format(classOf[GraftParquetFormat].getName).load(paths: _*)

  /** reference io.py:12-28 — header + schema inference on by default;
    * `sep`/`names` mirror the pandas kwargs the reference forwards.
    * pandas semantics for the interaction: supplying `names` with the
    * DEFAULT header treats the file as headerless (pd.read_csv flips
    * header to None), so the first line is data, not a casualty of the
    * rename. Pass `header = Some(true)` explicitly to read past a real
    * header row and rename positionally. */
  def readCsv(
      spark: SparkSession,
      path: String,
      header: Option[Boolean] = None,
      inferSchema: Boolean = true,
      sep: String = ",",
      names: Seq[String] = Nil): PsDataFrame = {
    val useHeader = header.getOrElse(names.isEmpty)
    val df = spark.read
      .option("header", useHeader.toString)
      .option("inferSchema", inferSchema.toString)
      .option("sep", sep)
      .csv(path)
    PsDataFrame(if (names.nonEmpty) df.toDF(names: _*) else df)
  }

  /** reference io.py:31-33. */
  def readJson(spark: SparkSession, path: String): PsDataFrame =
    PsDataFrame(spark.read.json(path))

  /** Lenient JSONL ingestion with corrupt-line quarantine. At crawl
    * scale malformed lines are a certainty (truncated writes, encoding
    * garbage, concatenated objects); failing the job (FAILFAST) loses
    * the batch and dropping them (DROPMALFORMED) loses the evidence.
    * PERMISSIVE mode parses good lines normally and lands each bad
    * line's RAW TEXT in `_corrupt` (null for good rows) — filter with
    * [[jsonGood]] / [[jsonQuarantined]] and route the quarantine to a
    * triage sink. Pass `schema` to skip the inference pass (at 100 TB
    * always: inference is a full extra scan).
    *
    * Mechanics: the scan is a TEXT source with `from_json` doing the
    * parsing (same parser, same PERMISSIVE semantics) rather than the
    * JSON source directly — Spark refuses JSON-source scans whose
    * referenced columns prune down to only the internal corrupt column
    * (exactly what a quarantine count does), and the documented
    * workaround is caching the corpus; parsing from text sidesteps the
    * restriction with no cache. JSONL only (one object per line; blank
    * lines ignored), which is what corpus shards are. */
  def readJsonQuarantine(
      spark: SparkSession,
      path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): PsDataFrame = {
    import org.apache.spark.sql.functions.{col, from_json, length, trim}
    import org.apache.spark.sql.types.{StringType, StructType}
    val data = schema.getOrElse(StructType(
      spark.read.json(path).schema.fields.filterNot(_.name == "_corrupt_record")))
    require(!data.fieldNames.contains("_corrupt"),
      "the data schema may not contain a _corrupt column")
    val full = StructType(data.fields).add("_corrupt", StringType)
    PsDataFrame(spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), full,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")).as("j"))
      .select(col("j.*")))
  }

  /** Parsed rows of a [[readJsonQuarantine]] frame, corrupt column shed. */
  def jsonGood(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.filter(col("_corrupt").isNull).drop("_corrupt")
  }

  /** Quarantined rows: the raw malformed line plus the (all-null) data
    * columns — keep them; the raw line is the repair/triage evidence. */
  def jsonQuarantined(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.filter(col("_corrupt").isNotNull)
  }

  /** Lenient CSV ingestion with corrupt-line quarantine — the CSV twin
    * of [[readJsonQuarantine]] for the crawl feeds that arrive as CSV
    * shards: an uncastable cell (text in a numeric column),
    * single-line broken quoting, or a wrong token count (truncated /
    * over-long line) lands the RAW line in `_corrupt` instead of
    * poisoning the scan. Note this is STRICTER than Spark's csv file
    * source, which silently null-pads short rows and drops extra
    * tokens — `from_csv` flags both, agreeing exactly with DuckDB's
    * ignore_errors skip set, and for a quarantine that strictness is
    * the point: a truncated line is evidence, not a row. Parses from
    * text + `from_csv` for the same prune-safety reason as the JSON
    * twin.
    *
    * Preconditions (the JSONL-only analogues):
    *  - ONE RECORD PER LINE: quoted fields with embedded newlines are
    *    not supported (the text scan splits them) — multiline CSV
    *    needs the csv file source's multiLine mode, which cannot carry
    *    this quarantine contract;
    *  - the uncastable-cell class requires an EXPLICIT `schema`: the
    *    default inference adapts to the dirty file (a numeric column
    *    polluted by text infers as string), after which only
    *    structural errors quarantine;
    *  - each shard's header line is shed by exact match against the
    *    schema's `sep`-joined field names — supply the schema exactly
    *    as the files spell their header (spacing/quoting included); a
    *    data line that happens to equal the header is the remaining
    *    blind spot. */
  def readCsvQuarantine(
      spark: SparkSession,
      path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      sep: String = ","): PsDataFrame = {
    import org.apache.spark.sql.functions.{col, from_csv, length, lit, trim}
    import org.apache.spark.sql.types.{StringType, StructType}
    val data = schema.getOrElse(
      spark.read.option("header", "true").option("inferSchema", "true")
        .option("sep", sep).csv(path).schema)
    require(!data.fieldNames.contains("_corrupt"),
      "the data schema may not contain a _corrupt column")
    val full = StructType(data.fields).add("_corrupt", StringType)
    val headerLine = data.fieldNames.mkString(sep)
    PsDataFrame(spark.read.text(path)
      .filter(length(trim(col("value"))) > 0
        && trim(col("value")) =!= lit(headerLine))
      .select(from_csv(col("value"), full,
        Map("sep" -> sep, "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")).as("c"))
      .select(col("c.*")))
  }

  /** The corrupt-column faces are format-agnostic — CSV names for the
    * same filters. */
  def csvGood(df: DataFrame): DataFrame = jsonGood(df)
  def csvQuarantined(df: DataFrame): DataFrame = jsonQuarantined(df)

  /** reference core.py:626-630 (to_csv forces compute then delegates). */
  def toCsv(df: DataFrame, path: String, header: Boolean = true,
      sep: String = ","): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString).option("sep", sep).csv(path)

  /** reference core.py:632-634. */
  def toJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** `codec`: file compression — None keeps Spark's default (snappy);
    * "zstd" trades ~equal scan speed for 25-35% smaller files (pure-JVM
    * zstd-jni, no native hadoop needed), the archival choice when the
    * corpus is written once and scanned for months. */
  def toParquet(df: DataFrame, path: String, codec: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).parquet(path)
  }

  /** reference io.py:35-36 — local NumPy array ingestion; 1-D ->
    * (idx, value), 2-D -> (idx, value ARRAY). See [[Npy]] for the
    * format/scale notes. */
  def readNpy(spark: SparkSession, path: String): PsDataFrame =
    Npy.readNpy(spark, path)

  def readNpz(spark: SparkSession, path: String, entry: String): PsDataFrame =
    Npy.readNpz(spark, path, entry)

  def toNpy(df: DataFrame, valueCol: String, path: String): Unit =
    Npy.toNpy(df, valueCol, path)

  /** reference io.py:37-40 / core.py:640 — pickled pandas DataFrame
    * ingestion/egress via a pure-Scala codec for the public pickle wire
    * format; see [[Pickle]] for supported dtypes and the local-object
    * scale posture (driver-side, like `read_numpy`). */
  def readPickle(spark: SparkSession, path: String): PsDataFrame =
    Pickle.readPickle(spark, path)

  def toPickle(df: DataFrame, path: String): Unit =
    Pickle.toPickle(df, path)

  /** Arrow IPC file (pandas `read_feather`/`to_feather` v2) — see
    * [[ArrowIpc]] for supported types and the local-object scale posture
    * (driver-side, like `read_numpy`/`read_pickle`). */
  def readArrow(spark: SparkSession, path: String): PsDataFrame =
    PsDataFrame(ArrowIpc.readArrow(spark, path))

  def toArrow(df: DataFrame, path: String): Unit =
    ArrowIpc.toArrow(df, path)

  /** Sharded JSONL egress — the training-data interchange format: one
    * compressed .json(l) file per shard, each at most `maxRecordsPerShard`
    * rows, emitted by the writers in parallel (`maxRecordsPerFile` rolls a
    * new file when a writer hits the cap, so shard size is bounded without
    * a repartition pass). Loaders stream shards independently, so bounded
    * shard size IS the parallelism contract downstream. gzip by default:
    * text corpora compress 5-10x and egress at 100 TB is network-bound. */
  def toJsonlShards(
      df: DataFrame,
      path: String,
      maxRecordsPerShard: Long,
      compression: String = "gzip"): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerShard.toString)
      .option("compression", compression)
      .json(path)

  /** Record provenance: stamp each row with the file it came from and
    * its position in that file, from the scan's constant-folded
    * `_metadata` struct + a per-file position window. The "trace this
    * training document back to its source shard" primitive — after ten
    * dedup/filter/mix stages, (source_file, source_pos) is what lets a
    * bad generation be audited back to the exact ingested line. Apply
    * AT SCAN TIME (the hidden `_metadata` struct resolves only directly
    * over a file source); the stamped columns then ride the row through
    * any downstream relational op.
    *
    * Position source, in preference order: `_metadata.row_index` (exact
    * in-file row position, contractual for parquet since Spark 3.5 —
    * zero extra cost, no shuffle); otherwise a per-file window ordered
    * by (`_metadata.file_block_start`, monotonically_increasing_id) so
    * in-file order is pinned by the split's byte offset rather than by
    * partition-id packing order, which is not a stable contract. The
    * window path costs one shuffle keyed by file — that is what "stable
    * position within the file" means distributed; skip posCol-consumers
    * if file granularity suffices. */
  def withProvenance(
      df: DataFrame,
      fileCol: String = "source_file",
      posCol: String = "source_pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val stamped = df.withColumn(fileCol, col("_metadata.file_path"))
    // select() analyzes eagerly, so this probes whether the source
    // exposes row_index (parquet does; json/csv expose only offsets)
    if (scala.util.Try(df.select(col("_metadata.row_index"))).isSuccess) {
      stamped.withColumn(posCol, col("_metadata.row_index").cast("long"))
    } else {
      val w = Window.partitionBy(col(fileCol))
        .orderBy(col("_metadata.file_block_start"), monotonically_increasing_id())
      stamped.withColumn(posCol, row_number().over(w).cast("long") - 1L)
    }
  }

  /** Event-log loader, schema-adaptive on the `ts` column: always yields
    * `ts` as ns-since-epoch longs, whatever physical type the parquet
    * carries. Event corpora arrive with ns timestamps (older pandas/
    * pyarrow dumps, which Spark's reader only accepts as raw longs via
    * `nanosAsLong`), µs TIMESTAMP, or µs TIMESTAMP_NTZ (pandas ≥2 writes
    * `timestamp[us]` without UTC adjustment, which Spark infers as NTZ) —
    * and every downstream event-time operator here (as-of, interval join,
    * sessionize, windows) does integer epoch arithmetic on ns longs, the
    * one representation all three sources can reach losslessly. The
    * normalization is a constant-time projection (no shuffle, codegen'd);
    * column pruning still reaches the scan for queries that drop `ts`
    * (ScanPushdownSpec). */
  def readEventsNs(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // Genuine TIMESTAMP(NANOS) parquet loads only under the session-wide
    // legacy flag — and Spark consults that flag AGAIN when it builds the
    // scan (ParquetFileFormat.setupHadoopConf, called at action time), so
    // a save/restore scope around this read would leave the returned lazy
    // frame unreadable. Instead: common µs/long files never touch conf at
    // all; only a file that actually fails with the NANOS analysis error
    // flips the flag, and the flip deliberately outlives this call (later
    // reads of NANOS files then surface ns-as-long — exactly the shape
    // this loader normalizes to; logged so the effect is visible).
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val raw =
      try parquet(spark, path)
      catch {
        case e: Exception
            if e.getMessage != null && e.getMessage.contains("NANOS") &&
              !java.lang.Boolean.parseBoolean(
                spark.conf.getOption(NanosKey).getOrElse("false")) =>
          org.slf4j.LoggerFactory.getLogger("graft.sources.PsIO").warn(
            s"readEventsNs: $path carries TIMESTAMP(NANOS); enabling " +
              s"$NanosKey for the session (NANOS columns read as ns longs)")
          spark.conf.set(NanosKey, "true")
          parquet(spark, path)
      }
    raw.schema("ts").dataType match {
      case LongType => raw // ns-as-long file: already the target shape
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        // NTZ carries a wall-clock; the session's pinned UTC makes the
        // NTZ->TIMESTAMP cast the identity epoch mapping. Accept any
        // spelling of UTC ("UTC", "Etc/UTC", "+00:00", "Z") by
        // normalizing the zone rather than string-comparing.
        val tz = spark.conf.get("spark.sql.session.timeZone")
        val isUtc =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case _: java.time.DateTimeException => false }
        require(isUtc,
          s"readEventsNs: TIMESTAMP_NTZ ts requires a UTC session timezone, got '$tz' " +
            "(graft.Session.local pins it); epoch extraction is tz-dependent otherwise")
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case dt => throw new IllegalArgumentException(
        s"readEventsNs: unsupported ts type $dt in $path (expected LONG ns, " +
          "TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }

  /** Explicit materialization — the reference's offload-to-SQLite
    * (`CREATE TABLE name AS <query>`, core.py:84-89). On Spark this is
    * plan caching; later queries reuse the in-memory columnar form. */
  def materialize(df: DataFrame): DataFrame = df.cache()

  // ------------------------------------------------------------------
  // Schema-drift ingestion: multi-generation parquet whose schemas have
  // diverged (a multi-month crawl adds columns, widens counters, and
  // occasionally re-types a field entirely). The reference infers its
  // schema from the first 1,000 rows of one file (io.py:44-47); the
  // distributed analogue of that hole is "the schema you inferred last
  // month no longer matches this month's files". Spark's own
  // mergeSchema option null-fills added columns but THROWS on any type
  // change (int -> long included), so a drifting lake needs explicit
  // cast discipline — that is what readParquetEvolved provides.

  /** How [[readParquetEvolved]] treats a column whose generations
    * disagree on a type that no lossless lattice covers. */
  sealed trait ConflictPolicy
  /** Shed the column from the unified frame (it stays visible in
    * [[parquetSchemaDrift]]'s report — the quarantine ledger). */
  case object DropConflicts extends ConflictPolicy
  /** Carry the column as STRING — the universal supertype; matches
    * DuckDB union_by_name's varchar coercion, so the result stays
    * oracle-comparable. */
  case object StringifyConflicts extends ConflictPolicy

  import org.apache.spark.sql.types._

  /** Lossless unification of one column's types across generations:
    * equal types stand; all-integral widens to the largest; mixed
    * integral/fractional widens to double (every int up to 2^53 — and
    * every float — is exact there; a lake writing int64 row counts
    * above 2^53 needs an explicit migration, not silent widening, so
    * LongType + fractional still unifies to double by the same rule
    * DuckDB union_by_name applies). Anything else is a conflict. */
  private[graft] def unifyTypes(ts: Seq[DataType]): Option[DataType] = {
    val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val fractional: Seq[DataType] = Seq(FloatType, DoubleType)
    val distinct = ts.distinct
    if (distinct.size == 1) Some(distinct.head)
    else if (distinct.forall(integral.contains))
      Some(integral(distinct.map(integral.indexOf).max))
    else if (distinct.forall(t => integral.contains(t) || fractional.contains(t)))
      Some(DoubleType)
    else None
  }

  /** Read N parquet generations (path order = age order) into ONE frame
    * under explicit drift discipline:
    *   - columns missing from a generation are null-filled (DuckDB
    *     union_by_name semantics);
    *   - type drift along the lossless lattice (int widths, int->double)
    *     is cast per generation BEFORE the union, so every scan keeps
    *     its own pushdown/pruning and no mergeSchema footer-merge throw;
    *   - irreconcilable re-types follow `conflicts`: dropped (default,
    *     reported by [[parquetSchemaDrift]]) or carried as string.
    * Column order is first-seen across generations. Scale shape: one
    * driver-side footer read per generation (schema only — no data), a
    * plain UNION of per-generation scans below; filters/projection on
    * the result push into each scan independently. */
  def readParquetEvolved(
      spark: SparkSession,
      paths: Seq[String],
      conflicts: ConflictPolicy = DropConflicts): PsDataFrame = {
    require(paths.nonEmpty, "readParquetEvolved: no generation paths")
    val gens = paths.map(p => parquet(spark, p))
    val schemas = gens.map(_.schema)
    val names = scala.collection.mutable.LinkedHashSet[String]()
    schemas.foreach(_.foreach(f => names += f.name))
    val targets: Seq[(String, DataType)] = names.toSeq.flatMap { n =>
      unifyTypes(schemas.flatMap(_.find(_.name == n)).map(_.dataType)) match {
        case Some(t) => Some(n -> t)
        case None => conflicts match {
          case DropConflicts => None
          case StringifyConflicts => Some(n -> StringType)
        }
      }
    }
    require(targets.nonEmpty,
      s"readParquetEvolved: no unifiable columns across ${paths.mkString(", ")}")
    val unified = gens.map { g =>
      val have = g.schema.map(_.name).toSet
      g.select(targets.map { case (n, t) =>
        (if (have(n)) g(n).cast(t) else org.apache.spark.sql.functions.lit(null).cast(t)).as(n)
      }: _*)
    }.reduce(_.unionByName(_))
    PsDataFrame(unified)
  }

  /** The drift ledger for [[readParquetEvolved]]: one row per column
    * name seen in ANY generation, with its disposition —
    *   action ∈ stable | null_fill (absent somewhere) | widen (lossless
    *   lattice) | quarantine (irreconcilable; dropped under
    *   DropConflicts, stringified under StringifyConflicts) —
    * plus the unified type and the per-generation types in path order
    * ("-" where absent). Driver-side footer metadata only (no data
    * scan); emit it next to every evolved read so drift is a reviewed
    * fact, not a silent cast. */
  def parquetSchemaDrift(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "parquetSchemaDrift: no generation paths")
    val schemas = paths.map(p => parquet(spark, p).schema)
    val names = scala.collection.mutable.LinkedHashSet[String]()
    schemas.foreach(_.foreach(f => names += f.name))
    val rows = names.toSeq.map { n =>
      val perGen = schemas.map(_.find(_.name == n).map(_.dataType))
      val present = perGen.flatten
      val unified = unifyTypes(present)
      val action =
        if (unified.isEmpty) "quarantine"
        else if (present.map(_.simpleString).distinct.size > 1) "widen"
        else if (perGen.exists(_.isEmpty)) "null_fill"
        else "stable"
      (n, action, unified.map(_.simpleString).getOrElse("-"),
        perGen.map(_.map(_.simpleString).getOrElse("-")).mkString(","))
    }
    spark.createDataFrame(rows)
      .toDF("column", "action", "unified_type", "types_seen")
  }

  /** Per-(file, row group, column) parquet footer statistics for
    * integer columns — the layout audit behind sort/Z-order/compaction
    * decisions: how tight each row group's min/max envelope is decides
    * whether a predicate prunes it, and THIS relation is what tells
    * you, lake-wide, before rewriting anything. Footer metadata only
    * (KBs per file, no data pages), distributed one task per file, so
    * a 100k-file table audits in one short job.
    *
    * Integer (int/long) columns only, loudly: min/max come back as
    * exact BIGINTs; stats of string/binary columns are
    * truncation-lossy in the format itself and belong to a different
    * contract. all-null chunks carry null min/max with the null count. */
  def parquetStats(spark: SparkSession, path: String,
                   columns: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.{Path => HPath}
    require(columns.nonEmpty, "parquetStats: no columns requested")
    val intLike: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    val schema = parquet(spark, path).schema
    columns.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"parquetStats: column $c not in $path (${schema.fieldNames.mkString(", ")})"))
      require(intLike(f.dataType),
        s"parquetStats: column $c is ${f.dataType.simpleString}; only int/long " +
          "columns have exact footer min/max (string stats are truncation-lossy)")
    }
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fs = new HPath(path).getFileSystem(conf.value)
    val files = {
      val p = new HPath(path)
      val all =
        if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
        else Seq(fs.getFileStatus(p))
      all.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).sorted
    }
    require(files.nonEmpty, s"parquetStats: no parquet files under $path")
    val colSet = columns.toSet
    val rows = spark.sparkContext.parallelize(files, files.size).flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new HPath(f), conf.value)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val name = f.substring(f.lastIndexOf('/') + 1)
        r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (b, gi) =>
          b.getColumns.asScala.toSeq
            .filter(c => colSet(c.getPath.toDotString))
            .map { c =>
              def asLong(v: Any): java.lang.Long = v match {
                case l: java.lang.Long => l
                case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
                case other => throw new IllegalStateException(
                  s"parquetStats: non-integer stat $other for ${c.getPath}")
              }
              val st = c.getStatistics
              val has = st != null && st.hasNonNullValue
              // getNumNulls is -1 when the writer omitted it — emit
              // null, not a sentinel masquerading as a count
              val nulls =
                if (st != null && st.isNumNullsSet)
                  java.lang.Long.valueOf(st.getNumNulls)
                else null
              org.apache.spark.sql.Row(
                name, gi.toLong, c.getPath.toDotString, c.getValueCount,
                nulls,
                if (has) asLong(st.genericGetMin) else null,
                if (has) asLong(st.genericGetMax) else null)
            }
        }
      } finally r.close()
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_group", LongType, nullable = false),
      StructField("column", StringType, nullable = false),
      StructField("num_values", LongType, nullable = false),
      StructField("null_count", LongType, nullable = true),
      StructField("min_v", LongType, nullable = true),
      StructField("max_v", LongType, nullable = true))))
  }

  /** The DECISION face of [[parquetStats]]: given conjunctive inclusive
    * range predicates `column BETWEEN lo AND hi`, which row groups
    * would the footer envelopes prune? One row per (file, row group):
    * `pruned` = some predicate column's envelope excludes its range —
    *   max_v < lo, min_v > hi, or a provably all-null chunk
    *   (null_count == num_values) — with missing/omitted stats
    * conservatively NOT pruning (a reader without stats must scan);
    * `cols_checked` counts the PREDICATE-column stats rows consulted —
    * a row group none of whose predicate columns appear in the stats
    * relation (schema drift: the file predates the column) still emits,
    * as `pruned = false, cols_checked = 0`, because a reader must scan
    * it; it must never silently vanish from the decision relation. This
    * relation is
    * what writeSorted / writeZOrdered / compaction decisions consume:
    * run it against the CURRENT layout and a candidate predicate set
    * before rewriting anything. Pure metadata arithmetic over the
    * stats relation — no data scan. */
  def parquetPruneSim(stats: DataFrame,
                      bounds: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(bounds.nonEmpty, "parquetPruneSim: no predicate bounds")
    require(bounds.map(_._1).distinct.size == bounds.size,
      "parquetPruneSim: duplicate predicate columns")
    bounds.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"parquetPruneSim: empty range [$lo, $hi] for $c") }
    def exclFor(lo: Long, hi: Long) =
      coalesce(col("max_v") < lit(lo) || col("min_v") > lit(hi), lit(false)) ||
        coalesce(col("min_v").isNull && col("null_count") === col("num_values"),
          lit(false))
    val excl = bounds.foldLeft(lit(false)) { case (acc, (c, lo, hi)) =>
      when(col("column") === lit(c), exclFor(lo, hi)).otherwise(acc)
    }
    // aggregate over ALL stats rows (not a predicate-column filter) so
    // every (file, row_group) in the stats relation appears in the
    // decision — non-predicate rows contribute pruned=false and don't
    // count as checked
    val relevant = col("column").isin(bounds.map(_._1): _*)
    stats
      .withColumn("excluded", when(relevant, excl).otherwise(lit(false)))
      .groupBy("file", "row_group")
      .agg(max(col("excluded")).as("pruned"),
        sum(when(relevant, 1L).otherwise(0L)).as("cols_checked"))
  }

  /** Per-file rollup of [[parquetPruneSim]]: (file, row_groups,
    * pruned_groups, prune_frac) — the "what would re-sorting buy"
    * number a layout decision reads directly. */
  def parquetPruneReport(sim: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    sim.groupBy("file").agg(
        count(lit(1)).as("row_groups"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as("pruned_groups"))
      .withColumn("prune_frac",
        col("pruned_groups").cast("double") / col("row_groups").cast("double"))
  }

  /** ORC in/out — same columnar posture as parquet (predicate pushdown,
    * column pruning, split-based parallelism), for pipelines whose
    * upstream lake is ORC. */
  def readOrc(spark: SparkSession, path: String): PsDataFrame =
    PsDataFrame(spark.read.orc(path))

  /** `codec`: None keeps ORC's default (zstd on Spark 4); also accepts
    * "snappy"/"zlib"/"lz4"/"none". */
  def toOrc(df: DataFrame, path: String, codec: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).orc(path)
  }

  /** Hive-style partitioned layout: one directory per `keys` value
    * combination. THE scan-pruning lever at 100 TB — a filter on a
    * partition key skips whole directories at planning time (zero I/O for
    * excluded partitions, visible as PartitionFilters in the scan node;
    * asserted in ScanPushdownSpec). Choose low-cardinality keys: every
    * distinct value combination is a directory and at least one file. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      keys: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(keys: _*)
      .parquet(path)

  /** Range-partitioned, sorted-within-partition layout: global range
    * partitioning on `cols` (sampled split points, so output files hold
    * DISJOINT key ranges) + a per-partition sort. The complement of
    * [[writePartitioned]] for HIGH-cardinality ordering keys (doc ids,
    * timestamps) where a directory per value is impossible: parquet
    * writes row-group min/max stats, and with disjoint sorted ranges a
    * range/point filter on the sort key prunes whole files and row
    * groups at scan time instead of reading 100 TB to filter it.
    * `partitions` sizes the output files — pick total/128 MB-ish.
    * Disjointness is asserted per-file in IOSpec. */
  def writeSorted(
      df: DataFrame,
      path: String,
      cols: Seq[String],
      partitions: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(partitions, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** Order-insensitive corpus content fingerprint: (row count, checksum)
    * where the checksum is the SUM of a cross-engine-stable 60-bit row
    * hash ([[graft.operators.Dedup.hash60]] over the named columns
    * joined with an unlikely separator). Verifies a copied / migrated /
    * re-partitioned corpus equals its source WITHOUT sorting either
    * side — sum is commutative, so layout, partitioning, and row order
    * don't matter, and any engine that can md5 can recompute it (the
    * oracle does). Decimal accumulation: 2⁶⁰-ish terms × billions of
    * rows overflow a long; DECIMAL(38,0) holds ~10³⁸, enough for 10¹⁸
    * rows. One scan, one partial-aggregated sum — the cheapest honest
    * equality check at 100 TB. Collision caveat mirrors snapshotDiff's
    * hashed mode (~n²/2⁶⁰ for an adversarial mismatch). */
  /** The shared row hash of [[contentFingerprint]] and [[fileManifest]]
    * — ONE definition, so the manifest's per-file checksums always sum
    * to the corpus checksum (IOSpec asserts the invariant). Nulls
    * become an explicit \u0002 sentinel BEFORE the \u0001-join —
    * concat_ws otherwise SKIPS null columns, making (a, null) and
    * (null, a) hash identically. Residual caveat: values containing
    * the control chars can alias a boundary (same caveat class as the
    * 60-bit hash itself; control chars are mojibake in real text). */
  private def rowHash(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit}
    graft.operators.Dedup.hash60(
      concat_ws("\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*))
  }

  def contentFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    require(cols.nonEmpty, "contentFingerprint needs columns")
    // The checksum is a genuine >64-bit sum (≈ n·2⁵⁹ — 2.9·10²⁰ already at
    // sf0.01), so it is computed in DECIMAL(38,0) but EMITTED as its
    // decimal-digit STRING: the manifest format must survive any engine /
    // dataframe layer on either end of a migration, and int128/decimal
    // columns degrade to lossy float64 in several of them (observed:
    // DuckDB HUGEINT → pandas). Digits-in-a-string is the one universally
    // exact representation; compare with BigInt(checksum) when summing.
    df.agg(count(lit(1)).as("n_rows"),
      sum(rowHash(cols).cast("decimal(38,0)")).cast("string").as("checksum"))
  }

  /** Deterministic pseudorandom shuffle for training shards: the global
    * order is a seeded md5 of the id — cross-engine stable (the oracle
    * replays it) and reproducible run-to-run, unlike `orderBy(rand())`.
    * Written as `shards` files holding DISJOINT key ranges, each
    * internally sorted, so the files concatenated in range order ARE the
    * shuffled corpus and any prefix of shards is an unbiased sample
    * (md5 is uniform) — the shape data loaders want. The key survives as
    * `shuffle_key` for resume/verify; a different seed is a fresh,
    * uncorrelated permutation. One range shuffle, no global sort. */
  /** Per-FILE content manifest: one row per underlying file with its
    * basename, row count, and the same order-insensitive checksum as
    * [[contentFingerprint]] — when the corpus-level fingerprints of a
    * source and its copy disagree, the manifests' anti-join names the
    * exact shards that diverged instead of forcing a row-level diff of
    * 100 TB. Grouping key is `_metadata.file_path` (constant-folded at
    * the scan); one shuffle of (file, hash) pairs. Compare manifests on
    * basename: full paths differ across stores by construction. */
  def fileManifest(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, element_at, lit, split, sum}
    require(cols.nonEmpty, "fileManifest needs columns")
    val row = rowHash(cols)
    df.withColumn("__file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .groupBy(col("__file").as("file"))
      .agg(count(lit(1)).as("n_rows"),
        // same portable decimal-digit STRING form as contentFingerprint —
        // per-file checksums sum (as BigInt) to the corpus checksum
        sum(row.cast("decimal(38,0)")).cast("string").as("checksum"))
  }

  /** THE shuffle-order key: seeded md5 of the id. One definition shared
    * by [[writeShuffled]] and the registry's order oracles, so a key
    * change can't silently decouple the verified formula from the
    * write path. */
  def shuffleKey(seed: Long, id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit, md5}
    md5(concat(lit(seed.toString), lit(":"), id.cast("string")))
  }

  def writeShuffled(
      df: DataFrame,
      path: String,
      idCol: String,
      seed: Long,
      shards: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("shuffle_key", shuffleKey(seed, col(idCol)))
      .repartitionByRange(shards, col("shuffle_key"))
      .sortWithinPartitions("shuffle_key")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into files near
    * `targetBytes` each. Streaming ingestion, per-partition writers, and
    * incremental appends all accrete kilobyte-scale files; at 100 TB the
    * resulting footer/open overhead (and a task per tiny file) dominates
    * scans long before the data does, which is why every lakehouse ships
    * a compaction command (Delta OPTIMIZE, Iceberg rewrite_data_files).
    * File count comes from the actual on-disk bytes, listed through
    * Hadoop's FileSystem with the session's Hadoop conf — the same file
    * index Spark's scans use, so hdfs:// and s3a:// directories size
    * correctly (a java.io.File walk would silently see 0 bytes off the
    * local filesystem and plan coalesce(1) over the whole dataset) —
    * never a count() job. Default path is `coalesce` — merges input splits WITHOUT a
    * shuffle (a compaction that shuffles 100 TB to save file handles is
    * worse than the disease); pass `shuffle = true` to rebalance
    * pathological size skew at the cost of a full exchange. Returns the
    * planned output file count. */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long = 128L << 20,
      shuffle: Boolean = false): Int = {
    require(inDir != outDir, "compact cannot rewrite a directory onto itself")
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(inPath) && fs.getFileStatus(inPath).isDirectory,
      s"compact: input is not an existing directory on ${fs.getUri}: $inDir")
    val totalBytes = {
      val it = fs.listFiles(inPath, /* recursive = */ true)
      var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) bytes += st.getLen
      }
      bytes
    }
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val in = parquet(spark, inDir)
    val sized = if (shuffle) in.repartition(nFiles) else in.coalesce(nFiles)
    sized.write.mode(SaveMode.Overwrite).parquet(outDir)
    nFiles
  }

  /** Z-ordered layout: multi-column locality where [[writeSorted]] only
    * gives one. A lexicographic sort on (a, b) clusters files tightly on
    * `a` but leaves every file spanning the FULL range of `b`, so
    * predicates on `b` alone prune nothing. Interleaving the bits of the
    * columns' bucket ids (the Z-/Morton curve — the same layout Delta's
    * OPTIMIZE ZORDER and lakehouse clustering use) makes file locality
    * shared across all the columns: each file covers a small min/max box
    * in EVERY dimension, so parquet footer stats prune point/range
    * predicates on any of them, alone or combined.
    *
    * Mechanics: one min/max aggregate pass over the z columns (the only
    * eager step), each column scaled to a `bitsPerCol`-bit bucket with
    * the built-in `width_bucket` (equal-width — cheap and stats-free;
    * pre-transform heavily skewed columns), bits interleaved by a
    * constant-folded shift/or expression chain (pure built-ins, whole-
    * stage codegen'd), then repartitionByRange + sortWithinPartitions on
    * the z-value exactly like [[writeSorted]]. The synthetic z column is
    * projected away before the write. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      cols: Seq[String],
      partitions: Int,
      bitsPerCol: Int = 16): Unit =
    zOrdered(df, cols, partitions, bitsPerCol)
      .write
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** The z-clustering FRAME of [[writeZOrdered]], exposed so other
    * sinks can reuse the layout — [[LakeVersions.zOrderCommit]] stages
    * this frame through a versioned commit instead of a raw directory
    * write. Range-partitioned + sorted on the interleaved z-value;
    * the synthetic column is projected away. */
  def zOrdered(
      df: DataFrame,
      cols: Seq[String],
      partitions: Int,
      bitsPerCol: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2, "z-ordering needs at least two columns")
    require(cols.size * bitsPerCol <= 62,
      s"${cols.size} cols x $bitsPerCol bits overflows a long z-value")
    val stats = df.select(cols.flatMap(c =>
        Seq(min(col(c).cast("double")).as(s"mn_$c"),
            max(col(c).cast("double")).as(s"mx_$c"))): _*)
      .collect()(0)
    cols.zipWithIndex.foreach { case (c, i) =>
      require(!stats.isNullAt(2 * i) && !stats.isNullAt(2 * i + 1),
        s"writeZOrdered: column '$c' has no min/max (empty input or " +
          "all-null column) — drop it from the z columns or use writeSorted")
    }
    val nBuckets = 1L << bitsPerCol
    val bucketIds = cols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
      // width_bucket is 1-based and sends v=max to n+1; clamp to 0..n-1
      least(lit(nBuckets - 1), greatest(lit(0L),
        width_bucket(col(c).cast("double"), lit(mn), lit(mx), lit(nBuckets)) - 1L))
    }
    // z = for each bit position, each column's bit spread cols.size apart
    val k = cols.size
    val zval = (0 until bitsPerCol).foldLeft(lit(0L)) { (acc, bit) =>
      bucketIds.zipWithIndex.foldLeft(acc) { case (a, (id, ci)) =>
        a.bitwiseOR(shiftleft(
          shiftright(id, bit).bitwiseAND(lit(1L)), bit * k + ci))
      }
    }
    df.withColumn("__z", zval)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Bucketed external table: pre-partitions (and per-bucket sorts) the
    * data by join/aggregation keys so later equi-joins and groupBys
    * between co-bucketed tables run WITHOUT a shuffle — the 100 TB answer
    * to "this fact table is joined on this key every day". Registered in
    * the session catalog; read back with `spark.table(name)`. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      keys: Seq[String],
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}

/** Spark's parquet file format with one change: [[inferSchema]] reads the
  * footers on the driver ([[GraftParquetBridge.footerSchema]]: the same
  * files, converter and merge as Spark's inference job) rather than in a
  * Spark job. Spark's `DataSource` still lists the path once, discovers
  * the partition columns from that file index and builds the relation
  * over the same listing, so the frame equals `spark.read.parquet`'s
  * (ParquetSchemaSpec). `ParquetFileFormat` equality is by type, so
  * plans and cached frames over either format match. */
final class GraftParquetFormat extends ParquetFileFormat {
  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    GraftParquetBridge.footerSchema(spark, options, files)
}
