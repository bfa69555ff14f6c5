package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Versioned commits over a parquet lake — a table format "lite": the
  * last missing piece between "a directory of parquet files" and a
  * corpus store with concurrent-writer isolation and time travel.
  * (Reference scope note: the reference has no table format at all —
  * io.py reads loose files; this is §2.11 extension surface, the shape
  * Iceberg/Delta pioneered, reduced to what a curation lake needs.)
  *
  * Layout:
  * {{{
  * lake/
  *   _graft_versions/
  *     v00000001.manifest     # header + one file entry line per data file
  *     v00000002.manifest
  *     LOCK                   # present only while a commit is writing
  *   data-<uuid>-p00000.parquet ...            # unpartitioned commits
  *   region=ASIA/data-<uuid>-p00000.parquet    # partitioned commits
  * }}}
  *
  * The invariants that make it safe:
  *
  *  - DATA FILES ARE IMMUTABLE AND UNIQUELY NAMED. A commit first
  *    lands its files under fresh uuid names — invisible to every
  *    reader, because readers list NO directory: they read exactly the
  *    files their manifest names. Half-landed commits are therefore
  *    unobservable, and failed commits leave only unreferenced files
  *    for [[vacuum]].
  *  - A VERSION IS ONE FILE. The manifest is written tmp-then-rename
  *    after its data files are all in place, so a reader that can see
  *    `vN.manifest` can read every file it names.
  *  - COMMITS SERIALIZE UNDER ONE TABLE LOCK, so an append always
  *    builds on the true latest manifest — concurrent append/append
  *    COMPOSE instead of silently dropping the loser's rows (a
  *    per-version claim would serialize version NUMBERS but not
  *    CONTENT; that is the lost-update race table formats exist to
  *    close). Same-driver committers serialize on a JVM monitor;
  *    cross-driver committers on a `LOCK` file taken with
  *    create-exclusive — atomic on HDFS/object stores, a documented
  *    microsecond check-then-create window on the raw local fs — and
  *    a lock whose holder died is BROKEN after `lockStaleMs` (commits
  *    are driver-side metadata writes, orders of magnitude faster
  *    than any sane staleness margin; the data files were landed
  *    before the lock was taken).
  *  - TIME TRAVEL IS FREE. Old manifests stay until [[vacuum]] drops
  *    them; [[read]] pins any surviving version, and
  *    [[graft.operators.Snapshot.snapshotDiff]] over two pinned reads
  *    is the audit diff (the delta algebra already exists).
  *  - THE MANIFEST IS THE FILE INDEX. A partitioned commit records
  *    partition-qualified relpaths plus the partition column list, so
  *    a pinned [[read]] surfaces the partition columns (Spark's
  *    `basePath` discovery over exactly the manifest's files) and
  *    PartitionFilters prune WITHOUT any directory listing; a commit
  *    with `statsCols` records per-file row counts and int/long
  *    min/max, so [[readPruned]] drops whole files against range
  *    predicates before Spark ever plans the scan — at 100× the whole
  *    point of a manifest is pruning without listing.
  *
  * Scale shape: a commit's driver-side work is one manifest write plus
  * one lock create — O(files) text lines, no listing of the lake
  * (footer stats, when requested, are read on the driver from the
  * commit's OWN files while they land, defaultParallelism at a time);
  * a read costs one manifest read; only [[vacuum]] ever lists the
  * data directory. Paths are RELATIVE, so a lake can be relocated or
  * mirrored wholesale. Every Spark job a commit starts touches data:
  * an append or a compaction is its one write job, a delete or an
  * update one hit-file probe plus the write, and a merge adds the
  * source materialization and one aggregate over it. */
object LakeVersions {

  private val VersionsDir = "_graft_versions"
  private val Manifest = "v(\\d{8})\\.manifest".r
  /** Same-driver commit serialization (the common concurrent case:
    * parallel jobs in one application); the fs LOCK file covers
    * cross-driver writers. */
  private val localCommitLock = new Object

  private def versionsPath(lake: HPath) = new HPath(lake, VersionsDir)
  private def manifestPath(lake: HPath, v: Long) =
    new HPath(versionsPath(lake), f"v$v%08d.manifest")

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, HPath) = {
    val p = new HPath(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Strip the QUALIFIED lake root from a qualified file path — the
    * proof-before-acting idiom [[vacuum]] and [[deleteWhere]] share:
    * acting on an unproven relpath is data loss (vacuum would delete
    * live data; deleteWhere would carry a hit file by reference and
    * resurrect deleted rows). None = not provably under the root;
    * the caller decides whether that means "skip" or "fail loudly". */
  private def relpathUnder(lakeUri: String, p: HPath): Option[String] = {
    val path = p.toUri.getPath
    if (path.startsWith(s"$lakeUri/")) Some(path.substring(lakeUri.length + 1))
    else None
  }

  /** High-water pointer file: the last committed version number, so
    * latest-version discovery costs one small read + one exists()
    * probe instead of LISTING `_graft_versions/` — the streaming
    * promotion commits one version per micro-batch epoch, and an
    * unvacuumed month at minutes-cadence is ~40k manifest files listed
    * per epoch on an object store. Best-effort: the manifests stay the
    * source of truth (a crashed commit that renamed its manifest but
    * never updated HEAD lags the pointer by one; [[state]] probes
    * FORWARD to recover, and versions are dense so the probe walks
    * exactly the lag). */
  private val HeadFile = "HEAD"

  private def writeHead(fs: FileSystem, lake: HPath, v: Long): Unit =
    try {
      val out = fs.create(new HPath(versionsPath(lake), HeadFile), true)
      try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () }

  /** All surviving manifest versions, ascending — ONE listing, the
    * right shape for audit relations ([[versions]], [[schemaDrift]]):
    * probing exists() for every version 1..latest would cost O(latest)
    * round-trips on a vacuumed high-version lake (~40k after an
    * unvacuumed month at epoch cadence) where only a handful survive. */
  private def survivingVersions(fs: FileSystem, lake: HPath): Seq[Long] = {
    val vp = versionsPath(lake)
    if (!fs.exists(vp)) Nil
    else fs.listStatus(vp).flatMap(s => s.getPath.getName match {
      case Manifest(v) => Some(v.toLong)
      case _           => None
    }).sorted.toSeq
  }

  /** The listing fallback — correct on any lake state, O(versions). */
  private def listState(fs: FileSystem, lake: HPath): Long =
    survivingVersions(fs, lake).lastOption.getOrElse(0L)

  /** Latest committed manifest version, 0 = none. Pointer + bounded
    * forward probe (O(1 + pointer lag)); any anomaly — pointer absent
    * (pre-pointer lake), torn (a truncated decimal parses SMALLER, so
    * the probe self-heals forward), or stale past retention (its
    * manifest vacuumed) — falls back to the listing. */
  private def state(fs: FileSystem, lake: HPath): Long = {
    val hint =
      try AvroIo.readSmallFile(fs,
        new HPath(versionsPath(lake), HeadFile)).trim.toLong
      catch { case _: Exception => 0L }
    if (hint <= 0) listState(fs, lake)
    else {
      var v = hint
      while (fs.exists(manifestPath(lake, v + 1))) v += 1
      if (v == hint && !fs.exists(manifestPath(lake, v))) listState(fs, lake)
      else v
    }
  }

  private val ManifestMagicV1 = "graft-lake-manifest-v1"
  private val ManifestMagicV2 = "graft-lake-manifest-v2"
  /** v3 marks a header whose schema is the append-MERGED table schema
    * (authoritative for reads). v2 manifests recorded the LAST
    * commit's frame schema — possibly narrower than the union of
    * their files — so v2 reads must keep the mergeSchema footer-merge
    * path or a legacy lake would silently drop columns older files
    * carry. Same field layout as v2 otherwise. */
  private val ManifestMagicV3 = "graft-lake-manifest-v3"

  /** One manifest line: a data file with its optional footer-derived
    * stats. `rows` is -1 when the committing writer didn't collect
    * stats; `stats` maps an int/long column to its file-wide inclusive
    * (min, max) envelope over non-null values; `strStats` maps a
    * string column to its TRUNCATED envelope — base64 of the first
    * [[StrTruncBytes]] UTF-8 bytes of the min (a byte-prefix is ≤ the
    * original in unsigned byte order, so it stays a sound lower bound)
    * and, for the max, the truncation INCREMENTED at its last
    * non-0xFF byte (so it stays a sound upper bound; a max whose
    * truncation is all 0xFF gets NO upper bound — None — and the file
    * can never be dropped from above). Absent = unknown — a reader
    * without evidence must keep the file. */
  final case class FileEntry(relpath: String, len: Long, rows: Long,
                             stats: Map[String, (Long, Long)],
                             strStats: Map[String, (String, Option[String])] =
                               Map.empty)

  /** Truncation width for string envelopes — Iceberg's truncate(16)
    * default: long doc_id/url keys stay prunable at 16 bytes while the
    * manifest stays O(bytes-per-file) small. */
  private[graft] val StrTruncBytes = 16

  /** (lowerBound, upperBound) of a string envelope, as base64 of
    * UTF-8 bytes — all pruning comparisons happen in unsigned BYTE
    * space (parquet's and Spark's string sort order), never in
    * UTF-16 `String.compareTo` space, which disagrees above U+FFFF. */
  private[graft] def truncateEnvelope(minUtf8: Array[Byte], maxUtf8: Array[Byte])
      : (String, Option[String]) = {
    val b64 = java.util.Base64.getEncoder
    val lo = b64.encodeToString(minUtf8.take(StrTruncBytes))
    val hi =
      if (maxUtf8.length <= StrTruncBytes) Some(b64.encodeToString(maxUtf8))
      else {
        val t = maxUtf8.take(StrTruncBytes)
        // increment at the last byte below 0xFF, drop everything after
        // it: the result is strictly greater than every string sharing
        // the truncated prefix
        val i = t.lastIndexWhere(b => (b & 0xff) != 0xff)
        if (i < 0) None
        else {
          val out = t.take(i + 1)
          out(i) = ((out(i) & 0xff) + 1).toByte
          Some(b64.encodeToString(out))
        }
      }
    (lo, hi)
  }

  private def b64Bytes(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  /** Unsigned lexicographic byte compare — parquet UTF8 sort order.
    * (The JDK intrinsic; kept as a named seam so every lake-side
    * string comparison provably goes through byte order, never
    * UTF-16 `String.compareTo`.) */
  private[graft] def compareUtf8(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Everything a version pins: table schema (so an EMPTY committed
    * version — a legal full purge — still reads with the table's
    * shape), partition column list, the committer's idempotence tag,
    * and the data files. */
  final case class ManifestState(
      schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String], tag: String, files: Seq[FileEntry],
      headerAuthoritative: Boolean = true)

  /** Stats wire format: `rows|col,lo,hi;col2,lo2,hi2`. String
    * envelopes ride the same triple with an `s:` marker and base64
    * payloads (base64 is delimiter-free by construction):
    * `col,s:<b64lo>,s:<b64hi>`; an unbounded upper is `s:*`. */
  private def encodeStats(e: FileEntry): String =
    if (e.rows < 0 && e.stats.isEmpty && e.strStats.isEmpty) "-"
    else {
      val num = e.stats.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c,$lo,$hi" }
      val str = e.strStats.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c,s:$lo,s:${hi.getOrElse("*")}" }
      s"${e.rows}|${(num ++ str).mkString(";")}"
    }

  private def decodeStats(s: String)
      : (Long, Map[String, (Long, Long)], Map[String, (String, Option[String])]) =
    if (s == "-") (-1L, Map.empty, Map.empty)
    else {
      val bar = s.indexOf('|')
      val rows = s.substring(0, bar).toLong
      val rest = s.substring(bar + 1)
      val num = Map.newBuilder[String, (Long, Long)]
      val str = Map.newBuilder[String, (String, Option[String])]
      if (rest.nonEmpty) rest.split(";").foreach { t =>
        val p = t.split(",")
        if (p(1).startsWith("s:")) {
          val hi = p(2).substring(2)
          str += p(0) -> (p(1).substring(2),
            if (hi == "*") None else Some(hi))
        } else num += p(0) -> (p(1).toLong, p(2).toLong)
      }
      (rows, num.result(), str.result())
    }

  /** Parse one header line into (schema, partitionBy, tag). Validates
    * the magic BEFORE touching the rest: a future-format or truncated
    * manifest must produce THIS diagnostic, not a JSON parse error or
    * an index out of bounds. */
  private def parseHeader(line: String, v: Long, lake: HPath)
      : (org.apache.spark.sql.types.StructType, Seq[String], String) = {
    val header = line.split("\t", -1)
    if (header(0) != ManifestMagicV1 && header(0) != ManifestMagicV2 &&
        header(0) != ManifestMagicV3)
      throw new IllegalArgumentException(
        s"LakeVersions: unrecognized manifest header '${header(0)}' " +
          s"for v$v under $lake")
    val schema = org.apache.spark.sql.types.DataType.fromJson(header(1))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    if (header(0) == ManifestMagicV1) (schema, Nil, "")
    else (schema,
      if (header(2).isEmpty) Nil else header(2).split(",").toSeq,
      header(3))
  }

  /** Header-only manifest read — O(1) in table size. [[tagOf]] runs
    * once per micro-batch side and commit's pre-land layout resolution
    * once per commit; parsing every file entry there would grow
    * per-epoch driver latency linearly with lake history. The fourth
    * element is [[ManifestState.headerAuthoritative]]: whether the
    * header schema is the merged table schema (v3) or a legacy
    * last-append schema (v2). */
  private def readHeader(fs: FileSystem, lake: HPath, v: Long)
      : (org.apache.spark.sql.types.StructType, Seq[String], String, Boolean) = {
    val in = fs.open(manifestPath(lake, v))
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(
        in, java.nio.charset.StandardCharsets.UTF_8))
      val line = br.readLine()
      require(line != null, s"LakeVersions: empty manifest v$v under $lake")
      val (schema, partBy, tag) = parseHeader(line, v, lake)
      (schema, partBy, tag, line.startsWith(ManifestMagicV3))
    } finally in.close()
  }

  private def readManifest(fs: FileSystem, lake: HPath, v: Long): ManifestState = {
    val lines = AvroIo.readSmallFile(fs, manifestPath(lake, v))
      .split("\n").iterator.filter(_.nonEmpty)
    val headerLine = lines.next()
    val (schema, partBy, tag) = parseHeader(headerLine, v, lake)
    val isV1 = headerLine.startsWith(ManifestMagicV1)
    val files = lines.map { l =>
      val t = l.split("\t")
      if (isV1)
        // pre-partitioning manifests: relpath \t len
        FileEntry(t(0), t(1).toLong, -1L, Map.empty)
      else {
        val (rows, stats, strStats) = decodeStats(t(2))
        FileEntry(t(0), t(1).toLong, rows, stats, strStats)
      }
    }.toSeq
    ManifestState(schema, partBy, tag, files,
      headerAuthoritative = headerLine.startsWith(ManifestMagicV3))
  }

  /** The lake's widening lattice: the widened type must be BOTH
    * lossless AND one Spark's parquet readers can decode the old
    * files as (the SPARK-40876 widening promotions) — integral widths
    * up to long, and {byte,short,int,float} → double. long+fractional
    * is EXCLUDED even though [[PsIO.unifyTypes]] (DuckDB
    * union_by_name's rule for loose files) allows it: double is lossy
    * above 2^53, and INT64 parquet pages cannot be decoded as double,
    * so accepting that append would poison every later read — the
    * exact failure the gate exists to prevent. */
  private def lakeWiden(a: org.apache.spark.sql.types.DataType,
                        b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val ints: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    def rank(t: DataType) = ints.indexOf(t)
    def isFrac(t: DataType) = t == FloatType || t == DoubleType
    if (a == b) Some(a)
    else if (rank(a) >= 0 && rank(b) >= 0) Some(ints(rank(a) max rank(b)))
    else if (isFrac(a) && isFrac(b)) Some(DoubleType)
    else if (Seq(a, b).exists(isFrac) &&
        Seq(a, b).exists(t => rank(t) >= 0 && t != LongType)) Some(DoubleType)
    else None
  }

  /** The append-time schema merge (and the schema every manifest
    * header records): same-name columns of equal type pass through;
    * drift widens along [[lakeWiden]]'s lossless-and-readable lattice,
    * so a crawl whose counters outgrow int32 keeps appending; nested
    * types fall back to Spark's strict StructType.merge (adds nested
    * fields, rejects re-types); any other re-type throws with the
    * column named. Table column order is preserved; new columns
    * append. */
  private[graft] def mergeLakeSchemas(
      table: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val merged = table.fields.map { tf =>
      byName.get(tf.name) match {
        case None => tf
        case Some(nf) if nf.dataType == tf.dataType =>
          tf.copy(nullable = tf.nullable || nf.nullable)
        case Some(nf) =>
          val nested = Seq(tf.dataType, nf.dataType).exists {
            case _: StructType | _: ArrayType | _: MapType => true
            case _ => false
          }
          if (nested)
            org.apache.spark.sql.GraftColumnBridge
              .mergeSchemas(StructType(Seq(tf)), StructType(Seq(nf))).fields(0)
          else lakeWiden(tf.dataType, nf.dataType) match {
            case Some(w) =>
              tf.copy(dataType = w, nullable = tf.nullable || nf.nullable)
            case None => throw new IllegalArgumentException(
              s"column ${tf.name}: ${nf.dataType.simpleString} does not " +
                s"widen losslessly from the table's ${tf.dataType.simpleString}")
          }
      }
    }
    val newCols = incoming.fields.filterNot(f => table.fieldNames.contains(f.name))
    StructType((merged ++ newCols).toSeq)
  }

  /** Latest committed version, 0 = no table yet. */
  def latestVersion(spark: SparkSession, dir: String): Long = {
    val (fs, lake) = fsFor(spark, dir)
    state(fs, lake)
  }

  /** The idempotence tag a version was committed with ("" = untagged).
    * A single serial writer (the streaming per-epoch promotion) checks
    * the LATEST version's tag before committing: micro-batch replay
    * after a crash only ever re-runs the last batch, so latest-tag
    * equality is exactly the replay-already-landed test. */
  def tagOf(spark: SparkSession, dir: String, version: Option[Long] = None): String = {
    val (fs, lake) = fsFor(spark, dir)
    val v = version.getOrElse(state(fs, lake))
    if (v == 0L) "" else readHeader(fs, lake, v)._3
  }

  private type FooterStats =
    (Long, Map[String, (Long, Long)], Map[String, (String, Option[String])])
  private val NoFooterStats: FooterStats = (-1L, Map.empty, Map.empty)

  /** One landed file's footer, read on the driver — KBs of metadata:
    * (rows, per-column min/max over non-null values; a column any of
    * whose row groups lacks stats yields no envelope, so readers keep
    * the file). Int/long columns record exact envelopes; string
    * columns record [[truncateEnvelope]]'s sound truncated bounds.
    * [[commitCore]] calls it from its landing walk, on a bounded pool,
    * so a commit's stats cost no Spark job. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          base: String, rel: String, colSet: Set[String],
                          strCols: Set[String]): FooterStats = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new HPath(s"$base/$rel"), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      def asLong(v: Any): Long = v match {
        case l: java.lang.Long    => l.longValue
        case i: java.lang.Integer => i.longValue
        case other => throw new IllegalStateException(
          s"LakeVersions: non-integer footer stat $other in $rel")
      }
      def asBytes(v: Any): Array[Byte] = v match {
        case b: org.apache.parquet.io.api.Binary => b.getBytes
        case other => throw new IllegalStateException(
          s"LakeVersions: non-binary footer stat $other in $rel")
      }
      // per column: the usable non-null chunk statistics, or None if
      // any chunk's stats are absent/omitted (conservative: no
      // envelope at all). Partition columns are not IN the files —
      // absent is fine; Statistics.isEmpty distinguishes OMITTED
      // stats (no info — parquet-mr returns an empty object for
      // legacy corrupt-stats files) from a genuine all-null chunk
      // (whose numNulls IS set): only the latter may be excluded
      // from the envelope; the former must void it.
      def usableChunks(c: String) = {
        val chunks = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == c))
        val usable = chunks.forall(ch =>
          ch.getStatistics != null && !ch.getStatistics.isEmpty)
        val nonNull = chunks.filter(ch =>
          ch.getStatistics != null && ch.getStatistics.hasNonNullValue)
        if (chunks.isEmpty || !usable || nonNull.isEmpty) None
        else Some(nonNull)
      }
      val num = (colSet -- strCols).flatMap { c =>
        usableChunks(c).map(nn => c -> (
          nn.map(ch => asLong(ch.getStatistics.genericGetMin)).min,
          nn.map(ch => asLong(ch.getStatistics.genericGetMax)).max))
      }.toMap
      val str = (colSet intersect strCols).flatMap { c =>
        usableChunks(c).map { nn =>
          val mins = nn.map(ch => asBytes(ch.getStatistics.genericGetMin))
          val maxs = nn.map(ch => asBytes(ch.getStatistics.genericGetMax))
          c -> truncateEnvelope(
            mins.reduce((a, b) => if (compareUtf8(a, b) <= 0) a else b),
            maxs.reduce((a, b) => if (compareUtf8(a, b) >= 0) a else b))
        }
      }.toMap
      (rows, num, str)
    } finally r.close()
  }

  /** Commit `df` as the next version. `overwrite=false` (append): the
    * new version references the previous version's files PLUS the new
    * ones; `overwrite=true`: only the new ones. Returns the committed
    * version number. The data files land BEFORE the lock is taken (the
    * slow, distributed part runs unlocked and unobservable); only the
    * manifest write serializes. A LOCK older than `lockStaleMs` is
    * broken (its holder died mid-commit; the next vacuum sweeps its
    * unreferenced files).
    *
    *  - `partitionBy`: hive-partition the commit's files; appends
    *    inherit the table's layout automatically and refuse a
    *    conflicting one (a manifest whose entries disagree on layout
    *    could not prune coherently).
    *  - `statsCols`: int/long columns to record per-file min/max for
    *    (plus row counts) — the [[readPruned]] index. Footer-exact,
    *    one driver-side footer read per landed file, overlapped with
    *    the landing renames; no Spark job.
    *  - `tag`: idempotence marker stored in the manifest header (see
    *    [[tagOf]]).
    *  - `expectedLatest`: optimistic concurrency for REWRITE commits —
    *    the commit publishes only if the latest version under the lock
    *    is still this one, else throws (retryable). A maintenance
    *    rewrite (compaction, re-clustering) reads version V and
    *    overwrites; without the guard an append that landed between
    *    the read and the publish would be silently erased. */
  def commit(spark: SparkSession, dir: String, df: DataFrame,
             overwrite: Boolean = false,
             partitionBy: Seq[String] = Nil,
             statsCols: Seq[String] = Nil,
             tag: String = "",
             expectedLatest: Option[Long] = None,
             lockWaitMs: Long = 60000, lockStaleMs: Long = 60000): Long =
    commitCore(spark, dir, df, overwrite, partitionBy, statsCols, tag,
      expectedLatest, lockWaitMs, lockStaleMs, carryFiles = None)

  /** [[commit]] plus REWRITE-BY-REFERENCE: the new manifest names
    * `carryFiles` (entries pinned from the version `expectedLatest`
    * vouches for — envelopes, row counts and relpaths carried
    * verbatim, no data moved) ++ the landed files of `df`. This is the
    * primitive under [[deleteWhere]]: rewrite only the files a
    * predicate touches, reference the rest. Overwrite-style: the
    * previous manifest's file list is NOT folded in. */
  private[graft] def commitCarried(
      spark: SparkSession, dir: String, df: DataFrame,
      carryFiles: Seq[FileEntry], partitionBy: Seq[String],
      statsCols: Seq[String], tag: String, expectedLatest: Long,
      lockWaitMs: Long = 60000, lockStaleMs: Long = 60000): Long =
    commitCore(spark, dir, df, overwrite = true, partitionBy, statsCols,
      tag, Some(expectedLatest), lockWaitMs, lockStaleMs,
      carryFiles = Some(carryFiles))

  private def commitCore(spark: SparkSession, dir: String, df: DataFrame,
             overwrite: Boolean,
             partitionBy: Seq[String],
             statsCols: Seq[String],
             tag: String,
             expectedLatest: Option[Long],
             lockWaitMs: Long, lockStaleMs: Long,
             carryFiles: Option[Seq[FileEntry]]): Long = {
    require(!tag.contains("\t") && !tag.contains("\n"),
      "LakeVersions.commit: tag must not contain tabs/newlines")
    (partitionBy ++ statsCols).foreach { c =>
      require(!c.exists("\t\n,;|".contains(_)),
        s"LakeVersions.commit: column name '$c' has manifest-delimiter chars")
    }
    val strStatCols: Set[String] = statsCols.flatMap { c =>
      val f = df.schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"LakeVersions.commit: statsCols column $c not in the frame"))
      f.dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => None
        case org.apache.spark.sql.types.StringType => Some(c)
        case other => throw new IllegalArgumentException(
          s"LakeVersions.commit: statsCols column $c is ${other.simpleString}; " +
            "int/long record exact envelopes, strings record truncated " +
            "bounds — other types have no sound manifest envelope")
      }
    }.toSet
    val (fs, lake) = fsFor(spark, dir)
    fs.mkdirs(versionsPath(lake))
    // resolve the table's partition layout BEFORE landing: appends
    // inherit it, and a conflicting explicit layout fails fast
    val latestPre = state(fs, lake)
    val prevHeader =
      if (overwrite || latestPre == 0) None
      else Some(readHeader(fs, lake, latestPre))
    val tablePartBy = prevHeader match {
      case None => partitionBy
      case Some((_, existing, _, _)) =>
        require(partitionBy.isEmpty || partitionBy == existing,
          s"LakeVersions.commit: append partitionBy ${partitionBy.mkString(",")} " +
            s"conflicts with the table's ${existing.mkString(",")} — appends " +
            "inherit the layout; change it with overwrite")
        existing
    }
    // checked against the RESOLVED layout, not the explicit argument:
    // an append that inherits partitioning would otherwise request
    // stats on a column that is not physically in the files and get a
    // silently absent index instead of this failure
    statsCols.foreach { c =>
      require(!tablePartBy.contains(c),
        s"LakeVersions.commit: $c is a partition column — its value is the " +
          "directory, prune on the partition instead")
    }
    // append-time schema gate: run the EXACT merge the manifest header
    // will record (and every read will trust), so an incompatible
    // append (a re-typed column) fails HERE with the column named — at
    // the write, before any bytes land — instead of poisoning every
    // later read of the table. New and missing columns merge fine
    // (null-fill); drift widens along [[lakeWiden]]'s lattice
    // (month-over-month crawls widen counters; rejecting them would
    // strand every long-lived table). A legacy v2 header may be
    // NARROWER than its files' union (v2 recorded the last commit's
    // frame schema) — recover the true union HERE, unlocked (one
    // mergeSchema footer job; running it under the lock could exceed
    // lockStaleMs and get our own lock broken mid-critical-section),
    // and gate against it, so pre-land and under-lock validate the
    // SAME schema and a gated-through append cannot fail forever
    // under the lock.
    val preLandTableSchema: Option[org.apache.spark.sql.types.StructType] =
      prevHeader.map { case (headerSchema, _, _, authoritative) =>
        if (authoritative) headerSchema
        else {
          val p = readManifest(fs, lake, latestPre)
          frameOver(spark, lake, p, p.files).schema
        }
      }
    preLandTableSchema.foreach { tableSchema =>
      try mergeLakeSchemas(tableSchema, df.schema): Unit
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"LakeVersions.commit: append schema is incompatible with the " +
            s"table under $dir — ${e.getMessage}")
      }
    }
    // land the data files first, under a commit-unique prefix —
    // invisible until a manifest names them
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val staging = new HPath(lake, s"_graft_staging/$uuid")
    val writer = df.write.mode("overwrite")
    (if (tablePartBy.nonEmpty) writer.partitionBy(tablePartBy: _*) else writer)
      .parquet(staging.toString)
    // footer stats ride the landing walk: each file's footer is read
    // on the driver as soon as it is renamed, on a pool as wide as
    // defaultParallelism (one reader at a time loses to a one-task-per-
    // file Spark job once a commit lands hundreds of files) — no job
    val colSet = statsCols.toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    val statsPool =
      if (statsCols.isEmpty) None
      else Some(java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, spark.sparkContext.defaultParallelism)))
    // walk staging recursively: partitioned writes nest the data files
    // under col=value dirs, and the partition-qualified RELPATH is what
    // the manifest records (it IS the partition-value index)
    val landed = Seq.newBuilder[
      (String, Long, Option[java.util.concurrent.Future[FooterStats]])]
    def walk(p: HPath, relDir: String): Unit =
      fs.listStatus(p).foreach { s =>
        val n = s.getPath.getName
        // hive partition dirs carry '=' and may legally start with '_'
        // (a `_day` partition column) — skipping them here would land
        // ZERO files, delete the staging copy, and publish an empty
        // manifest: silent total data loss. Only bare '_'/'.' names
        // (Spark's _SUCCESS/_temporary/checksum litter) are internal.
        if (s.isDirectory && !n.startsWith(".") &&
            (!n.startsWith("_") || n.contains("=")))
          walk(s.getPath, if (relDir.isEmpty) n else s"$relDir/$n")
        else if (s.isFile && !n.startsWith(".") && !n.startsWith("_")) {
          val rel =
            if (relDir.isEmpty) s"data-$uuid-$n" else s"$relDir/data-$uuid-$n"
          val dest = new HPath(lake, rel)
          fs.mkdirs(dest.getParent)
          require(fs.rename(s.getPath, dest),
            s"LakeVersions.commit: landing rename failed for ${s.getPath}")
          landed += ((rel, s.getLen, statsPool.map(_.submit[FooterStats](() =>
            footerStats(hconf, lake.toString, rel, colSet, strStatCols)))))
        }
      }
    val newFiles =
      try {
        walk(staging, "")
        fs.delete(staging, true): Unit
        landed.result().map { case (rel, len, stats) =>
          val (rows, st, sst) = stats.fold(NoFooterStats) { f =>
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException =>
              throw e.getCause }
          }
          FileEntry(rel, len, rows, st, sst)
        }
      } finally statsPool.foreach(_.shutdownNow())
    localCommitLock.synchronized {
      val lock = new HPath(versionsPath(lake), "LOCK")
      val deadline = System.currentTimeMillis() + lockWaitMs
      var held = false
      while (!held) {
        held =
          try {
            // the holder's identity goes INTO the lock, so release can
            // never delete a lock some other writer took after a break
            val out = fs.create(lock, false)
            try out.write(uuid.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
            true
          }
          catch { case _: java.io.IOException => false }
        if (!held) {
          val st = try Some(fs.getFileStatus(lock))
                   catch { case _: java.io.FileNotFoundException => None }
          st match {
            case Some(x) if x.getModificationTime <
                System.currentTimeMillis() - lockStaleMs =>
              // break a dead holder's lock — but re-stat first and only
              // delete the EXACT file observed stale, so two breakers
              // racing cannot take out each other's fresh lock
              val again = try Some(fs.getFileStatus(lock))
                          catch { case _: java.io.FileNotFoundException => None }
              if (again.exists(a => a.getModificationTime == x.getModificationTime
                  && a.getLen == x.getLen))
                fs.delete(lock, false): Unit
            case _ =>
              if (System.currentTimeMillis() > deadline)
                throw new IllegalStateException(
                  s"LakeVersions.commit: could not take $lock within ${lockWaitMs} ms")
              Thread.sleep(50)
          }
        }
      }
      try {
        val latest = state(fs, lake)
        expectedLatest.foreach { e =>
          if (latest != e) throw new java.util.ConcurrentModificationException(
            s"LakeVersions.commit: expected latest v$e but found v$latest under " +
              s"$dir — another commit landed since the rewrite's read; retry " +
              "the rewrite on the new latest (its landed files await vacuum)")
        }
        val next = latest + 1
        val prev =
          if (overwrite || latest == 0) None
          else Some(readManifest(fs, lake, latest))
        prev.foreach { p =>
          // tablePartBy is the layout our files were PHYSICALLY written
          // with; a racer changing the table's layout between the
          // pre-land resolution and here would make this manifest
          // incoherent — fail, let the caller retry (vacuum reclaims
          // the landed files)
          require(tablePartBy == p.partitionBy,
            s"LakeVersions.commit: table layout changed under the lock " +
              s"(now ${p.partitionBy.mkString(",")}, landed as " +
              s"${tablePartBy.mkString(",")}) — retry commit()")
        }
        val files =
          carryFiles.getOrElse(prev.map(_.files).getOrElse(Nil)) ++ newFiles
        val partByOut = tablePartBy
        // the header records the MERGED table schema, not df.schema: a
        // narrower append (fewer columns) must not shrink the table —
        // the next append's gate would then validate against the
        // shrunken shape and let a dropped column return RE-TYPED,
        // poisoning every later read. Merged under the lock against
        // the true latest (prev may differ from the pre-land header if
        // a racer appended); an incompatible racer makes this throw —
        // retryable, same contract as the layout race below.
        val tableSchema = prev match {
          case None => df.schema
          case Some(p) =>
            // for a legacy v2 prev, reuse the union recovered UNLOCKED
            // in the pre-land gate: a v2 prev under the lock means no
            // commit landed since pre-land (any new commit writes v3),
            // so the pre-land recovery is the same manifest's union —
            // and no footer job runs while holding the lock. The
            // fallback recovery is defensively unreachable.
            val prevSchema =
              if (p.headerAuthoritative) p.schema
              else preLandTableSchema.getOrElse(
                frameOver(spark, lake, p, p.files).schema)
            try mergeLakeSchemas(prevSchema, df.schema)
            catch { case e: Exception => throw new IllegalStateException(
              s"LakeVersions.commit: table schema changed incompatibly " +
                s"under the lock (${e.getMessage}) — retry commit()")
            }
        }
        val header =
          s"$ManifestMagicV3\t${tableSchema.json}\t${partByOut.mkString(",")}\t$tag"
        val tmp = new HPath(versionsPath(lake), s".v$next.$uuid.tmp")
        val out = fs.create(tmp, true)
        try out.write((header +: files.map(e =>
            s"${e.relpath}\t${e.len}\t${encodeStats(e)}"))
          .mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // ownership check right before the publish: a racing breaker
        // that misjudged OUR fresh lock as the stale one (its re-stat
        // ran before we replaced it) would have deleted it and taken
        // its own — in that case the critical section is torn, so
        // throw rather than overwrite the usurper's manifest. Data
        // files are landed and unreferenced; the caller can retry
        // commit() cheaply and vacuum reclaims them otherwise.
        val mine = try AvroIo.readSmallFile(fs, lock) == uuid
                   catch { case _: java.io.IOException => false }
        if (!mine) throw new IllegalStateException(
          s"LakeVersions.commit: lock ownership lost under $dir " +
            "(a stale-lock breaker raced this commit) — retry commit()")
        require(fs.rename(tmp, manifestPath(lake, next)),
          s"LakeVersions.commit: manifest rename failed for v$next")
        writeHead(fs, lake, next)
        next
      } finally {
        // release only OUR lock: a breaker may have replaced it
        val mine = try AvroIo.readSmallFile(fs, lock) == uuid
                   catch { case _: java.io.IOException => false }
        if (mine) fs.delete(lock, false): Unit
      }
    }
  }

  private def emptyFrame(spark: SparkSession,
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Build the frame over an explicit manifest file list, read with
    * the manifest header's schema — the header IS the table's merged
    * shape (every commit records the append-merged schema), so the
    * read needs no mergeSchema footer-merge job (O(files) footer reads
    * saved on every read), columns a file predates null-fill, and a
    * file whose column was since WIDENED (int→long along the
    * [[mergeLakeSchemas]] lattice) decodes through the parquet
    * reader's widening promotion. Partitioned lakes read with
    * `basePath` = the lake root so the manifest's partition-qualified
    * relpaths surface as real partition columns (typed by the header
    * schema), and a filter on them becomes PartitionFilters — pruned
    * at planning, no data touched. */
  private def frameOver(spark: SparkSession, lake: HPath,
                        m: ManifestState, files: Seq[FileEntry]): DataFrame = {
    if (files.isEmpty) emptyFrame(spark, m.schema)
    else if (!m.headerAuthoritative) {
      // legacy v2 manifest: its header is the LAST commit's frame
      // schema, possibly narrower than the union of its files — only
      // the mergeSchema footer-merge read is correct there
      val paths = files.map(e => new HPath(lake, e.relpath).toString)
      val base = spark.read.option("mergeSchema", "true")
      if (m.partitionBy.isEmpty) base.parquet(paths: _*)
      else {
        val df = base.option("basePath", lake.toString).parquet(paths: _*)
        val typed = m.schema.fields.filter(f => m.partitionBy.contains(f.name))
        typed.foldLeft(df) { (d, f) =>
          d.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name).cast(f.dataType))
        }.select(m.schema.fieldNames.filter(df.columns.contains).map(
          org.apache.spark.sql.functions.col).toSeq ++
          df.columns.filterNot(m.schema.fieldNames.contains).map(
            org.apache.spark.sql.functions.col).toSeq: _*)
      }
    } else {
      val paths = files.map(e => new HPath(lake, e.relpath).toString)
      val base = spark.read.schema(
        org.apache.spark.sql.GraftColumnBridge.nullableSchema(m.schema))
      if (m.partitionBy.isEmpty) base.parquet(paths: _*)
      else base.option("basePath", lake.toString).parquet(paths: _*)
        .select(m.schema.fieldNames.map(
          org.apache.spark.sql.functions.col).toSeq: _*)
    }
  }

  /** Read a pinned `version` (default: latest). The frame reads
    * EXACTLY the manifest's files — concurrent commits and dead
    * writers' unreferenced litter are invisible. Schemas across
    * versions merge losslessly (mergeSchema); partition columns are
    * surfaced as partition columns (see [[frameOver]]). */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val (fs, lake) = fsFor(spark, dir)
    val m = pinned(spark, dir, version)
    frameOver(spark, lake, m, m.files)
  }

  /** [[pinned]] with the schema made AUTHORITATIVE: a legacy v2
    * header may be narrower than its files' union, so faces that
    * trust `schema` directly (the graftlake source builds its
    * relation schema from it) must resolve the union first — one
    * mergeSchema footer job, only ever paid on legacy manifests. */
  private[sources] def resolvedState(spark: SparkSession, dir: String,
                                     version: Option[Long]): ManifestState = {
    val m = pinned(spark, dir, version)
    if (m.headerAuthoritative) m
    else {
      val (_, lake) = fsFor(spark, dir)
      m.copy(schema = frameOver(spark, lake, m, m.files).schema,
        headerAuthoritative = true)
    }
  }

  private[graft] def pinned(spark: SparkSession, dir: String,
                              version: Option[Long]): ManifestState = {
    val (fs, lake) = fsFor(spark, dir)
    val v = version.getOrElse(state(fs, lake))
    require(v > 0, s"LakeVersions.read: no committed version under $dir")
    require(fs.exists(manifestPath(lake, v)),
      s"LakeVersions.read: version $v does not exist (vacuumed?) under $dir")
    readManifest(fs, lake, v)
  }

  /** Which manifest files survive conjunctive inclusive range
    * predicates `col BETWEEN lo AND hi`? A file drops only on PROOF:
    * its partition value (parsed from the relpath — the manifest IS
    * the partition index) falls outside the range, or its recorded
    * footer envelope excludes it (max < lo or min > hi), or it is
    * recorded empty. Missing stats keep the file — a reader without
    * evidence must scan. The same decision rule as
    * [[PsIO.parquetPruneSim]], applied at FILE granularity from the
    * manifest alone: no footer reads, no listing, O(files) driver
    * arithmetic. */
  def pruneFiles(m: ManifestState, bounds: Seq[(String, Long, Long)],
                 strBounds: Seq[(String, String, String)] = Nil): Seq[FileEntry] = {
    strBounds.foreach { case (c, lo, hi) =>
      require(compareUtf8(utf8(lo), utf8(hi)) <= 0,
        s"LakeVersions.pruneFiles: empty range ['$lo', '$hi'] for $c") }
    pruneFilesOpt(m, bounds,
      strBounds.map { case (c, lo, hi) => (c, Some(lo), Some(hi)) })
  }

  /** [[pruneFiles]] with HALF-OPEN string ranges (None = unbounded on
    * that side) — the shape predicate pushdown produces (`col >= 'x'`
    * has no upper). The empty string is the true byte-order minimum,
    * but no string is a maximum, hence the Option. */
  private[sources] def pruneFilesOpt(
      m: ManifestState, bounds: Seq[(String, Long, Long)],
      strBounds: Seq[(String, Option[String], Option[String])]): Seq[FileEntry] = {
    require(bounds.nonEmpty || strBounds.nonEmpty,
      "LakeVersions.pruneFiles: no predicate bounds")
    bounds.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"LakeVersions.pruneFiles: empty range [$lo, $hi] for $c") }
    def partValue(relpath: String, col: String): Option[Option[String]] =
      relpath.split("/").iterator.filter(_.contains("="))
        .map { seg => val i = seg.indexOf('='); (seg.substring(0, i), seg.substring(i + 1)) }
        .collectFirst { case (`col`, v) =>
          // a NULL partition value can never satisfy a range predicate.
          // UNESCAPE before comparing: the writer hive-escaped special
          // chars into the dir name (a value 'a:b' lands as 'a%3Ab'),
          // and comparing the escaped form against a user-space bound
          // would wrongly prune files that hold matching rows
          if (v == "__HIVE_DEFAULT_PARTITION__") None
          else Some(org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(v))
        }
    def partLong(relpath: String, col: String): Option[Option[Long]] =
      partValue(relpath, col).map(_.map { v =>
        // non-integer partition value under an int bound is a caller
        // type error — fail loudly (same "loudly" contract as
        // parquetStats), never silently prune on unprovable evidence
        try v.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"LakeVersions.pruneFiles: partition column $col has " +
              s"non-integer value '$v' under an int/long bound")
        }
      })
    // encode the predicate bounds ONCE, not once per file — pruning is
    // the planning hot path of every graftlake query
    val strBoundsB = strBounds.map { case (c, lo, hi) =>
      (c, lo.map(utf8), hi.map(utf8))
    }
    m.files.filter { e =>
      val provablyEmpty = e.rows == 0L
      val byNum = bounds.forall { case (c, lo, hi) =>
        val byPartition = partLong(e.relpath, c) match {
          case Some(Some(v)) => v >= lo && v <= hi
          case Some(None)    => false // null partition: predicate is false
          case None          => true  // not a partition dir for this col
        }
        val byStats = e.stats.get(c) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None           => true // no envelope: must keep
        }
        byPartition && byStats
      }
      // string bounds compare in unsigned UTF-8 byte space throughout
      // (parquet's and Spark's string order); envelope bounds are the
      // TRUNCATED sound bounds recorded at commit, so `envHi >= lo`
      // and `envLo <= hi` remain proofs, just looser ones — an
      // unbounded upper (all-0xFF truncation) can never drop from above
      val byStr = strBoundsB.forall { case (c, loB, hiB) =>
        val byPartition = partValue(e.relpath, c) match {
          case Some(Some(v)) =>
            val vb = utf8(v)
            loB.forall(compareUtf8(vb, _) >= 0) &&
              hiB.forall(compareUtf8(vb, _) <= 0)
          case Some(None) => false
          case None       => true
        }
        val byStats = e.strStats.get(c) match {
          case Some((envLo, envHiOpt)) =>
            loB.forall(lo => envHiOpt.forall(envHi =>
              compareUtf8(b64Bytes(envHi), lo) >= 0)) &&
              hiB.forall(hi => compareUtf8(b64Bytes(envLo), hi) <= 0)
          case None => true // no envelope: must keep
        }
        byPartition && byStats
      }
      !provablyEmpty && byNum && byStr
    }
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** [[read]] restricted by manifest-level file pruning: the returned
    * frame plans over ONLY the files [[pruneFiles]] keeps. The bounds
    * are a pruning hint, not a filter — rows outside the range from
    * surviving files still appear; apply the real predicate on top
    * (exactly parquet row-group pruning's contract, one level up). */
  def readPruned(spark: SparkSession, dir: String,
                 bounds: Seq[(String, Long, Long)],
                 version: Option[Long] = None,
                 strBounds: Seq[(String, String, String)] = Nil): DataFrame = {
    val (_, lake) = fsFor(spark, dir)
    val m = pinned(spark, dir, version)
    frameOver(spark, lake, m, pruneFiles(m, bounds, strBounds))
  }

  /** Pruning audit: (kept, total) manifest files for `bounds` — the
    * number a layout decision or a prune-fraction assert reads. */
  def pruneCounts(spark: SparkSession, dir: String,
                  bounds: Seq[(String, Long, Long)],
                  version: Option[Long] = None,
                  strBounds: Seq[(String, String, String)] = Nil): (Int, Int) = {
    val m = pinned(spark, dir, version)
    (pruneFiles(m, bounds, strBounds).size, m.files.size)
  }

  /** Stats columns a rewrite should re-record: every column the
    * current manifest carries an envelope for (exact int/long or
    * truncated string) that still exists in the frame at an
    * envelope-able type. */
  private def statsColsOf(m: ManifestState, df: DataFrame): Seq[String] = {
    val intLike: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    m.files.flatMap(_.stats.keys).distinct.filter(c =>
      df.schema.find(_.name == c).exists(f => intLike(f.dataType))) ++
      m.files.flatMap(_.strStats.keys).distinct.filter(c =>
        df.schema.find(_.name == c)
          .exists(_.dataType == org.apache.spark.sql.types.StringType))
  }

  /** OPTIMIZE-lite, part 1 — COMPACTION AS A COMMIT: rewrite the
    * latest version's data into ~`targetBytes` files (coalesce — no
    * shuffle; a compaction that shuffles the corpus to save file
    * handles is worse than the disease) and publish it as an OVERWRITE
    * version. The old layout stays readable at its pinned version
    * until [[vacuum]] drops it — a reader mid-query during OPTIMIZE
    * never sees a half-rewritten table, which is the whole reason to
    * route maintenance through the manifest instead of rewriting the
    * directory in place. Partition layout and stats index carry over;
    * `expectedLatest` guards the read-rewrite-publish window, so a
    * concurrent append makes this throw (retry) rather than be erased.
    * Returns the committed version. */
  def compactCommit(spark: SparkSession, dir: String,
                    targetBytes: Long = 128L << 20): Long = {
    // resolve the version FIRST, then pin that exact manifest: reading
    // "latest" twice would let a racer land between the two listings,
    // making expectedLatest vouch for a manifest we never read
    val v = latestVersion(spark, dir)
    val m = pinned(spark, dir, Some(v))
    require(m.files.nonEmpty, s"LakeVersions.compactCommit: v$v is empty")
    val n = math.max(1,
      math.ceil(m.files.map(_.len).sum.toDouble / targetBytes).toInt)
    val (_, lake) = fsFor(spark, dir)
    val df = frameOver(spark, lake, m, m.files).coalesce(n)
    commit(spark, dir, df, overwrite = true, partitionBy = m.partitionBy,
      statsCols = statsColsOf(m, df), tag = s"compact-of-v$v",
      expectedLatest = Some(v))
  }

  /** OPTIMIZE-lite, part 2 — Z-ORDER AS A COMMIT: re-cluster the
    * latest version on the Morton curve over `cols`
    * ([[PsIO.zOrdered]]: each output file covers a small min/max box
    * in EVERY z dimension) and publish as an overwrite version with
    * fresh stats envelopes, so [[readPruned]] file-prunes point/range
    * predicates on any z column. Same pinned-old-version /
    * `expectedLatest` discipline as [[compactCommit]]. `statsCols`
    * defaults to the int/long z columns plus whatever the manifest
    * already indexed. */
  def zOrderCommit(spark: SparkSession, dir: String, cols: Seq[String],
                   partitions: Int, bitsPerCol: Int = 16,
                   statsCols: Seq[String] = Nil): Long = {
    // version-then-pin, same race note as compactCommit
    val v = latestVersion(spark, dir)
    val m = pinned(spark, dir, Some(v))
    val (_, lake) = fsFor(spark, dir)
    val base = frameOver(spark, lake, m, m.files)
    val intLike: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    val st =
      if (statsCols.nonEmpty) statsCols
      else (cols.filterNot(m.partitionBy.contains)
        .filter(c => base.schema.find(_.name == c)
          .exists(f => intLike(f.dataType))) ++ statsColsOf(m, base)).distinct
    commit(spark, dir, PsIO.zOrdered(base, cols, partitions, bitsPerCol),
      overwrite = true, partitionBy = m.partitionBy, statsCols = st,
      tag = s"zorder-of-v$v", expectedLatest = Some(v))
  }

  /** Which manifest files does `hits` (a frame derived from the
    * pinned `graftlake` face, carrying [[HitFileCol]] =
    * input_file_name()) actually touch? Shared by [[deleteWhere]] /
    * [[updateWhere]] / [[mergeInto]] — each refuses an unprovable
    * relpath outright: silently carrying a hit file by reference
    * would resurrect deleted rows / drop an update. One Spark job and
    * no shuffle: partitions dedupe their own file names and the driver
    * unions them.
    *
    * Callers must add [[HitFileCol]] AFTER their scan-prunable
    * filters but BEFORE any join: projecting the nondeterministic
    * input_file_name below a filter blocks that filter's collection
    * into the scan (empty PushedFilters/PartitionFilters — verified
    * on the planned FileSourceScan), turning a manifest-pruned probe
    * into a full-table read; above a join the column's lineage is
    * ambiguous. filter → withColumn → join is the one order that
    * both prunes and stays unambiguous. */
  private val HitFileCol = "__graft_hit_file"
  private def hitRelpaths(spark: SparkSession, dir: String,
                          m: ManifestState, op: String,
                          hits: DataFrame): Set[String] = {
    val (fs, lake) = fsFor(spark, dir)
    val lakeUri = fs.makeQualified(lake).toUri.getPath.stripSuffix("/")
    val manifestRels = m.files.map(_.relpath).toSet
    // not distinct(): it would add an exchange (and, under AQE, a
    // second job) to shrink a result that is at most a few names per
    // partition already
    val matched = hits.select(HitFileCol).as(Encoders.STRING)
      .mapPartitions(it => it.toSet.iterator)(Encoders.STRING)
      .collect().toSet
    matched.map { f =>
      // input_file_name() returns the URL-ENCODED path (a physical
      // dir 'p=a%3Ab' — itself hive-escaped — arrives as
      // 'p=a%253Ab'); decode ONCE via URI to recover the on-disk
      // name the manifest records
      val decoded = java.net.URI.create(f).getPath
      val rel =
        if (decoded.startsWith(s"$lakeUri/"))
          decoded.substring(lakeUri.length + 1)
        else throw new IllegalStateException(
          s"LakeVersions.$op: matched file $f " +
            s"outside lake root $lakeUri")
      require(manifestRels(rel),
        s"LakeVersions.$op: matched file $rel is not in the " +
          s"pinned manifest — path decoding drifted; refusing a silent no-op")
      rel
    }
  }

  /** Row-level DELETE as a versioned commit — the takedown/GDPR op a
    * corpus store needs. Rows matching `predicate` (SQL DELETE
    * semantics: removed where TRUE; null keeps) disappear from the new
    * latest version; every file the predicate provably cannot touch is
    * carried into the new manifest BY REFERENCE — relpath, envelope
    * and row count verbatim, zero bytes moved — and only the files
    * that actually CONTAIN matching rows are rewritten with the
    * predicate anti-applied. Candidate discovery plans through the
    * graftlake SQL face, so the manifest's stats envelopes file-prune
    * the probe scan before any data is read. The publish is guarded by
    * `expectedLatest` = the pinned version: an append landing inside
    * the read-rewrite-publish window throws (retryable) rather than
    * being erased. Old versions still read the deleted rows until
    * [[vacuum]] — retention policy for takedowns is the operator's
    * call, same as every table format.
    *
    * Returns (committedVersion, filesRewritten, filesCarried);
    * a predicate matching nothing commits nothing and returns
    * (currentVersion, 0, nFiles). */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, input_file_name, lit, not}
    // version-then-pin, same race note as compactCommit
    val v = latestVersion(spark, dir)
    val m = pinned(spark, dir, Some(v))
    if (m.files.isEmpty) return (v, 0, 0)
    val (_, lake) = fsFor(spark, dir)
    val face = spark.read.format("graftlake")
      .option("versionAsOf", v.toString).load(dir)
    val hitRels = hitRelpaths(spark, dir, m, "deleteWhere",
      face.filter(predicate).withColumn(HitFileCol, input_file_name()))
    if (hitRels.isEmpty) return (v, 0, m.files.size)
    val (rewrite, carry) = m.files.partition(e => hitRels(e.relpath))
    val survivors = frameOver(spark, lake, m, rewrite)
      .filter(not(coalesce(predicate, lit(false))))
    val next = commitCarried(spark, dir, survivors, carry, m.partitionBy,
      statsColsOf(m, survivors), tag = s"delete-of-v$v", expectedLatest = v)
    (next, rewrite.size, carry.size)
  }

  /** Row-level UPDATE as a versioned commit — the correction op
    * ([[deleteWhere]]'s sibling; together they are the takedown +
    * rectification pair). Rows matching `predicate` get each column in
    * `set` recomputed; everything else — including every file the
    * predicate provably cannot touch, carried BY REFERENCE — is
    * byte-unchanged. SQL UPDATE semantics throughout: a null predicate
    * keeps the old row, and every SET expression evaluates against the
    * OLD row (one `select`, not a fold of withColumn — `SET a=b, b=a`
    * swaps). The SET must not re-type the table: an expression whose
    * type differs from the column's refuses with the column named —
    * cast explicitly if the loss is intended (it would otherwise poison
    * the manifest header schema every later read trusts). Updating a
    * partition column is legal: rewritten rows land under their new
    * value's directory through the same partitioned writer as any
    * commit. Publish is `expectedLatest`-guarded like [[deleteWhere]].
    *
    * Returns (committedVersion, filesRewritten, filesCarried). */
  def updateWhere(spark: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column])
      : (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, input_file_name, lit, when}
    require(set.nonEmpty, "LakeVersions.updateWhere: empty SET")
    val v = latestVersion(spark, dir)
    // the RESOLVED schema (a legacy v2 header can be narrower than its
    // files' union — validating against it would refuse a legal SET)
    val m = resolvedState(spark, dir, Some(v))
    // validate the SET before ANY fast path: a no-hit predicate or an
    // empty table must not turn a re-typed or misnamed SET into a
    // silent success that starts throwing the first day a row matches
    // — validation must be data-independent. The empty frame resolves
    // the expressions' types without reading a byte.
    val schemaProbe = emptyFrame(spark, m.schema)
    set.keys.foreach { c =>
      require(m.schema.fieldNames.contains(c),
        s"LakeVersions.updateWhere: SET column $c is not a table column " +
          s"(table has ${m.schema.fieldNames.mkString(", ")})")
    }
    // check each SET expression's OWN type against the column BEFORE
    // wrapping it in when(): the wrapper would silently coerce both
    // branches to a common type (ANSI puts a runtime string->long cast
    // in the plan that detonates mid-write), hiding the re-type from
    // any check on the final schema. Only the lake's lossless widening
    // lattice coerces (lit(0) into a long column is fine); anything
    // else refuses here with the column named.
    val setTypes = schemaProbe.select(set.toSeq.map { case (c, e) => e.as(c) }: _*)
      .schema.map(f => f.name -> f.dataType).toMap
    val bad = set.keys.toSeq.sorted.flatMap { c =>
      val colT = m.schema(c).dataType
      val exprT = setTypes(c)
      if (exprT == colT || lakeWiden(exprT, colT).contains(colT)) None
      else Some(s"$c (${exprT.simpleString} into ${colT.simpleString})")
    }
    require(bad.isEmpty,
      s"LakeVersions.updateWhere: SET re-types ${bad.mkString(", ")} — " +
        "cast the expression to the column's type if the change is intended")
    if (m.files.isEmpty) return (v, 0, 0)
    val (_, lake) = fsFor(spark, dir)
    val face = spark.read.format("graftlake")
      .option("versionAsOf", v.toString).load(dir)
    val hitRels = hitRelpaths(spark, dir, m, "updateWhere",
      face.filter(predicate).withColumn(HitFileCol, input_file_name()))
    if (hitRels.isEmpty) return (v, 0, m.files.size)
    val (rewrite, carry) = m.files.partition(e => hitRels(e.relpath))
    val base = frameOver(spark, lake, m, rewrite)
    val cond = coalesce(predicate, lit(false))
    val updated = base.select(base.columns.toSeq.map { c =>
      set.get(c) match {
        case Some(e) => when(cond, e.cast(base.schema(c).dataType))
          .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    val next = commitCarried(spark, dir, updated, carry, m.partitionBy,
      statsColsOf(m, updated), tag = s"update-of-v$v", expectedLatest = v)
    (next, rewrite.size, carry.size)
  }

  /** MERGE INTO — keyed upsert as a versioned commit, the CDC-ingest
    * op (WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    * INSERT *, i.e. whole-row replace-or-insert — the frame-level
    * [[graft.operators.Snapshot.applyChanges]] semantics landed as a
    * lake commit). The table scan that discovers matched files is
    * pre-filtered by the SOURCE's key envelope (one small agg over the
    * CDC batch) on int/long keys, so the manifest's stats prune
    * untouched files before any data is read — at 100 TB a merge of a
    * day's deltas into a key-sorted lake reads only the key range the
    * deltas span. Files containing NO matched key carry by reference;
    * hit files rewrite as (old rows with unmatched keys) ∪ source —
    * matched rows replaced, new keys inserted, in one commit.
    *
    * Refuses: a source with duplicate keys (ambiguous — which row
    * wins?), and a source whose columns OR TYPES differ from the
    * table's (CDC batches must be shaped upstream; name-only
    * validation would let unionByName's implicit coercion stringify a
    * re-typed column silently on the replace path). Rows with
    * a NULL key never match (SQL join semantics): they insert, and
    * null-keyed table rows are never replaced.
    *
    * The source is materialized once (localCheckpoint) before any
    * decision reads it: the probe semi-join, the anti-join and the
    * final write must all see the SAME rows, or an unstable source (a
    * sample, a live path) could classify a file as carry while the
    * write inserts a row with a key that file already holds —
    * duplicate keys in the committed version. One materialization
    * also spares a CDC batch four re-evaluations.
    *
    * Returns (committedVersion, filesRewritten, filesCarried). An
    * empty source is a no-op: (currentVersion, 0, nFiles), no commit.
    * A table whose pinned manifest is EMPTY (a committed empty frame)
    * appends the whole source; a never-committed dir throws — MERGE
    * targets an existing table, same as every table format. */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                keyCols: Seq[String]): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, count_distinct,
      input_file_name, lit, max, min, when}
    require(keyCols.nonEmpty, "LakeVersions.mergeInto: no key columns")
    val v = latestVersion(spark, dir)
    // the RESOLVED schema: a legacy v2 header can be narrower than the
    // files' union the face actually reads — validating against it
    // would refuse a correctly-shaped source (and pass a narrow one
    // that then fails mid-plan in unionByName)
    val m = resolvedState(spark, dir, Some(v))
    // every refusal validates against the resolved TABLE schema, not
    // the face, so the empty-manifest fast path refuses identically: a
    // dup-keyed or re-typed batch must not land just because the
    // table happens to be empty (or to have no matched file)
    val tableCols = m.schema.fields.map(f => f.name -> f.dataType)
    require(source.columns.toSet == tableCols.map(_._1).toSet,
      s"LakeVersions.mergeInto: source columns ${source.columns.sorted.mkString(", ")} " +
        s"differ from the table's ${tableCols.map(_._1).sorted.mkString(", ")}")
    val srcTypes = source.schema.fields.map(f => f.name -> f.dataType).toMap
    val retyped = tableCols.collect {
      case (c, t) if srcTypes(c) != t =>
        s"$c (${srcTypes(c).simpleString} vs table ${t.simpleString})"
    }
    require(retyped.isEmpty,
      s"LakeVersions.mergeInto: source re-types ${retyped.mkString(", ")} — " +
        "cast the CDC batch to the table's types; coercing here would " +
        "silently rewrite matched rows through a lossy cast")
    keyCols.foreach { k =>
      require(srcTypes.contains(k),
        s"LakeVersions.mergeInto: key column $k is not a table column")
    }
    // one materialization: probe, anti-join and write see the same rows
    val src = source.select(tableCols.toSeq.map(c => col(c._1)): _*)
      .localCheckpoint(true)
    // every question about the batch is answered by ONE aggregate over
    // the materialized rows:
    //  - its size: an empty batch is a no-op;
    //  - duplicate keys: only NON-null keys can be ambiguous — a null
    //    key never matches anything (both rows just insert), so two
    //    null-keyed CDC records are legal. count(DISTINCT k1, k2, ...)
    //    skips every tuple holding a null, so a non-null key repeats
    //    exactly when it falls short of the non-null-keyed row count;
    //  - the int/long keys' envelope, which bounds the probe scan below
    val intLikeKeys = keyCols.filter(k => srcTypes(k) match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    val keysNonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val batchAggs = Seq(count(lit(1)), count(when(keysNonNull, lit(1))),
      count_distinct(col(keyCols.head), keyCols.tail.map(col): _*)) ++
      intLikeKeys.flatMap(k => Seq(min(k), max(k)))
    val batch = src.agg(batchAggs.head, batchAggs.tail: _*).head()
    if (batch.getLong(0) == 0L) return (v, 0, m.files.size)
    // the group-by runs only to name an example key in the refusal
    require(batch.getLong(1) == batch.getLong(2), {
      val dup = src.filter(keysNonNull)
        .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect().head
      s"LakeVersions.mergeInto: source has duplicate keys (e.g. " +
        s"${keyCols.zip(dup.toSeq).map { case (k, x) => s"$k=$x" }.mkString(", ")}) — " +
        "which row wins is ambiguous; dedup the CDC batch first"
    })
    if (m.files.isEmpty) {
      val next = commit(spark, dir, src,
        partitionBy = m.partitionBy, tag = "merge-into-empty",
        expectedLatest = Some(v))
      return (next, 0, 0)
    }
    val (_, lake) = fsFor(spark, dir)
    val face = spark.read.format("graftlake")
      .option("versionAsOf", v.toString).load(dir)
    // scale valve: a matched table row's key necessarily lies inside
    // the source's key envelope, so bound the probe scan per int/long
    // key — the graftlake face turns the BETWEEN into manifest prune
    val probe = intLikeKeys.zipWithIndex.foldLeft(face) { case (f, (k, i)) =>
      // an all-null key column has a null envelope: no bound (the key
      // can never match anyway; the semi-join returns nothing)
      val lo = 3 + 2 * i
      if (batch.isNullAt(lo)) f
      else f.filter(col(k) >= lit(batch.get(lo)) && col(k) <= lit(batch.get(lo + 1)))
    }
    val hitRels = hitRelpaths(spark, dir, m, "mergeInto",
      probe.withColumn(HitFileCol, input_file_name())
        .join(src.select(keyCols.map(col): _*), keyCols, "left_semi"))
    val (rewrite, carry) = m.files.partition(e => hitRels(e.relpath))
    val kept =
      if (rewrite.isEmpty) None
      else Some(frameOver(spark, lake, m, rewrite)
        .join(src.select(keyCols.map(col): _*), keyCols, "left_anti"))
    val newData = kept.fold(src)(_.unionByName(src))
    val next = commitCarried(spark, dir, newData, carry, m.partitionBy,
      statsColsOf(m, newData), tag = s"merge-of-v$v", expectedLatest = v)
    (next, rewrite.size, carry.size)
  }

  /** The file-level change ledger between two pinned versions — pure
    * manifest arithmetic, no data read: one row per relpath present in
    * exactly one of the two manifests (`change` ∈ added | removed).
    * uuid file names never recur, so `removed` means a rewrite
    * (compaction, z-order, delete, update, merge) dropped the file and
    * `added` covers both appends and rewrite outputs. */
  def fileChanges(spark: SparkSession, dir: String,
                  fromV: Long, toV: Long): DataFrame = {
    val (fs, lake) = fsFor(spark, dir)
    Seq(fromV, toV).foreach { v =>
      require(fs.exists(manifestPath(lake, v)),
        s"LakeVersions.fileChanges: version $v does not exist " +
          s"(vacuumed?) under $dir")
    }
    val from = readManifest(fs, lake, fromV)
    val to = readManifest(fs, lake, toV)
    val fromRels = from.files.map(_.relpath).toSet
    val toRels = to.files.map(_.relpath).toSet
    val rows =
      to.files.filterNot(e => fromRels(e.relpath))
        .map(e => (e.relpath, "added", e.rows, e.len)) ++
      from.files.filterNot(e => toRels(e.relpath))
        .map(e => (e.relpath, "removed", e.rows, e.len))
    spark.createDataFrame(rows.sortBy(r => (r._2, r._1)))
      .toDF("relpath", "change", "rows", "bytes")
  }

  /** Incremental consumption: the rows APPENDED between two pinned
    * versions, read from the added files alone — the downstream-
    * pipeline face ("process only what's new since my last run"),
    * O(new data) instead of O(table) per refresh. Sound only while
    * every commit in the window is an append: uuid relpaths never
    * recur, so `fromV`'s files all surviving in `toV` proves no
    * rewrite intervened; otherwise this throws (naming both versions)
    * — a rewrite means added files RESTATE old rows and reading them
    * as deltas would double-count, so fall back to the keyed
    * [[diff]], which classifies inserted/updated/deleted exactly. */
  def appendsBetween(spark: SparkSession, dir: String,
                     fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV,
      s"LakeVersions.appendsBetween: fromV $fromV > toV $toV")
    val (fs, lake) = fsFor(spark, dir)
    Seq(fromV, toV).foreach { v =>
      require(fs.exists(manifestPath(lake, v)),
        s"LakeVersions.appendsBetween: version $v does not exist " +
          s"(vacuumed?) under $dir — past-retention consumers must " +
          "re-bootstrap from the current snapshot")
    }
    val from = readManifest(fs, lake, fromV)
    val to = readManifest(fs, lake, toV)
    val toRels = to.files.map(_.relpath).toSet
    val dropped = from.files.map(_.relpath).filterNot(toRels)
    if (dropped.nonEmpty)
      throw new IllegalStateException(
        s"LakeVersions.appendsBetween: v$fromV..v$toV is not append-only — " +
          s"${dropped.size} file(s) of v$fromV were rewritten (e.g. " +
          s"${dropped.head}); read the window with diff(dir, $fromV, $toV, " +
          "keys) instead, which classifies the restated rows exactly")
    val fromRels = from.files.map(_.relpath).toSet
    val added = to.files.filterNot(e => fromRels(e.relpath))
    frameOver(spark, lake, to, added)
  }

  /** Checkpointed incremental consumption — the downstream-refresh
    * loop over [[appendsBetween]] with durable progress: each call
    * reads the rows committed since the checkpoint's high-water
    * version (the FULL table on first call — the bootstrap snapshot,
    * as streaming table readers do), hands them to `process`, and
    * advances the checkpoint ONLY after `process` returns — a crash
    * mid-process replays the same increment next call (at-least-once;
    * exactly-once when the processor's sink is idempotent for the
    * replayed window, e.g. a tag-idempotent lake commit or an
    * overwrite keyed on the returned version range). The checkpoint is
    * a DIRECTORY of version-named marker files (`v<version>`): the
    * high-water is the max marker, advancing CREATES a new marker
    * (create is atomic; nothing renames onto or deletes the only copy
    * — a tmp+rename single file would need delete-then-rename on
    * filesystems whose rename refuses existing targets, and a crash
    * between the two erases ALL progress → full re-bootstrap into an
    * append sink = every historic row duplicated), and older markers
    * are pruned best-effort AFTER the new one is durable — a crash
    * leaves extra markers, never fewer, and max() shrugs.
    *
    * A rewrite inside the window (delete/update/merge/compact) makes
    * [[appendsBetween]] throw and the checkpoint does NOT advance:
    * restated rows never silently double-process. The operator then
    * either reconciles via [[diff]] and advances with
    * [[advanceCheckpoint]], or deletes the checkpoint directory to
    * re-bootstrap. A checkpoint AHEAD of the lake (the lake was
    * rebuilt under the same path) refuses loudly instead of silently
    * skipping every new commit forever.
    *
    * Returns (fromVersion, toVersion) of the processed window —
    * equal when there was nothing new (process is NOT called). */
  def consumeAppends(spark: SparkSession, dir: String, checkpoint: String)
                    (process: DataFrame => Unit): (Long, Long) = {
    val (fs, lake) = fsFor(spark, dir)
    val hw = checkpointVersion(spark, checkpoint).getOrElse(0L)
    val latest = state(fs, lake)
    require(latest > 0,
      s"LakeVersions.consumeAppends: no committed version under $dir")
    require(hw <= latest,
      s"LakeVersions.consumeAppends: checkpoint $checkpoint is at v$hw " +
        s"but the lake's latest is v$latest — the lake was rebuilt or " +
        "the checkpoint belongs to another table; delete the checkpoint " +
        "directory to re-bootstrap from the current snapshot")
    if (latest == hw) return (hw, hw)
    val increment =
      if (hw == 0L) read(spark, dir, Some(latest)) // bootstrap snapshot
      else appendsBetween(spark, dir, hw, latest)
    process(increment)
    advanceCheckpoint(spark, checkpoint, latest)
    (hw, latest)
  }

  private val CkMarker = "^v([0-9]+)$".r

  /** The consumed high-water version, None before the first advance.
    * Max over the marker files; non-marker visible names refuse loudly
    * (a truncated copy or foreign file silently ignored could move the
    * consumer backwards). */
  def checkpointVersion(spark: SparkSession, checkpoint: String)
      : Option[Long] = {
    val ck = new HPath(checkpoint)
    // the checkpoint rides its OWN filesystem — a local consumer of a
    // remote lake is the normal shape
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(ck)) return None
    val names = fs.listStatus(ck).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    val bad = names.filterNot(CkMarker.matches(_))
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"LakeVersions.checkpointVersion: $checkpoint holds " +
          s"'${bad.head}', not a v<version> marker — delete the " +
          "checkpoint directory to re-bootstrap from the current snapshot")
    names.collect { case CkMarker(v) => v.toLong }.maxOption
  }

  /** Durably record `version` as consumed (the commit half of
    * [[consumeAppends]]'s two-phase; exposed for operators reconciling
    * a non-append window by hand via [[diff]]). Creates the marker,
    * then prunes older ones best-effort — crash-safe in every
    * interleaving because nothing ever deletes the newest marker. */
  def advanceCheckpoint(spark: SparkSession, checkpoint: String,
                        version: Long): Unit = {
    val ck = new HPath(checkpoint)
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ck)
    val marker = new HPath(ck, s"v$version")
    if (!fs.exists(marker)) fs.create(marker, false).close()
    fs.listStatus(ck).map(_.getPath).foreach { p =>
      p.getName match {
        case CkMarker(v) if v.toLong < version =>
          try fs.delete(p, false): Unit
          catch { case _: java.io.IOException => () }
        case _ => ()
      }
    }
  }

  /** The version ledger: one row per surviving manifest. `n_rows` is
    * -1 when any of the version's files predates stats collection. */
  def versions(spark: SparkSession, dir: String): DataFrame = {
    val (fs, lake) = fsFor(spark, dir)
    val rows = survivingVersions(fs, lake).map { v =>
      val m = readManifest(fs, lake, v)
      val nRows =
        if (m.files.exists(_.rows < 0)) -1L else m.files.map(_.rows).sum
      (v, m.files.size, m.files.map(_.len).sum, nRows, m.tag)
    }
    spark.createDataFrame(rows)
      .toDF("version", "n_files", "bytes", "n_rows", "tag")
  }

  /** Time travel by wall clock: the newest surviving version whose
    * manifest was committed at or before `tsMillis` (manifest mtime =
    * its tmp-file rename instant). One listing — this is an explicit
    * audit ask, not a hot-path discovery. */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val (fs, lake) = fsFor(spark, dir)
    val vp = versionsPath(lake)
    require(fs.exists(vp), s"LakeVersions.versionAt: no table under $dir")
    val hits = fs.listStatus(vp).flatMap { s =>
      s.getPath.getName match {
        case Manifest(v) if s.getModificationTime <= tsMillis => Some(v.toLong)
        case _ => None
      }
    }
    require(hits.nonEmpty,
      s"LakeVersions.versionAt: no version at or before $tsMillis under $dir " +
        "(older than the table, or vacuumed past retention)")
    hits.max
  }

  /** The schema-drift ledger: one row per column change between
    * consecutive SURVIVING version headers — action ∈ add | widen |
    * drop(overwrite) — so a widened append is a reviewed fact, not a
    * silent cast (the lake-side twin of [[PsIO.parquetSchemaDrift]]).
    * Header-only reads: O(surviving versions), no data touched. */
  def schemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val (fs, lake) = fsFor(spark, dir)
    val headers = survivingVersions(fs, lake)
      .map(v => v -> readHeader(fs, lake, v)._1)
    val rows = headers.sliding(2).flatMap {
      case Seq((_, a), (v, b)) =>
        val before = a.fields.map(f => f.name -> f.dataType).toMap
        val added = b.fields.filterNot(f => before.contains(f.name))
          .map(f => (v, f.name, null: String, f.dataType.simpleString, "add"))
        // a same-name type change is a WIDEN only if the append merge
        // path could have produced it — the lattice, or a lossless
        // nested-field addition; an overwrite commit can legally
        // RE-TYPE (it skips the merge gate), and the ledger must not
        // launder that as a lossless transition
        import org.apache.spark.sql.types.{StructField, StructType}
        def appendCouldProduce(from: org.apache.spark.sql.types.DataType,
                               to: org.apache.spark.sql.types.DataType): Boolean =
          try mergeLakeSchemas(
            StructType(Seq(StructField("c", from))),
            StructType(Seq(StructField("c", to)))).fields(0).dataType == to
          catch { case _: Exception => false }
        val changed = b.fields.filter(f => before.get(f.name)
            .exists(t => t != f.dataType))
          .map { f =>
            val from = before(f.name)
            val action =
              if (appendCouldProduce(from, f.dataType)) "widen" else "retype"
            (v, f.name, from.simpleString, f.dataType.simpleString, action)
          }
        val after = b.fieldNames.toSet
        val dropped = a.fields.filterNot(f => after(f.name))
          .map(f => (v, f.name, f.dataType.simpleString, null: String, "drop"))
        added ++ changed ++ dropped
      case _ => Nil
    }.toSeq
    spark.createDataFrame(rows)
      .toDF("version", "column", "from_type", "to_type", "action")
  }

  /** Audit diff between two pinned versions by key — the
    * snapshotDiff delta algebra over time travel. */
  def diff(spark: SparkSession, dir: String, fromV: Long, toV: Long,
           keyCols: Seq[String]): DataFrame = {
    val from = read(spark, dir, Some(fromV))
    val to = read(spark, dir, Some(toV))
    val compareCols = to.columns.filterNot(keyCols.contains).toSeq
    graft.operators.Snapshot.snapshotDiff(from, to, keyCols, compareCols)
  }

  /** The maintenance advisor: WHEN to run [[compactCommit]] /
    * [[zOrderCommit]], answered from the latest manifest alone —
    * O(files) driver arithmetic, no listing, no footer reads. One row
    * per partition (or `(table)` unpartitioned):
    *
    *  - `small_files`: files under targetBytes/2 — two or more means a
    *    compaction would merge them (the small-file tax is per-file
    *    open cost and scheduler pressure at 100×);
    *  - `overlap` on the named stats column: sum of envelope widths ÷
    *    the union range — ≈1.0 for a sorted/clustered layout (disjoint
    *    envelopes), → n_files as every file spans the whole key range.
    *    Rising overlap is exactly the drift that makes [[pruneFiles]]
    *    keep everything, i.e. z-span degradation;
    *  - `recommendation`: compact | zorder(col) | compact+zorder(col)
    *    | ok.
    *
    * Thresholds: compact at `small_files >= 2`; re-cluster at
    * `overlap > 2` with at least 3 files (an overlap of 2 means a
    * point predicate already scans ~2 files where a sorted layout
    * would scan 1). */
  def maintenanceReport(spark: SparkSession, dir: String,
                        targetBytes: Long = 128L << 20): DataFrame = {
    val m = pinned(spark, dir, None)
    def partOf(relpath: String): String = {
      val segs = relpath.split("/").filter(_.contains("="))
      if (segs.isEmpty) "(table)" else segs.mkString("/")
    }
    val rows = m.files.groupBy(e => partOf(e.relpath)).toSeq.map {
      case (part, files) =>
        val bytes = files.map(_.len).sum
        val small = files.count(_.len < targetBytes / 2)
        // worst-clustered indexed column: envelope-width sum over the
        // union range (int/long envelopes; string envelopes are
        // truncated — width is not meaningful there)
        val overlaps = files.flatMap(_.stats.keys).distinct.flatMap { c =>
          val envs = files.flatMap(_.stats.get(c))
          if (envs.size < 2) None
          else {
            // double arithmetic BEFORE the subtraction: sentinel-wide
            // envelopes (Long.MinValue..positive) overflow Long and a
            // negative width would understate the drift
            val widths = envs.map { case (lo, hi) => hi.toDouble - lo.toDouble + 1 }
            val range =
              envs.map(_._2).max.toDouble - envs.map(_._1).min.toDouble + 1
            if (range <= 0) None else Some(c -> widths.sum / range)
          }
        }
        val (worstCol, worstOverlap) =
          if (overlaps.isEmpty) (null: String, 0.0)
          else overlaps.maxBy(_._2)
        val needCompact = small >= 2
        val needZorder = worstOverlap > 2.0 && files.size >= 3
        val rec =
          if (needCompact && needZorder) s"compact+zorder($worstCol)"
          else if (needCompact) "compact"
          else if (needZorder) s"zorder($worstCol)"
          else "ok"
        (part, files.size, bytes, small, worstCol, worstOverlap, rec)
    }
    spark.createDataFrame(rows.sortBy(_._1))
      .toDF("partition", "n_files", "bytes", "small_files",
        "overlap_col", "overlap", "recommendation")
  }

  /** Retention: keep the newest `keepVersions` manifests, drop older
    * ones — but ONLY once they are also older than `olderThanMs`: the
    * streaming promotion's crash-replay test
    * ([[graft.streaming.StreamingOps]] commitEpochSide) reads a
    * vacuumed manifest as "past retention: cannot be a live replay",
    * so a maintenance burst (compact + z-order + vacuum) inside a
    * replay window must not age out a minutes-old epoch manifest or
    * the replayed batch would double-commit. Then delete data files no
    * SURVIVING manifest references, and sweep stale locks/staging
    * older than `olderThanMs` (the margin against a LIVE writer
    * mid-commit — its files are landed but its manifest not yet
    * renamed). Returns the number of files deleted. */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
             olderThanMs: Long = 24L * 3600 * 1000): Int = {
    require(keepVersions >= 1, "LakeVersions.vacuum: keepVersions must be >= 1")
    val (fs, lake) = fsFor(spark, dir)
    val latest = state(fs, lake)
    if (latest == 0) return 0
    writeHead(fs, lake, latest) // repair a lagging/missing pointer
    val cutoff = System.currentTimeMillis() - olderThanMs
    var removed = 0
    val keep = ((latest - keepVersions + 1) max 1L) to latest
    val oldVs = (1L until keep.start).filter(v => fs.exists(manifestPath(lake, v)))
    // superseded manifests still inside the age margin SURVIVE — and
    // their files must stay referenced, or the kept manifest would
    // point at swept data
    val (dropVs, keepOldVs) = oldVs.partition(v =>
      fs.getFileStatus(manifestPath(lake, v)).getModificationTime < cutoff)
    val referenced = (keep.filter(v => fs.exists(manifestPath(lake, v)))
        ++ keepOldVs).flatMap { v =>
      readManifest(fs, lake, v).files.map(_.relpath)
    }.toSet
    dropVs.foreach { v =>
      fs.delete(manifestPath(lake, v), false): Unit; removed += 1
    }
    // a LOCK whose holder died: the commit path breaks these itself,
    // but a lake nobody writes anymore should not keep one forever
    fs.listStatus(versionsPath(lake)).foreach { s =>
      if (s.getPath.getName == "LOCK" && s.getModificationTime < cutoff) {
        fs.delete(s.getPath, false): Unit; removed += 1
      }
    }
    // unreferenced data files older than the margin (a live commit's
    // landed-but-unmanifested files are younger than it) — walked
    // recursively: partitioned lakes nest data under col=value dirs
    // QUALIFY the root before computing relpaths: listStatus returns
    // fully-qualified paths, so a relative `dir` (legal everywhere
    // else — HPath resolves it) would make stripPrefix a no-op, every
    // rel fail the referenced-set lookup, and vacuum delete LIVE data
    val lakeUri = fs.makeQualified(lake).toUri.getPath.stripSuffix("/")
    def sweep(p: HPath): Unit =
      fs.listStatus(p).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && !n.startsWith(".") &&
            (!n.startsWith("_") || n.contains("="))) {
          // `=` marks a hive partition dir, which may legally start
          // with '_' (a `_day` partition column); bare '_'/'.' prefixes
          // stay reserved for Spark/graft internals
          sweep(s.getPath)
          // a partition dir emptied by the sweep is litter too — but
          // only one whose PRE-SWEEP mtime cleared the margin: a young
          // empty dir may be a concurrent commit's freshly-mkdirs'd
          // landing parent, and deleting it between its mkdirs and
          // rename would abort that commit (the stat in `s` predates
          // our own child deletions, so it is the honest age)
          if (s.getModificationTime < cutoff &&
              fs.listStatus(s.getPath).isEmpty) {
            fs.delete(s.getPath, false): Unit
          }
        } else if (s.isFile && n.startsWith("data-") &&
            s.getModificationTime < cutoff) {
          // delete only on a PROVEN relpath: if qualification schemes
          // ever disagree, skipping is litter; deleting is data loss
          relpathUnder(lakeUri, s.getPath).foreach { rel =>
            if (!referenced(rel)) { fs.delete(s.getPath, false): Unit; removed += 1 }
          }
        }
      }
    sweep(lake)
    // abandoned staging dirs
    val stagingRoot = new HPath(lake, "_graft_staging")
    if (fs.exists(stagingRoot)) {
      fs.listStatus(stagingRoot).foreach { s =>
        if (s.getModificationTime < cutoff) {
          fs.delete(s.getPath, true): Unit; removed += 1
        }
      }
    }
    removed
  }
}
