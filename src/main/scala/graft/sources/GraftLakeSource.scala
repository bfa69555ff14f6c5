package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{GraftColumnBridge, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL/DataFrame face for [[LakeVersions]] tables: a file-source
  * relation whose FILE INDEX is the pinned manifest, so
  *
  *  - `spark.read.format("graftlake").load(dir)` and
  *    `CREATE TEMPORARY VIEW t USING graftlake OPTIONS (path '...')`
  *    read a versioned lake with full parquet machinery (vectorized
  *    decode, footer PushedFilters, whole-stage codegen);
  *  - ANY user predicate on a stats-indexed int/long/string column
  *    prunes whole files from the manifest's footer envelopes at
  *    PLANNING — the scan's listFiles derives the bounds from the
  *    pushed-down filters itself (the Iceberg/Delta data-skipping
  *    shape, reduced to the manifest we already have);
  *  - partition columns surface from the manifest's
  *    partition-qualified relpaths with NO directory listing, and
  *    partition predicates prune at planning;
  *  - `versionAsOf` / `timestampAsOf` options give SQL users time
  *    travel over surviving manifests.
  *
  * The same index serves every [[LakeVersions]] read (`read`,
  * `readPruned`, time travel, `appendsBetween`, the row-level ops and
  * the maintenance rewrites): a manifest becomes a scan in exactly one
  * way. Scale shape: planning cost is O(manifest files) driver
  * arithmetic — no fs listing, no footer reads (envelopes were recorded
  * at commit); pruned files are never opened. The reference has no
  * table format at all (io.py reads loose files); this is §2.11
  * extension surface. */
final class GraftLakeSource extends RelationProvider with DataSourceRegister {
  // no dash: `USING graftlake` must parse as a bare SQL identifier
  override def shortName(): String = "graftlake"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graftlake: no path given"))
    val spark = sqlContext.sparkSession
    val asOfV = parameters.get("versionAsOf").map(_.toLong)
    val asOfTs = parameters.get("timestampAsOf").map { ts =>
      val ms =
        try ts.toLong
        catch { case _: NumberFormatException =>
          java.time.Instant.parse(ts).toEpochMilli
        }
      LakeVersions.versionAt(spark, dir, ms)
    }
    require(asOfV.isEmpty || asOfTs.isEmpty,
      "graftlake: give versionAsOf OR timestampAsOf, not both")
    val version = asOfV.orElse(asOfTs)
    GraftLakeSource.relation(spark, new GraftLakeFileIndex(spark, new HPath(dir),
      LakeVersions.resolvedState(spark, dir, version),
      followLatest = version.isEmpty))
  }
}

object GraftLakeSource {
  /** The parquet relation over one manifest index. Partition columns
    * come after the data columns, as in every file source. */
  private[sources] def relation(spark: SparkSession,
                                index: GraftLakeFileIndex): HadoopFsRelation =
    HadoopFsRelation(index, index.partitionSchema, index.dataSchema,
      bucketSpec = None, new ParquetFileFormat, options = Map.empty)(spark)
}

/** A [[FileIndex]] served from one resolved manifest state `pinned`
  * (schema authoritative — see [[LakeVersions.resolvedState]]), whose
  * `files` may be any subset of the version's files. `listFiles` is
  * where the leverage lives: Spark's file-source planning hands it the
  * pushed partition AND data predicates, and both feed
  * [[LakeVersions.pruneFiles]]'s proof rule (drop a file only when its
  * partition value or recorded footer envelope excludes the range;
  * missing evidence keeps the file).
  *
  * Two indexes are equal when they name the same files under the same
  * root — as `InMemoryFileIndex` compares by its paths — so a cached
  * frame is reused by a later read of the same files.
  *
  * Version semantics: a pinned index is immutable. A `followLatest`
  * index (an un-pinned SQL face) re-resolves latest on `refresh()`
  * (`REFRESH TABLE view`), so a long-lived temp view can follow a lake
  * that streaming promotion keeps advancing; the relation's SCHEMA and
  * partition layout stay fixed at creation (a Spark relation's schema
  * is immutable by contract) — recreate the view to pick up widened
  * columns. */
private[sources] final class GraftLakeFileIndex(
    spark: SparkSession, lake: HPath, pinned: LakeVersions.ManifestState,
    followLatest: Boolean) extends FileIndex {

  @volatile private var m: LakeVersions.ManifestState = pinned

  private val fs = lake.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val lakeRoot: HPath = fs.makeQualified(lake)
  // scheme-less root: qualifying a child of it keeps the filesystem's
  // own URI form (`file:///...`), which `spark.read` also reports
  private val rootDir = new HPath(lakeRoot.toUri.getPath)
  private def pathOf(e: LakeVersions.FileEntry): HPath =
    fs.makeQualified(new HPath(rootDir, e.relpath))

  /** The manifest schema, nullable at every depth: a file-source read
    * yields nullable columns whatever the committing frame declared. */
  val schema: StructType = GraftColumnBridge.nullableSchema(m.schema)

  override val partitionSchema: StructType =
    StructType(m.partitionBy.map { c =>
      schema.find(_.name == c).getOrElse(throw new IllegalStateException(
        s"graftlake: partition column $c missing from the manifest schema"))
    })

  val dataSchema: StructType =
    StructType(schema.filterNot(f => m.partitionBy.contains(f.name)))

  override def rootPaths: Seq[HPath] = Seq(lakeRoot)
  override def sizeInBytes: Long = m.files.map(_.len).sum
  override def inputFiles: Array[String] =
    m.files.map(e => pathOf(e).toUri.toString).toArray
  override def refresh(): Unit =
    if (followLatest) m = LakeVersions.resolvedState(spark, lakeRoot.toString, None)

  private def relpaths: Seq[String] = m.files.map(_.relpath)
  override def equals(other: Any): Boolean = other match {
    case o: GraftLakeFileIndex => o.lakeRoot == lakeRoot && o.relpaths == relpaths
    case _                     => false
  }
  override def hashCode: Int = (lakeRoot, relpaths).##

  /** Columns whose predicates can become prune bounds: int/long in the
    * table schema (the only envelope type the manifest records —
    * matching [[LakeVersions.commit]]'s statsCols contract). */
  private val intLikeCols: Map[String, DataType] =
    m.schema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType =>
        f.name -> f.dataType
    }.toMap

  private def litLong(v: Any): Option[Long] = v match {
    case i: Int   => Some(i.toLong)
    case l: Long  => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _        => None
  }

  private val strCols: Set[String] =
    m.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSet

  private def litStr(v: Any): Option[String] = v match {
    case u: UTF8String => Some(u.toString)
    case s: String     => Some(s)
    case _             => None
  }

  /** Half-open inclusive string ranges provable from one predicate
    * tree (None = unbounded side); strict </> conservatively use the
    * inclusive value — a file whose envelope touches the bound exactly
    * is kept, never wrongly dropped. Comparisons downstream happen in
    * UTF-8 byte space ([[LakeVersions.compareUtf8]]). */
  private def strBoundsOf(e: Expression)
      : Map[String, (Option[String], Option[String])] = {
    def ok(a: AttributeReference) = strCols.contains(a.name)
    def eq(a: AttributeReference, v: Any) =
      litStr(v).map(x => Map(a.name -> (Option(x), Option(x))))
        .getOrElse(Map.empty[String, (Option[String], Option[String])])
    def ge(a: AttributeReference, v: Any) =
      litStr(v).map(x => Map(a.name ->
        (Option(x), Option.empty[String]))).getOrElse(Map.empty)
    def le(a: AttributeReference, v: Any) =
      litStr(v).map(x => Map(a.name ->
        (Option.empty[String], Option(x)))).getOrElse(Map.empty)
    e match {
      case And(l, r) => mergeStrBounds(strBoundsOf(l), strBoundsOf(r))
      case EqualTo(a: AttributeReference, Literal(v, _)) if ok(a) => eq(a, v)
      case EqualTo(Literal(v, _), a: AttributeReference) if ok(a) => eq(a, v)
      case GreaterThan(a: AttributeReference, Literal(v, _)) if ok(a) => ge(a, v)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if ok(a) => ge(a, v)
      case LessThan(a: AttributeReference, Literal(v, _)) if ok(a) => le(a, v)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if ok(a) => le(a, v)
      case GreaterThan(Literal(v, _), a: AttributeReference) if ok(a) => le(a, v)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) if ok(a) => le(a, v)
      case LessThan(Literal(v, _), a: AttributeReference) if ok(a) => ge(a, v)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) if ok(a) => ge(a, v)
      case In(a: AttributeReference, vs) if ok(a) && vs.nonEmpty &&
          vs.forall { case Literal(v, _) => litStr(v).isDefined; case _ => false } =>
        val xs = vs.map { case Literal(v, _) => litStr(v).get }
          .sortWith((x, y) => LakeVersions.compareUtf8(
            x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0)
        Map(a.name -> (Some(xs.head), Some(xs.last)))
      case _ => Map.empty
    }
  }

  private def mergeStrBounds(
      a: Map[String, (Option[String], Option[String])],
      b: Map[String, (Option[String], Option[String])])
      : Map[String, (Option[String], Option[String])] = {
    def cmp(x: String, y: String) =
      LakeVersions.compareUtf8(x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    def maxLo(x: Option[String], y: Option[String]) = (x, y) match {
      case (Some(p), Some(q)) => Some(if (cmp(p, q) >= 0) p else q)
      case _                  => x.orElse(y)
    }
    def minHi(x: Option[String], y: Option[String]) = (x, y) match {
      case (Some(p), Some(q)) => Some(if (cmp(p, q) <= 0) p else q)
      case _                  => x.orElse(y)
    }
    (a.keySet ++ b.keySet).iterator.map { c =>
      val (l1, h1) = a.getOrElse(c, (None, None))
      val (l2, h2) = b.getOrElse(c, (None, None))
      c -> (maxLo(l1, l2), minHi(h1, h2))
    }.toMap
  }

  /** Conjunctive inclusive bounds provable from one predicate tree.
    * Anything not understood contributes NO bound (conservative —
    * never prunes on unprovable evidence); an impossible conjunction
    * surfaces naturally as lo > hi and plans zero files. */
  private def boundsOf(e: Expression): Map[String, (Long, Long)] = {
    def one(c: String, lo: Long, hi: Long) = Map(c -> (lo, hi))
    def ok(a: AttributeReference) = intLikeCols.contains(a.name)
    e match {
      case And(l, r) => mergeBounds(boundsOf(l), boundsOf(r))
      case EqualTo(a: AttributeReference, Literal(v, _)) if ok(a) =>
        litLong(v).map(x => one(a.name, x, x)).getOrElse(Map.empty)
      case EqualTo(Literal(v, _), a: AttributeReference) if ok(a) =>
        litLong(v).map(x => one(a.name, x, x)).getOrElse(Map.empty)
      case GreaterThan(a: AttributeReference, Literal(v, _)) if ok(a) =>
        litLong(v).map(x => if (x == Long.MaxValue) one(a.name, 1L, 0L)
          else one(a.name, x + 1, Long.MaxValue)).getOrElse(Map.empty)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if ok(a) =>
        litLong(v).map(x => one(a.name, x, Long.MaxValue)).getOrElse(Map.empty)
      case LessThan(a: AttributeReference, Literal(v, _)) if ok(a) =>
        litLong(v).map(x => if (x == Long.MinValue) one(a.name, 1L, 0L)
          else one(a.name, Long.MinValue, x - 1)).getOrElse(Map.empty)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if ok(a) =>
        litLong(v).map(x => one(a.name, Long.MinValue, x)).getOrElse(Map.empty)
      // literal-first comparisons flip
      case GreaterThan(Literal(v, _), a: AttributeReference) if ok(a) =>
        boundsOf(LessThan(a, Literal.create(v, a.dataType)))
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) if ok(a) =>
        boundsOf(LessThanOrEqual(a, Literal.create(v, a.dataType)))
      case LessThan(Literal(v, _), a: AttributeReference) if ok(a) =>
        boundsOf(GreaterThan(a, Literal.create(v, a.dataType)))
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) if ok(a) =>
        boundsOf(GreaterThanOrEqual(a, Literal.create(v, a.dataType)))
      case In(a: AttributeReference, vs) if ok(a) && vs.nonEmpty &&
          vs.forall { case Literal(v, _) => litLong(v).isDefined; case _ => false } =>
        val xs = vs.map { case Literal(v, _) => litLong(v).get }
        one(a.name, xs.min, xs.max)
      case _ => Map.empty
    }
  }

  private def mergeBounds(a: Map[String, (Long, Long)],
                          b: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    (a.keySet ++ b.keySet).iterator.map { c =>
      (a.get(c), b.get(c)) match {
        case (Some((l1, h1)), Some((l2, h2))) => c -> (l1 max l2, h1 min h2)
        case (Some(x), None) => c -> x
        case (None, Some(y)) => c -> y
        case _ => throw new IllegalStateException("unreachable")
      }
    }.toMap

  private val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))

  /** Typed partition values for one file, parsed from its
    * partition-qualified relpath (the manifest IS the partition
    * index) through Spark's own partition-value conversion, so every
    * type a partitioned `spark.read` types reads here too. */
  private def partitionValuesOf(relpath: String): Seq[Any] = {
    val segs = relpath.split("/").iterator.filter(_.contains("="))
      .map { s => val i = s.indexOf('='); (s.substring(0, i), s.substring(i + 1)) }
      .toMap
    partitionSchema.fields.toSeq.map { f =>
      GraftColumnBridge.partitionValue(f.dataType,
        segs.getOrElse(f.name, throw new IllegalStateException(
          s"graftlake: $relpath has no ${f.name}= segment")), zone)
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cur = m // one state per planning pass, even across a refresh()
    // every pushed conjunct — partition or data — can contribute prune
    // bounds: pruneFiles checks BOTH the relpath's partition value and
    // the recorded footer envelope
    val bounds = (partitionFilters ++ dataFilters)
      .map(boundsOf).foldLeft(Map.empty[String, (Long, Long)])(mergeBounds)
    val strBounds = (partitionFilters ++ dataFilters).map(strBoundsOf)
      .foldLeft(Map.empty[String, (Option[String], Option[String])])(mergeStrBounds)
    def strContradiction = strBounds.exists {
      case (_, (Some(lo), Some(hi))) => LakeVersions.compareUtf8(
        lo.getBytes("UTF-8"), hi.getBytes("UTF-8")) > 0
      case _ => false
    }
    val survivors: Seq[LakeVersions.FileEntry] =
      if (bounds.exists { case (_, (lo, hi)) => lo > hi } || strContradiction) Nil
      else {
        val bs = bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
        val ss = strBounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
        if (bs.isEmpty && ss.isEmpty) cur.files
        else LakeVersions.pruneFilesOpt(cur, bs, ss)
      }
    val grouped: Seq[(Seq[Any], Seq[LakeVersions.FileEntry])] =
      if (partitionSchema.isEmpty) Seq(Seq.empty[Any] -> survivors)
      else survivors.groupBy(e => partitionValuesOf(e.relpath)).toSeq
    // evaluate residual partition predicates on the typed values (the
    // bounds pass above already proved int/long ranges; this covers
    // string/equality/null shapes the bounds pass cannot express)
    val kept =
      if (partitionFilters.isEmpty) grouped
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        grouped.filter { case (vals, _) =>
          bound.eval(InternalRow.fromSeq(vals))
        }
      }
    kept.map { case (vals, files) =>
      PartitionDirectory(InternalRow.fromSeq(vals),
        files.map(e => new FileStatus(e.len, false, 1, 128L << 20, 0L,
          pathOf(e))).toArray)
    }
  }
}
