package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType

/** Bridge to the parquet-private pieces of Spark's parquet schema
  * inference, for [[graft.sources.GraftParquetFormat]]; it lives in
  * Spark's parquet package namespace solely to reach the footer reader.
  * Spark's own inference (`ParquetUtils.inferSchema`) picks the footers
  * to read, then reads and merges them inside a Spark job
  * (`SchemaMergeUtils`), so every `spark.read.parquet` starts one job
  * while the query is only being composed. [[footerSchema]] makes the
  * same choices and reads the same footers on the driver instead: the
  * schema is metadata, not data. */
object GraftParquetBridge {

  /** The data schema Spark infers for a parquet read of `files`:
    *  - the same files, in the same order: paths sorted as strings;
    *    without mergeSchema the first `_common_metadata`, else the first
    *    `_metadata`, else the first data file; with mergeSchema every
    *    data file (unless summaries are respected) then the summaries;
    *  - each footer converted under the session conf exactly as the
    *    inference job's converter does, Spark's serialized row schema
    *    preferred when the footer carries one;
    *  - merged left to right with the session's case sensitivity, and
    *    Spark's own error on an incompatible merge.
    * None when there is no file to read, as Spark returns. Footers are
    * read on up to 8 driver threads. */
  def footerSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    val summaries = Set(
      ParquetFileWriter.PARQUET_METADATA_FILE, ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val leaves = files.sortBy(_.getPath.toString)
    def named(n: String) = leaves.filter(_.getPath.getName == n)
    val data = leaves.filterNot(f => summaries(f.getPath.getName))
    val metadata = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val toTouch =
      if (new ParquetOptions(options, conf).mergeSchema) {
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      } else {
        common.headOption.orElse(metadata.headOption).orElse(data.headOption).toSeq
      }
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val ignoreCorruptFiles =
      new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles
    val caseSensitive = conf.caseSensitiveAnalysis
    ParquetFileFormat
      .readParquetFootersInParallel(
        session.sessionState.newHadoopConfWithOptions(options), toTouch, ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduceLeftOption { (merged, next) =>
        try merged.merge(next, caseSensitive)
        catch {
          case e: SparkException =>
            throw QueryExecutionErrors.failedMergingSchemaError(merged, next, e)
        }
      }
  }
}
