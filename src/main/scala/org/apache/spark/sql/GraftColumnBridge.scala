package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge to the sql-private Expression ↔ Column conversion (Spark 4
  * removed the public `Column(expr)` constructor; the classic converter is
  * `private[sql]`). Lives in the org.apache.spark.sql package namespace
  * solely to re-export those two calls for graft's custom expressions. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Bridge to the sql-private StructType.merge — the EXACT merge a
    * mergeSchema parquet read performs. [[graft.sources.LakeVersions]]
    * runs it at APPEND-commit time so an incompatible append (int vs
    * string re-type) fails at the write with the offending column
    * named, instead of poisoning every later read of the table. */
  def mergeSchemas(a: types.StructType, b: types.StructType): types.StructType =
    a.merge(b)

  /** Bridge to the spark-private StructType.asNullable: a manifest
    * header may record non-nullable fields (the committing frame's
    * shape), but a file-source read always yields nullable columns —
    * reads must declare the schema they can honor. */
  def nullableSchema(s: types.StructType): types.StructType = s.asNullable

  /** Bridge to the sql-private partition-value conversion every file
    * source applies to a hive path fragment (`col=raw`): unescaping,
    * the default-partition null, and the date, timestamp and decimal
    * parsers under the session zone — so the graftlake index types a
    * partition value exactly as a partitioned `spark.read` does. */
  def partitionValue(t: types.DataType, raw: String, zone: java.time.ZoneId): Any =
    execution.datasources.PartitioningUtils.castPartValueToDesiredType(t, raw, zone)
}

/** Bridge to the sql-private LogicalPlan ↔ DataFrame conversions, for
  * graft's custom logical operators ([[graft.plans.AsOfJoinPlan]]).
  * `Dataset.ofRows` and `queryExecution` are `private[sql]` /
  * classic-only in Spark 4, so the graft.plans package routes through
  * here — the same shim pattern public Spark extension libraries use. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Idempotently register a planner strategy on an already-built session
    * (deployment convenience for sessions constructed without
    * `spark.sql.extensions=graft.plans.GraftExtensions`). */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Drop a locally checkpointed RDD's blocks now, once its caller is
    * done with it. `RDD.unpersist` does the same but logs a warning per
    * call that the lineage cannot be recomputed — noise for a loop that
    * frees one checkpoint per round. Spark-private; bridged here. */
  def freeCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
}
