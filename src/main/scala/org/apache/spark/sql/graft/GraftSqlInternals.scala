package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge into `private[sql]` Dataset construction — the
  * standard pattern every Spark-extension library uses to turn a
  * hand-built [[LogicalPlan]] back into a user-facing DataFrame
  * (compare Delta/Iceberg/Sedona, which all keep such a shim under
  * `org.apache.spark.sql`). Kept to the one call graft needs.
  */
object GraftSqlInternals {

  /** Wrap a resolved logical plan as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan beneath a DataFrame (resolved
    * attributes, ready to be re-parented under a custom node).
    */
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Idempotently add a planner strategy to this session (the
    * public per-session injection point; cluster deployments use
    * `spark.sql.extensions=graft.GraftExtensions` instead).
    */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Canonicalize -0.0/NaN bit patterns in an expression (no-op on
    * non-floating types). Spark's NormalizeFloatingNumbers rule does
    * this for Aggregate/Window/Join keys but never sees custom nodes,
    * so graft's TopKPerGroup applies it to its own group keys — under
    * bytewise UnsafeRow grouping, un-normalized -0.0 vs 0.0 would
    * form distinct groups and even hash to different partitions.
    */
  def normalizeFloatingNumbers(
      e: org.apache.spark.sql.catalyst.expressions.Expression):
      org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The session's name-equality rule (honors spark.sql.caseSensitive). */
  def resolver(spark: SparkSession): org.apache.spark.sql.catalyst.analysis.Resolver =
    spark.asInstanceOf[classic.SparkSession].sessionState.analyzer.resolver

  /** `a` merged with `b` as Spark's parquet schema inference merges two
    * footers' schemas (`StructType.merge` is `private[sql]`).
    */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)

  /** The relation `spark.read.options(options).schema(schema)
    * .parquet(paths: _*)` analyzes to, resolved without building that
    * frame. One path is passed as the `path` option, as Spark's
    * `ResolveDataSource` rule passes it.
    */
  def parquetRelation(spark: SparkSession, paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      options: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val (ps, opts) =
      if (!spark.sessionState.conf.legacyPathOptionBehavior && paths.size == 1)
        (Nil, options + ("path" -> paths.head))
      else (paths, options)
    org.apache.spark.sql.execution.datasources.DataSource(spark, "parquet", ps,
      Some(schema), options = opts).resolveRelation(readOnly = true)
  }

  /** The frame Spark's read of `relation`'s paths gives when its schema
    * inference finds `schema`, built over `relation`'s already listed
    * file index, so the paths are not listed again. As in
    * `DataSource.resolveRelation`, the data schema is made nullable
    * except over a file sink's log, and is checked the same way, so a
    * schema Spark would refuse throws here too.
    */
  def withDataSchema(spark: SparkSession,
      relation: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dataSchema = relation.location match {
      case _: org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex => schema
      case _ => schema.asNullable
    }
    val r = relation.copy(dataSchema = dataSchema)(relation.sparkSession)
    org.apache.spark.sql.util.SchemaUtils.checkSchemaColumnNameDuplication(
      r.dataSchema, spark.sessionState.conf.resolver)
    org.apache.spark.sql.execution.datasources.DataSourceUtils.verifySchema(
      r.fileFormat, r.dataSchema, readOnly = true)
    spark.baseRelationToDataFrame(r)
  }
}
