package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * native Catalyst expressions (e.g. [[graft.plans.DotProduct]]) can be
  * exposed as Columns. Standard extension-library pattern: this file lives
  * in the org.apache.spark.sql package tree solely for access. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Resolve a predicate against `df` and translate every conjunct to
    * the data-source [[org.apache.spark.sql.sources.Filter]] algebra
    * (Spark's own pushdown translator). Conjuncts outside the algebra
    * are dropped — callers decide whether a partial translation is
    * acceptable for their (always conservative) pruning use. */
  def translateToSourceFilters(df: org.apache.spark.sql.DataFrame,
      predicate: Column): Seq[org.apache.spark.sql.sources.Filter] = {
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        split(l) ++ split(r)
      case other => Seq(other)
    }
    val analyzed = df.where(predicate).queryExecution.analyzed
    analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.flatMap(split)
      .flatMap(e => org.apache.spark.sql.execution.datasources
        .DataSourceStrategy.translateFilter(e,
          supportNestedPredicatePushdown = true))
  }

  /** Connector-API literal ([[org.apache.spark.sql.connector.expressions
    * .LiteralValue]] is `private[sql]`): catalyst-typed value + DataType,
    * exactly what Spark's own V2ExpressionBuilder hands a
    * SupportsRuntimeV2Filtering scan — specs build runtime predicates
    * with it. */
  def connectorLiteral(value: Any, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Expression =
    org.apache.spark.sql.connector.expressions.LiteralValue(value, dt)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a frame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Release the block-manager storage of a `localCheckpoint()`ed frame.
    * Iterative operators (e.g. connected components) supersede a
    * checkpoint every round; without this the superseded blocks linger
    * until the RDD is GC'd — a storage leak over long loops. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Register a function builder into an existing session's registry
    * (SessionState is private[sql]). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Register a TABLE function (usable in FROM clauses, like `range`)
    * into an existing session's table-function registry (SessionState
    * is private[sql]). The extensions path (`injectTableFunction`) is
    * the cluster-deploy equivalent at session build. */
  def registerTableFunction(spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Stable per-session identity (sessionUUID is private[sql]) — keys
    * session-scoped registries like the MV rewrite's. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** The session's effective auto-broadcast threshold in bytes
    * (SQLConf is private[sql]) — lets the MoR reconciler decide
    * broadcast-vs-shuffle for its delete anti-join by the same knob
    * Spark's own planner uses. */
  def autoBroadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** Materialize the optimizer rules an extensions object would inject at
    * session build (buildOptimizerRules is private[sql]) — lets specs
    * assert the injection without constructing a whole new session. */
  def builtOptimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Seq[
      org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** The row schema Spark's parquet schema inference reads off one
    * footer: the Spark schema the writer embedded, else the parquet
    * schema converted under the session's conf; every field nullable,
    * as inference hands it to a relation. */
  def footerSchema(spark: org.apache.spark.sql.SparkSession, file: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(
        new org.apache.hadoop.fs.Path(file), footer),
      new ParquetToSparkSchemaConverter(spark.asInstanceOf[
        org.apache.spark.sql.classic.SparkSession].sessionState.conf))
      .asNullable
  }

  /** `mergeSchema` over file schemas in order, by Spark's own rules
    * (`StructType.merge` and `asNullable` are private): first-seen
    * field order, the session's case sensitivity, a loud error on
    * incompatible types, every field nullable. */
  def mergeSchemas(spark: org.apache.spark.sql.SparkSession,
      schemas: Seq[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType = {
    val caseSensitive = spark.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession].sessionState.conf
      .caseSensitiveAnalysis
    schemas.reduceLeft(_.merge(_, caseSensitive)).asNullable
  }
}
