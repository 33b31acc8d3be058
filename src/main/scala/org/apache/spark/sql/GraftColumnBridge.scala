package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard pattern for libraries that ship custom Catalyst expressions
  * (Spark's own `functions` object does exactly this internally) — and
  * into the few other `private[sql]`/`private[spark]` pieces graft uses:
  * session confs, `Dataset.ofRows` and the listener bus.
  */
object GraftColumnBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** True iff the session's CacheManager holds no cached plans — the
    * cache-hygiene probe for specs asserting operators release their
    * persisted stages (lineage-truncating localCheckpoint blocks are
    * RDD-level and owned by the returned DataFrame, so they do not
    * count here).
    */
  def noCachedPlans(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Register a function on an existing session (the extension hook only
    * reaches sessions built after it is configured).
    */
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** The session's SQL conf and a Hadoop conf carrying its overrides —
    * the pair `DataSource` hands a file format's schema inference.
    */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Every field nullable, as `DataSource` stores an inferred schema. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The errors `DataSource` raises for a missing path and for a path
    * with no file to infer a Parquet schema from.
    */
  def pathNotFound(path: String): Throwable =
    QueryCompilationErrors.dataPathNotExistError(path)

  def noParquetSchema(): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")

  /** A DataFrame over rows already held on the driver in Catalyst form,
    * as `createDataFrame(java.util.List[Row], schema)` builds one but
    * without its conversion: a `LocalRelation`, which executes as a
    * `LocalTableScanExec` split over `defaultParallelism` tasks.
    */
  def localRelation(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Blocks until every posted listener event has been delivered:
    * listener callbacks run on the bus thread, so counts read straight
    * after an action may still be missing its last events.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
