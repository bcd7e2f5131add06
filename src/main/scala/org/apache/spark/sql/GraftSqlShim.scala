package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway the engine needs: wrapping a custom
  * [[LogicalPlan]] node (graft.plans.AsOfJoin) into a user-facing DataFrame.
  * Every other extension point (expressions, optimizer rules, planner
  * strategies) is reachable through the public SparkSessionExtensions /
  * ExperimentalMethods APIs; plan-construction is not, so this shim lives in
  * the org.apache.spark.sql package — the standard pattern for Spark-native
  * libraries that add operators.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-wrap a BATCH DataFrame as a streaming one — the v1
    * `execution.streaming.Source.getBatch` contract (MicroBatchExecution
    * asserts `isStreaming` on what a source returns). This is exactly how
    * the public Delta streaming source serves each micro-batch: plan the
    * batch read (vectorized parquet scan, pruning and pushdown intact),
    * then hand its compiled RDD over under a streaming-flagged relation.
    */
  def asStreamingDF(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse of [[asStreamingDF]]: re-wrap a v1 `Sink.addBatch`
    * DataFrame (whose plan still carries streaming sources) as a plain
    * BATCH DataFrame over the already-planned RDD — what Spark's own
    * ForeachBatchSink does before handing the batch to user code. Without
    * this, any action on the batch throws "streaming sources must be
    * executed with writeStream.start()".
    */
  def asBatchDF(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Column → catalyst Expression (Spark 4 hides `.expr` behind ColumnNode).
    * Converted EAGERLY: `ExpressionUtils.expression` returns a lazy
    * `ColumnNodeExpression` that only the analyzer's own column-resolution
    * pass unwraps — and that pass does not descend into third-party
    * LogicalPlan nodes, so a composite column (e.g. a cast) would reach the
    * physical operator still wrapped, reporting NullType.
    */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The inverse: catalyst Expression → Column (Spark 4 hides the classic
    * constructor behind ColumnNode too).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Blocks until the listener bus has delivered every queued event, so a
    * listener's totals cover every job that already ran. The bus is
    * private to Spark's own packages.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
