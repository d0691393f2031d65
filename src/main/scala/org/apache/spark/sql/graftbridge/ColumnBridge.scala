package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved the Column↔Expression bridge behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Extension libraries
  * that ship native Catalyst expressions need exactly these two hops, so we
  * expose them from inside the sql package namespace — the standard pattern
  * for Spark connector/extension projects.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` went `private[sql]` the same move — the SQL DML
    * commands ([[graft.plans.GraftMergeCommand]]) execute a resolved
    * source plan through it.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A fresh session that COPIES `spark`'s state as of now — runtime SQL
    * conf included, which `newSession()` drops (it starts from the
    * builder-time confs). `cloneSession()` is `private[sql]`. The engine
    * writes its internal data files through a per-write clone so a
    * write-only conf never touches the caller's session.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Re-wrap a streaming micro-batch frame as a BATCH frame (the isStreaming
    * flag forbids `df.write`): the standard V1-sink move — the batch's
    * executed plan becomes a plain RDD-backed frame. `private[sql]`
    * (`internalCreateDataFrame`), hence bridged here.
    */
  def streamingBatchAsBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
