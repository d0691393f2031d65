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

  /** The schema `spark.read.parquet(path).schema` infers for ONE parquet
    * file, read on the driver without the one-task inference job: Spark's
    * own derivation (the row metadata Spark writes into the footer, else
    * the session's parquet converter), made all-nullable as a file scan
    * reads it. `asNullable` is `private[spark]`.
    */
  def parquetFileSchema(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), classic.sessionState.newHadoopConf()))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(classic.sessionState.conf).convert(meta.getSchema))
      .asNullable
  }

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
