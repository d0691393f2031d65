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

  /** `df` pinned on the driver: a frame over a `LocalRelation` of the
    * internal rows one bounded collect returned, with those rows; None
    * when `df` holds more than `cap` rows. The collect is ONE job under an
    * execution id, like any action: each partition returns at most
    * `cap + 1` rows, and the driver keeps them, in partition order, only
    * while their total is at most `cap`. (A `limit(cap + 1)` collect scans
    * the first partition in one job and the rest in a second.) A plan that
    * is already local runs no job. The rows never pass through external
    * `Row`s, so every value (a pre-1582 timestamp, a NaN, a decimal's
    * scale) stays bit-exact. Every later action reads the same rows, so a
    * non-deterministic `df` is evaluated once.
    */
  def pinned(df: org.apache.spark.sql.DataFrame, cap: Int)
      : Option[(org.apache.spark.sql.DataFrame,
        IndexedSeq[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val qe = df.queryExecution
    val n = cap + 1
    val rows = org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      qe, Some("pin"))(qe.executedPlan match {
      case local: org.apache.spark.sql.execution.LocalTableScanExec =>
        Some(local.executeTake(n).toIndexedSeq).filter(_.length <= cap)
      case plan =>
        val rdd = plan.execute()
        val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
        var taken = 0L
        if (parts.nonEmpty) df.sparkSession.sparkContext.runJob(rdd,
          (it: Iterator[InternalRow]) => it.take(n).map(_.copy()).toArray,
          (i: Int, part: Array[InternalRow]) => {
            taken += part.length
            if (taken <= cap) parts(i) = part
          })
        if (taken > cap) None else Some(parts.iterator.flatten.toIndexedSeq)
    })
    rows.map(rs => (ofRows(df.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema),
        rs)), rs))
  }

  /** The rows of `df` when its optimized plan is a `LocalRelation` (a
    * pinned frame, or a projection of one), read without executing
    * anything; None for any other plan.
    */
  def localRows(df: org.apache.spark.sql.DataFrame)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !l.isStreaming => Some(l.data)
      case _ => None
    }

  /** A fresh session that COPIES `spark`'s state as of now — runtime SQL
    * conf and registered query-execution listeners included; `newSession()`
    * drops both (it starts from the builder-time confs).
    * `cloneSession()` is `private[sql]`. The engine writes its internal
    * data files through a clone, so a write-only conf never touches the
    * caller's session. It keeps ONE clone per caller session and reuses it
    * while the caller's runtime conf and listeners are unchanged; a change
    * to either makes the clone stale (it copied the old state), and the
    * next write clones afresh. A clone per write would be correct but
    * slow: each clone has its own session UUID and artifact classloader,
    * and generated code cached under one classloader is compiled again
    * under the next.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The query-execution listeners registered on `spark`, which a clone
    * copies. `listListeners()` is `private[spark]`.
    */
  def executionListeners(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.util.QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  /** The schema `spark.read.parquet(path).schema` infers for ONE parquet
    * file, read on the driver without the one-task inference job: Spark's
    * own derivation (the row metadata Spark writes into the footer, else
    * the session's parquet converter, under the session's conf as it is
    * now), made all-nullable as a file scan reads it. Only the footer's
    * file metadata is decoded: the row-group metadata is skipped, so the
    * cost does not grow with the file's row groups and columns' stats.
    * `asNullable` is `private[spark]`.
    */
  def parquetFileSchema(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val meta = org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
      .readFooter(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), classic.sessionState.newHadoopConf()),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .getFileMetaData
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
