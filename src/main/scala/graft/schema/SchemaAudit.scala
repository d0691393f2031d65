package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-evolution operators (SURVEY §2.13 E1-E3, §2.4 A3).
  *
  * The reference audits observed string lengths against the Exasol catalog
  * (`check_column_length`, `utils.py:496-538`) and widens VARCHAR/DECIMAL
  * columns via ALTER (`alter_column_length`, `utils.py:541-557`); a separate
  * helper reports schema drift to Slack (`dlt_utils.py:8-40`).
  *
  * Spark-first: observed lengths are ONE aggregate over all columns in a
  * single scan (partial max per partition — no shuffle beyond the final
  * 1-row reduce), vs the reference's per-column pandas passes. The "catalog"
  * is any declared-lengths table; widening emits ALTER statements for
  * catalogs that support them and otherwise stays a metadata decision
  * (parquet does not enforce lengths — SURVEY §7.3).
  */
object SchemaAudit {

  /** A3 — max(length(cast(c as string))) for every requested column in one
    * pass. Returns (column → observed max length); null column → 0.
    */
  def maxColumnLengths(df: DataFrame, columns: Seq[String] = Nil): Map[String, Long] = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    if (cols.isEmpty) return Map.empty
    val aggs = cols.map(c => coalesce(max(length(col(s"`$c`").cast("string"))), lit(0L)).alias(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) => c -> row.getAs[Number](i).longValue() }.toMap
  }

  /** A3 as a relational operator: one row per column, joinable against a
    * declared-lengths catalog (`utils.py:523`'s join).
    */
  def observedLengths(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    maxColumnLengths(df, columns).toSeq.toDF("column_name", "new_max_size")
  }

  final case class Widen(column: String, columnType: String, newLength: Long,
      scale: Option[Long] = None) {
    def alterSql(table: String): String = {
      val tpe = scale match {
        case Some(s) => s"$columnType($newLength,$s)"
        case None    => s"$columnType($newLength)"
      }
      s"""ALTER TABLE $table ALTER COLUMN $column TYPE $tpe"""
    }
  }

  /** E1 — compare observed vs declared, emit widen actions for VARCHAR and
    * DECIMAL columns whose observed length exceeds the declared max; other
    * types are reported for manual follow-up (the reference's "look up
    * manually", `utils.py:536`).
    *
    * DECIMAL caution: `DECIMAL(n)` means scale 0, so emitting it for a
    * fractional column would TRUNCATE every value — a "widen" must never be
    * lossy. DECIMAL columns therefore widen only when their declared scale
    * is supplied (emitted as `DECIMAL(p,s)` with the scale preserved);
    * otherwise they go to the manual-review list.
    *
    * @param declared      column → (typeName, declaredMax); typeName in
    *                      {"VARCHAR","DECIMAL",...} mirroring Exasol ids 12/3
    * @param declaredScale column → scale for DECIMAL columns (from the
    *                      catalog's COLUMN_NUM_SCALE equivalent)
    * @return (widen actions, manual-review column names)
    */
  def widenPlan(
      observed: Map[String, Long],
      declared: Map[String, (String, Long)],
      declaredScale: Map[String, Long] = Map.empty
  ): (Seq[Widen], Seq[String]) = {
    val hits = declared.toSeq.flatMap { case (c, (tpe, declaredMax)) =>
      observed.get(c).filter(_ > declaredMax).map(obs => (c, tpe, obs))
    }
    val (widenable, manual) = hits.partition { case (c, tpe, _) =>
      tpe.equalsIgnoreCase("VARCHAR") ||
        (tpe.equalsIgnoreCase("DECIMAL") && declaredScale.contains(c))
    }
    (widenable.map { case (c, tpe, obs) =>
      Widen(c, tpe.toUpperCase, obs,
        if (tpe.equalsIgnoreCase("DECIMAL")) declaredScale.get(c) else None)
    }, manual.map(_._1))
  }

  /** E2 — apply widen actions to one or two tables (the reference propagates
    * the ALTER to an optional tmp table, `utils.py:527-534`).
    */
  def applyWiden(spark: SparkSession, widens: Seq[Widen], tables: Seq[String]): Unit =
    for (w <- widens; t <- tables) spark.sql(w.alterSql(t))

  final case class SchemaChange(table: String, column: String, dataType: String, change: String)

  /** E3 — schema drift between an incoming frame and the current table schema
    * (`dlt_utils.notify_schema_changes`): added / removed / retyped columns,
    * as rows ready for the alerting sink (SURVEY §2.12 S11).
    */
  def schemaDiff(table: String, current: StructType, incoming: StructType): Seq[SchemaChange] = {
    val cur = current.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val inc = incoming.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val added = (inc.keySet -- cur.keySet).toSeq.sorted
      .map(c => SchemaChange(table, c, inc(c), "added"))
    val removed = (cur.keySet -- inc.keySet).toSeq.sorted
      .map(c => SchemaChange(table, c, cur(c), "removed"))
    val retyped = (cur.keySet & inc.keySet).toSeq.sorted
      .filter(c => cur(c) != inc(c))
      .map(c => SchemaChange(table, c, s"${cur(c)} -> ${inc(c)}", "retyped"))
    added ++ removed ++ retyped
  }

  /** One alert message per changed column — the reference's message shape
    * (`dlt_utils.py:28-33`: warning line, table line, column line, data
    * type line, newline-joined), with the change verb made explicit
    * (the reference only ever walks additions; [[schemaDiff]] also sees
    * removals and retypes, and silently collapsing them to "changed"
    * would hide the dangerous direction).
    */
  def changeMessage(pipeline: String, c: SchemaChange): String =
    Seq(
      s"*Warning*, schema-change detected in pipeline: `$pipeline`\n",
      s"Table updated: `${c.table}`\n",
      s"Column ${c.change}: `${c.column}`",
      s"Data type: `${c.dataType}`").mkString("\n")

  /** E3 — the load-report walker (`dlt_utils.notify_schema_changes`,
    * `dlt_utils.py:8-40`): after a load lands a batch of tables, walk each
    * table's pre→post schema pair, and deliver ONE message per changed
    * column through the Slack sink. The reference iterates a dlt
    * LoadInfo's per-package `schema_update`; the engine-native equivalent
    * of that record is the (table, schema-before, schema-after) triple the
    * loader already holds on both sides of its commit. Driver-side walk,
    * executor-side delivery ([[graft.operators.SlackSink.send]] —
    * fire-and-log, never fails the load).
    *
    * @return number of change messages attempted
    */
  def notifyLoadSchemaChanges(spark: SparkSession, pipeline: String,
      tables: Seq[(String, StructType, StructType)],
      webhookUrl: String): Long = {
    val changes = tables.flatMap { case (t, pre, post) =>
      schemaDiff(t, pre, post) }
    if (changes.isEmpty) return 0L
    import spark.implicits._
    graft.operators.SlackSink.send(
      changes.map(c => changeMessage(pipeline, c)).toDF("message"),
      webhookUrl)
  }
}
