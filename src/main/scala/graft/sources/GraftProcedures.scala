package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL maintenance surface of the snapshot format — Spark 4 stored
  * procedures ([[org.apache.spark.sql.connector.catalog.ProcedureCatalog]],
  * served through [[GraftCatalog]]), the same `CALL` mechanism the public
  * lakehouse catalogs expose their maintenance through:
  *
  * {{{
  *   CALL graft.vacuum(table => 't', keep => 2)
  *   CALL graft.compact_small_files('t')
  *   CALL graft.optimize('t', zorder_by => 'a,b')
  *   CALL graft.restore_version('t', 3)
  *   CALL graft.analyze_table('t', columns => 'a,b')
  *   CALL graft.history('t')
  * }}}
  *
  * Each procedure is a thin SQL binding over the engine's gated verb
  * (same implementation the API exposes — churn-bounded, stats-pruned,
  * conflict-rebasing); results surface as rows (removed versions, the
  * committed version, the history listing) so SQL schedulers can gate on
  * them. `table` accepts a registered table name (`t`, `db.t`) or a raw
  * table-root path (anything containing a `/`).
  */
private[graft] object GraftProcedures {

  private val Namespace = Array("graft")

  private def spark: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "graft procedures: no active SparkSession"))

  /** A table argument: a raw root path (contains '/'), or a catalog table
    * name resolved through the session catalog — which must be a
    * graft-snapshot table (running VACUUM against a parquet directory
    * that merely looks like a table must fail loudly, not sweep it).
    * A PATH argument gets the equivalent gate: a committed snapshot
    * manifest must exist under it — `CALL graft.vacuum('/some/dir')`
    * against a directory that is not a snapshot table must refuse before
    * any verb (especially a sweeping one) touches it.
    */
  private[graft] def resolveRoot(tableOrPath: String): String = {
    if (tableOrPath.contains("/")) {
      require(SnapshotManifest.currentVersion(spark, tableOrPath).isDefined,
        s"graft procedures: no committed graft-snapshot manifest under " +
          s"path '$tableOrPath' — refusing to run a maintenance verb " +
          "against a non-snapshot directory")
      return tableOrPath
    }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val id = classic.sessionState.sqlParser.parseTableIdentifier(tableOrPath)
    val meta = classic.sessionState.catalog.getTableMetadata(id)
    require(meta.provider.exists(_.equalsIgnoreCase("graft-snapshot")),
      s"graft procedures: $tableOrPath is not a graft-snapshot table " +
        s"(provider ${meta.provider.getOrElse("none")})")
    meta.location.toString
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.toArray)

  /** The CALL result: a [[LocalScan]] — the analyzer's `InvokeProcedures`
    * turns it into a local relation, so the verb's outcome reads back as
    * ordinary rows.
    */
  private final class ResultScan(schema: StructType,
      data: Array[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data
  }

  private def result(schema: StructType,
      data: Array[InternalRow]): java.util.Iterator[Scan] =
    Collections.singletonList[Scan](new ResultScan(schema, data)).iterator()

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def inDefault(name: String, dt: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** One procedure: declared parameters + the verb. Bound and unbound in
    * one object — binding is by the declared parameter list (Spark
    * coerces and fills defaults before `call`).
    */
  private abstract class Proc(procName: String, desc: String,
      params: Array[ProcedureParameter]) extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
  }

  private val versionSchema = new StructType().add("version", LongType)

  private def versionRow(v: Long): Array[InternalRow] = Array(row(v))

  private val procedures: Map[String, Proc] = Seq[Proc](

    new Proc("vacuum",
      "Reclaim snapshot versions beyond the retention window and their " +
        "unreferenced files (SnapshotManifest.vacuum); returns the " +
        "removed versions",
      Array(in("table", StringType),
        inDefault("keep", IntegerType, "1"),
        inDefault("min_age_ms", LongType, "0"))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val removed = SnapshotManifest.vacuum(spark, root,
          input.getInt(1), input.getLong(2))
        result(new StructType().add("removed_version", LongType),
          removed.map(v => row(v)).toArray)
      }
    },

    new Proc("compact_small_files",
      "Coalesce a snapshot's small files into target-sized ones " +
        "(SnapshotManifest.compactSmallFiles); returns the committed " +
        "version, or no rows when nothing qualified",
      Array(in("table", StringType),
        inDefault("small_bytes", LongType, (16L * 1024 * 1024).toString),
        inDefault("target_bytes", LongType, (128L * 1024 * 1024).toString),
        inDefault("min_small_files", IntegerType, "2"))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val committed = SnapshotManifest.compactSmallFiles(spark, root,
          input.getLong(1), input.getLong(2), input.getInt(3))
        result(versionSchema, committed.map(v => row(v)).toArray)
      }
    },

    new Proc("optimize",
      "Rewrite the current snapshot z-order-clustered on the given " +
        "columns (Layout.optimizeSnapshot); returns the committed version",
      Array(in("table", StringType),
        in("zorder_by", StringType),
        inDefault("bits", IntegerType, "8"),
        inDefault("num_files", IntegerType, "64"))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val zCols = input.getUTF8String(1).toString.split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        require(zCols.nonEmpty, "optimize: zorder_by needs at least one column")
        val v = graft.operators.Layout.optimizeSnapshot(spark, root, zCols,
          input.getInt(2), input.getInt(3))
        result(versionSchema, versionRow(v))
      }
    },

    new Proc("restore_version",
      "Make an earlier retained version current again as a NEW metadata-" +
        "only commit (SnapshotManifest.restoreVersion); returns the " +
        "committed version",
      Array(in("table", StringType), in("version", LongType))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val v = SnapshotManifest.retryOnConflict()(
          SnapshotManifest.restoreVersion(spark, root, input.getLong(1)))
        result(versionSchema, versionRow(v))
      }
    },

    new Proc("analyze_table",
      "(Re)compute per-file manifest stats for the given columns " +
        "(SnapshotManifest.analyzeTable) — retrofits pruning power " +
        "without rewriting data; returns the committed version",
      Array(in("table", StringType),
        in("columns", StringType),
        inDefault("force", BooleanType, "false"))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val cols = input.getUTF8String(1).toString.split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val v = SnapshotManifest.retryOnConflict()(
          SnapshotManifest.analyzeTable(spark, root, cols, input.getBoolean(2)))
        result(versionSchema, versionRow(v))
      }
    },

    new Proc("fold_deletes",
      "Rewrite deletion-vector'd files as plain survivors (SnapshotManifest" +
        ".foldDeletes) — returns the MoR read path to a pure file scan; " +
        "returns the committed version (unchanged when no DVs are live)",
      Array(in("table", StringType))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val v = SnapshotManifest.foldDeletes(spark, root)
        result(versionSchema, versionRow(v))
      }
    },

    new Proc("materialize_feed",
      "Catch the materialized change feed (_cdf) up to the current " +
        "version (ChangeFeed.materializeNew, keyed by the declared " +
        "primary key); returns one row per materialized (from, to) range",
      Array(in("table", StringType))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val ranges = ChangeFeed.materializeNew(spark, root)
        result(new StructType()
          .add("from_version", LongType).add("to_version", LongType),
          ranges.map { case (f, t) => row(f, t) }.toArray)
      }
    },

    new Proc("clone",
      "Shallow-clone a snapshot version into a NEW table root " +
        "(SnapshotManifest.cloneTable — metadata only, zero data bytes " +
        "copied); returns the clone's version 0",
      Array(in("source", StringType),
        in("target", StringType),
        inDefault("version", LongType, "-1"))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val src = resolveRoot(input.getUTF8String(0).toString)
        // the TARGET is a fresh root by definition (cloning onto a
        // registered table would be a bootstrap conflict) — path only
        val dst = input.getUTF8String(1).toString
        require(dst.contains("/"),
          "clone: target must be a table-root PATH (register it with " +
            "CREATE TABLE … LOCATION afterwards)")
        val ver = input.getLong(2) match {
          case -1L => None
          case v => Some(v)
        }
        val v = SnapshotManifest.cloneTable(spark, src, dst, ver)
        result(versionSchema, versionRow(v))
      }
    },

    new Proc("history",
      "DESCRIBE HISTORY: one row per retained version — version, publish " +
        "time, data-file count, live-DV count (SnapshotManifest.history)",
      Array(in("table", StringType))) {
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val root = resolveRoot(input.getUTF8String(0).toString)
        val entries = SnapshotManifest.history(spark, root)
        result(new StructType()
          .add("version", LongType)
          .add("committed_at", TimestampType)
          .add("data_files", LongType)
          .add("dv_files", LongType),
          entries.map(h => row(h.version, h.committedAtMs * 1000L,
            h.dataFiles, h.dvFiles)).toArray)
      }
    }

  ).map(p => p.name() -> p).toMap

  /** The namespaces the procedures answer under: `graft`, `system`,
    * unqualified, and the session's CURRENT database (a bare
    * `SHOW PROCEDURES` / `CALL vacuum(…)` resolves there). `load` and
    * `list` share this rule — SHOW PROCEDURES must never advertise a name
    * CALL then refuses — and a typo'd database name (`CALL
    * prod_bakup.vacuum`) still refuses loudly instead of executing a
    * destructive verb under the wrong address.
    */
  private def knownNamespace(ns: Array[String]): Boolean =
    ns.isEmpty || (ns.length == 1 && (ns.head == "graft" ||
      ns.head == "system" || ns.head == spark.catalog.currentDatabase))

  def load(ident: Identifier): UnboundProcedure = {
    val ns = ident.namespace()
    procedures.get(ident.name().toLowerCase)
      .filter(_ => knownNamespace(ns)).getOrElse(
      throw new UnsupportedOperationException(
        s"graft procedures: no procedure " +
          s"${(ns :+ ident.name()).mkString(".")} — available: " +
          procedures.keys.toSeq.sorted.map("graft." + _).mkString(", ")))
  }

  def list(namespace: Array[String]): Array[Identifier] =
    if (knownNamespace(namespace))
      procedures.keys.toArray.sorted.map(n => Identifier.of(Namespace, n))
    else Array.empty
}
