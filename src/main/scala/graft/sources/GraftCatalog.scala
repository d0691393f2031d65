package graft.sources

import java.util

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.connector.catalog.{DelegatingCatalogExtension, Identifier, ProcedureCatalog, Table, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Session-catalog extension making snapshot tables full SQL citizens —
  * three surfaces the analyzer resolves through the CATALOG (each the
  * supported Spark mechanism, exactly how the public lakehouse formats
  * wire theirs in):
  *
  *   1. '''Loads & time travel.''' `V2SessionCatalog.loadTable(ident,
  *      version)` throws `UNSUPPORTED_FEATURE.TIME_TRAVEL` before any
  *      injected rule can run, so `SELECT * FROM t VERSION AS OF 3` /
  *      `TIMESTAMP AS OF ts` must be answered here; and with a catalog
  *      extension registered, PLAIN loads no longer take the built-in
  *      provider-conversion path, so returning the V2 [[SnapshotTable]]
  *      here is what keeps SQL reads on the pruning scan. Loads carry the
  *      catalog table's declared OPTIONS and TBLPROPERTIES (plus its
  *      `PARTITIONED BY` columns as `partitionCols`) into the table, so a
  *      `CREATE TABLE … TBLPROPERTIES('statsCols'='…','bloomCols'='…')`
  *      bootstraps an INSERT with stats and bloom indexing declared —
  *      DDL-first users get the same table the API's 6-arg commit builds.
  *   2. '''`ALTER TABLE t ADD COLUMNS (…)`''' — the reference's own
  *      schema-evolution surface (bi_utils `utils.py:541-557`) — maps
  *      onto the metadata-only [[SnapshotManifest.addColumns]] publish;
  *      `SET/UNSET TBLPROPERTIES` of the manifest-backed properties
  *      (`bloomCols`, `primaryKey`, `partitionCols`) run the matching
  *      declare verbs. Any other change kind on a bootstrapped snapshot
  *      table is REFUSED loudly with the supported grammar — never a
  *      metastore-only edit the manifest silently ignores.
  *   3. '''Maintenance procedures.''' `CALL graft.vacuum('t')`,
  *      `optimize`, `compact_small_files`, `restore_version`,
  *      `analyze_table`, `history` ([[GraftProcedures]]) — Spark 4's
  *      `ProcedureCatalog` contract, the same CALL surface
  *      Iceberg/Paimon expose their maintenance through.
  *
  * Every other catalog operation — `CREATE TABLE`, DROP, namespaces, any
  * operation on a non-snapshot table — DELEGATES verbatim to the built-in
  * session catalog.
  *
  * Version resolution matches the reader options: `VERSION AS OF n` is
  * the committed version number ([[SnapshotManifest.readVersion]]'s
  * contract); `TIMESTAMP AS OF ts` resolves through
  * [[SnapshotManifest.versionAsOf]] (newest retained version published at
  * or before `ts` — manifest mtimes order the commits, the same contract
  * as `readAsOf`).
  */
class GraftCatalog extends DelegatingCatalogExtension with ProcedureCatalog {

  private def spark: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "GraftCatalog: no active SparkSession"))

  /** Option keys the snapshot READ paths consume (scan builder, V1
    * relation, micro-batch stream) — lowercase. Declaring one of these as
    * a catalog table property must not ride into every scan's options.
    */
  private val readOptionKeys = Set("readchangefeed", "ignorechanges",
    "startingversion", "maxversionspertrigger", "versionasof",
    "timestampasof")

  /** The catalog's record of a graft-snapshot table: root, declared
    * schema, and declared properties. The declared schema matters only
    * pre-bootstrap (CREATE TABLE with columns, then INSERT): once a
    * snapshot exists its manifest is authoritative. The PROPERTIES always
    * matter: `statsCols`/`bloomCols`/`partitionCols`/`primaryKey` ride
    * every load into the table's write path (an INSERT INTO a table
    * declared with stats must record them — losing the declaration loses
    * manifest-stats pruning for those files permanently), and the
    * catalog's `PARTITIONED BY` columns surface as `partitionCols`.
    * Only a MISSING table maps to None (delegate handles it); a transient
    * metastore/IO failure propagates — silently reclassifying a snapshot
    * table as a delegate table would fail time travel with the wrong
    * error and route plain loads down the wrong path.
    */
  private def snapshotMeta(ident: Identifier)
      : Option[(String, Option[StructType], util.Map[String, String])] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val id = TableIdentifier(ident.name,
      ident.namespace.lastOption.orElse(Some("default")))
    val meta = try classic.sessionState.catalog.getTableMetadata(id) catch {
      case _: AnalysisException => return None // no such table/database
    }
    if (!meta.provider.exists(_.equalsIgnoreCase("graft-snapshot"))) None
    else {
      val props = new util.HashMap[String, String]()
      // OPTIONS(…) then TBLPROPERTIES(…) — table properties win on a key
      // declared in both (they are the later, more deliberate statement).
      // READ-semantic option keys are STRIPPED: the carried map merges
      // into every scan's read options (newScanBuilder), so a table
      // property named readChangeFeed/versionAsOf/… would silently flip
      // read semantics for every reader of the table — a declaration
      // surface must never double as a per-query switch.
      def put(k: String, v: String): Unit =
        if (!readOptionKeys.contains(k.toLowerCase)) { props.put(k, v); () }
      meta.storage.properties.foreach { case (k, v) => put(k, v) }
      meta.properties.foreach { case (k, v) => put(k, v) }
      if (meta.partitionColumnNames.nonEmpty &&
          !props.containsKey("partitionCols"))
        props.put("partitionCols", meta.partitionColumnNames.mkString(","))
      Some((meta.location.toString, Some(meta.schema).filter(_.nonEmpty),
        props))
    }
  }

  /** Snapshot tables load as THE V2 [[SnapshotTable]] (current version)
    * — with a catalog extension registered, plain loads no longer take
    * the built-in provider-conversion path, so returning the table here
    * is what keeps SQL reads on the pruning scan, INSERT on the V2 write,
    * and DELETE/UPDATE/MERGE visible to the
    * [[graft.plans.SnapshotStatements]] rewrite (the same pattern the
    * public lakehouse catalogs use). Everything else delegates.
    */
  override def loadTable(ident: Identifier): Table =
    snapshotMeta(ident) match {
      case Some((root, declared, props)) =>
        new SnapshotTable(spark, root, None, declared,
          new CaseInsensitiveStringMap(props))
      case None => super.loadTable(ident)
    }

  override def loadTable(ident: Identifier, version: String): Table =
    snapshotMeta(ident) match {
      case Some((root, _, props)) =>
        val v = try version.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft-snapshot: VERSION AS OF takes a version NUMBER, got " +
              s"'$version'")
        }
        require(SnapshotManifest.hasVersion(spark, root, v),
          s"graft-snapshot: version $v of $root is not retained " +
            "(never committed, or vacuumed)")
        new SnapshotTable(spark, root, Some(v), None,
          new CaseInsensitiveStringMap(props))
      case None => super.loadTable(ident, version)
    }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    snapshotMeta(ident) match {
      case Some((root, _, props)) =>
        val v = SnapshotManifest.versionAsOf(spark, root,
          timestampMicros / 1000L).getOrElse(
          throw new IllegalStateException(
            s"graft-snapshot: no retained snapshot of $root as of " +
              s"$timestampMicros µs — the first retained commit is newer " +
              "(or the table is empty)"))
        new SnapshotTable(spark, root, Some(v), None,
          new CaseInsensitiveStringMap(props))
      case None => super.loadTable(ident, timestampMicros)
    }

  // ---- ALTER TABLE ----------------------------------------------------

  private def refuseChange(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-snapshot ALTER TABLE does not support $what. Supported on a " +
        "committed snapshot table: ADD COLUMNS (nullable, no DEFAULT, no " +
        "position) and SET/UNSET TBLPROPERTIES ('bloomCols', 'primaryKey', " +
        "'partitionCols', or ride-along properties like 'statsCols'). " +
        "Renames, drops, type or nullability changes would strand the " +
        "committed data files' schema — rewrite through INSERT OVERWRITE " +
        "instead")

  /** The manifest-backed TBLPROPERTIES: SET runs the declare verb (a
    * metadata-only publish), UNSET clears it the same way — all the
    * statement's manifest-backed properties apply as ONE publish
    * ([[SnapshotManifest.setProperties]]), so a multi-property ALTER is
    * atomic: it takes effect entirely or not at all, never half. Anything
    * else (e.g. `statsCols`, comments) only updates the metastore record
    * — which [[snapshotMeta]] feeds back into every load, so INSERT write
    * options pick it up.
    */
  private val manifestPropKeys = Set("bloomcols", "primarykey", "partitioncols")

  /** `ALTER TABLE t ADD COLUMNS (…)` on a committed snapshot table is the
    * metadata-only manifest widening ([[SnapshotManifest.addColumns]] —
    * no data file is touched; existing rows read the new columns as
    * null). The MANIFEST is authoritative for a bootstrapped table's
    * schema (every load serves it), so the metastore's creation-time
    * column record is deliberately left alone. Pre-bootstrap (CREATE
    * TABLE, no snapshot yet) everything delegates: the metastore schema
    * is exactly the declared seed the first INSERT bootstraps from.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    snapshotMeta(ident) match {
      case Some((root, _, _))
          if SnapshotManifest.currentVersion(spark, root).isDefined =>
        val adds = Seq.newBuilder[StructField]
        // accumulated manifest-backed property assignments — applied as
        // ONE setProperties publish after the loop (statement atomicity)
        var bloom: Option[Seq[String]] = None
        var pk: Option[Seq[String]] = None
        var parts: Option[Seq[String]] = None
        def assignProp(key: String, cols: Seq[String]): Unit =
          key.toLowerCase match {
            case "bloomcols" => bloom = Some(cols)
            case "primarykey" => pk = Some(cols)
            case "partitioncols" => parts = Some(cols)
            case _ => ()
          }
        val delegated = Seq.newBuilder[TableChange]
        changes.foreach {
          case a: TableChange.AddColumn =>
            if (a.fieldNames.length != 1)
              refuseChange(s"adding a NESTED field " +
                s"(${a.fieldNames.mkString(".")}) — add a top-level column")
            if (!a.isNullable)
              refuseChange(s"adding NOT NULL column '${a.fieldNames.head}' " +
                "— existing rows have no values for it")
            if (a.defaultValue != null)
              refuseChange(s"a DEFAULT value on added column " +
                s"'${a.fieldNames.head}' — existing files cannot carry it")
            if (a.position != null)
              refuseChange(s"a column position (FIRST/AFTER) on " +
                s"'${a.fieldNames.head}' — added columns append")
            val md = Option(a.comment)
              .map(c => new org.apache.spark.sql.types.MetadataBuilder()
                .putString("comment", c).build())
              .getOrElse(org.apache.spark.sql.types.Metadata.empty)
            adds += StructField(a.fieldNames.head, a.dataType,
              nullable = true, md)
          case p: TableChange.SetProperty =>
            if (manifestPropKeys.contains(p.property.toLowerCase))
              assignProp(p.property,
                p.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            delegated += p // keep the metastore record in sync either way
          case p: TableChange.RemoveProperty =>
            if (manifestPropKeys.contains(p.property.toLowerCase))
              assignProp(p.property, Nil)
            delegated += p
          case other =>
            refuseChange(other.getClass.getSimpleName)
        }
        val newCols = adds.result()
        if (newCols.nonEmpty)
          SnapshotManifest.retryOnConflict()(
            SnapshotManifest.addColumns(spark, root, newCols))
        if (bloom.isDefined || pk.isDefined || parts.isDefined)
          SnapshotManifest.retryOnConflict()(
            SnapshotManifest.setProperties(spark, root, bloom, pk, parts))
        val remaining = delegated.result()
        if (remaining.nonEmpty) super.alterTable(ident, remaining: _*)
        loadTable(ident)
      case _ => super.alterTable(ident, changes: _*)
    }

  // ---- Maintenance procedures (CALL graft.<verb>(…)) -------------------

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)
}
