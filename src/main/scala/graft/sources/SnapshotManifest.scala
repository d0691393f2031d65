package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import scala.concurrent.duration._

import graft.core.Retry

/** A snapshot commit lost the optimistic-concurrency race: another writer
  * published this version first. The losing attempt corrupted nothing (its
  * staged data dir is unreferenced garbage until [[SnapshotManifest.vacuum]]
  * sweeps it) and the table now holds the WINNER's snapshot — so the correct
  * response is re-read-and-retry, which [[SnapshotManifest.retryOnConflict]]
  * automates around any verb. An `IOException` subclass so
  * pre-existing callers that matched on IOException still do.
  */
class ConcurrentCommitException(message: String)
  extends java.io.IOException(message)

/** A quality-gated commit ([[SnapshotManifest.commitChecked]]) found failing
  * checks: nothing was written and the table keeps its current snapshot.
  * The message carries the per-check report (name, metric, threshold).
  */
class QualityGateException(message: String)
  extends IllegalStateException(message)

/** Versioned snapshot-manifest table — the object-store-safe commit protocol
  * that upgrades the rename-swap sinks ([[graft.operators.Upsert.mergeAndSwap]],
  * [[PartitionedSink.compact]]) to an ATOMIC single-operation commit.
  *
  * Layout under a table root:
  * {{{
  *   manifest-00000003.json   // snapshot 3: header + one data-file path/line
  *   manifest-00000002.json   // older snapshots stay readable until vacuum
  *   data/v00000003-1f3a9c2e/part-*.parquet   // immutable once committed;
  *                                            // nonce-unique per attempt
  * }}}
  *
  * Commit protocol (the Delta/Iceberg log shape, minus the engine):
  *   1. write the new snapshot's data files under a fresh, per-attempt
  *      UNIQUE `data/v<N>-<nonce>/` dir — invisible to readers, who only
  *      follow manifests, and never shared with any other attempt, so
  *      concurrent writers cannot touch each other's staged files;
  *   2. write `.manifest-<N>.tmp` listing those files;
  *   3. rename it to `manifest-<N>.json` — rename-to-a-NEW-name of ONE
  *      small file, atomic on HDFS-like filesystems. The rename IS the
  *      commit: a crash anywhere before it leaves only invisible garbage
  *      and the previous snapshot fully readable; after it, the new
  *      snapshot is fully durable. There is no delete-then-rename window
  *      at all (the failure mode `mergeAndSwap` documents). On object
  *      stores, swap the rename for a store-side conditional put — see
  *      [[CommitProtocol]]; Hadoop's S3A `rename` is copy+delete and is
  *      NOT a substitute.
  *
  * Readers list `manifest-*.json` and follow the highest version — no
  * pointer file to swap, so reads need no coordination. Version-numbered
  * manifests give single-table optimistic concurrency: two writers racing
  * to commit N stage into disjoint dirs and cannot both win the manifest
  * rename; the loser fails loudly without corrupting anything (its staged
  * dir is inert garbage until [[vacuum]] sweeps it). The loser must re-read
  * the table and retry — blind retry at N+1 would silently discard the
  * winner's changes (lost update) for these read-modify-write commits.
  *
  * Scope: snapshot tables (whole-table replace per commit — the MERGE and
  * compaction shapes). Data files are never renamed or deleted by a commit;
  * superseded snapshots and abandoned staging dirs are reclaimed explicitly
  * by [[vacuum]], which requires NO concurrent writers (it reclaims any
  * data dir no surviving manifest references — an in-flight commit's
  * staging included).
  */
object SnapshotManifest {

  // {8,}: %08d pads to 8 digits but GROWS past them at version 1e8 — an
  // exact {8} would make such versions invisible to currentVersion and
  // permanently wedge commits on the apparent version collision
  private val ManifestRe = "manifest-(\\d{8,})\\.json".r
  private val RewriteRe = "manifest-(\\d{8,})\\.json\\.rewrite-(\\d+)".r

  private[sources] def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestName(v: Long) = f"manifest-$v%08d.json"
  private def rewriteName(v: Long, publishedAt: Long) =
    f"manifest-$v%08d.json.rewrite-$publishedAt%d"
  private def dataDirName(v: Long) = f"v$v%08d"
  private def ckptDir(rootPath: Path, v: Long): Path =
    new Path(new Path(rootPath, "_ckpt"), f"v$v%08d")

  /** Complete a chain-guard rewrite swap that crashed between the
    * manifest delete and the sidecar rename ([[vacuum]]'s delta→full
    * rewrite): the deterministic `manifest-N.json.rewrite-<publishedAt>`
    * sidecar IS the durable copy of the retained version through that
    * window, so recovery is rename-into-place + restoring the recorded
    * publish instant (time travel resolves by mtime). A sidecar whose
    * manifest still exists is stale (crash BEFORE the swap started, or a
    * completed swap on a replacing-rename store) — the original delta is
    * intact and the next vacuum redoes the rewrite, so it is just
    * deleted — but only once it is older than [[StaleRewriteAgeMs]]: a
    * younger sidecar may be another caller's IN-FLIGHT swap (written, not
    * yet renamed), and deleting it from under that caller would strand the
    * swap with no durable copy the moment the caller deletes the live
    * manifest. An abandoned stale sidecar is inert garbage; waiting a few
    * minutes to sweep it costs nothing. Idempotent and multi-caller-safe:
    * every step is a rename whose loser observes the winner's completed
    * state, and the only delete is age-gated past any plausible in-flight
    * window.
    */
  private val StaleRewriteAgeMs = 10L * 60 * 1000
  private def recoverManifestRewrites(spark: SparkSession, fs: FileSystem,
      rootPath: Path): Unit = {
    if (!fs.exists(rootPath)) return
    fs.listStatus(rootPath).foreach { s =>
      s.getPath.getName match {
        case RewriteRe(v, publishedAt) if s.isFile =>
          val mf = new Path(rootPath, manifestName(v.toLong))
          if (!fs.exists(mf)) {
            if (fs.rename(s.getPath, mf)) {
              fs.setTimes(mf, publishedAt.toLong, -1)
              // the swap this recovery completed left an OFF-BOUNDARY FULL
              // anchor — twin it exactly as the crashed caller would have
              // ([[vacuum]]'s chain-guard rewrite), or every pruned read
              // chaining here demotes to the driver path until the next
              // boundary. Best-effort: a failure costs only the fast path.
              try {
                val body = CommitProtocol.readFully(fs, mf)
                  .split('\n').map(_.trim).filter(_.nonEmpty)
                  .filterNot(l =>
                    HeaderKeys.exists(l.startsWith) || l.startsWith("base="))
                  .toSeq
                if (checkpointInterval(spark) > 1 &&
                    body.size >= parquetCheckpointMinLines(spark))
                  writeCheckpointParquet(spark, rootPath.toString, v.toLong, body)
              } catch { case scala.util.control.NonFatal(e) =>
                graft.core.Logging.logger().warn(
                  s"twin write for crash-recovered rewrite of version $v " +
                    s"under $rootPath failed (reads fall back to the text " +
                    s"path): ${e.getMessage}")
              }
            }
          } else if (System.currentTimeMillis() - s.getModificationTime >
              StaleRewriteAgeMs) {
            fs.delete(s.getPath, false)
          }
        case _ => ()
      }
    }
  }

  /** All retained (not-yet-vacuumed) snapshot versions, ascending — ONE
    * directory listing, however many versions exist.
    */
  private[graft] def listVersions(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, rootPath) = fsOf(spark, root)
    if (!fs.exists(rootPath)) return Seq.empty
    fs.listStatus(rootPath).toSeq.flatMap(s => s.getPath.getName match {
      case ManifestRe(v) if s.isFile => Some(v.toLong)
      // a mid-swap chain-guard rewrite (manifest deleted, sidecar durable)
      // still IS a retained version — [[manifestParts]] completes the swap
      // on first read, so listing it keeps currentVersion/time-travel
      // correct through the crash window
      case RewriteRe(v, _) if s.isFile => Some(v.toLong)
      case _ => None
    }).distinct.sorted
  }

  /** Highest committed snapshot version, or None for an empty/new table. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    listVersions(spark, root).lastOption

  /** The snapshot that was current AS OF `timestampMs` (Delta's TIMESTAMP
    * AS OF): the highest retained version whose manifest published at or
    * before that instant — manifests are write-once, so their mtime IS
    * the publish time. One directory listing + one status call per
    * retained version (driver metadata). None when the table's first
    * commit postdates the timestamp; vacuumed versions are gone here as
    * everywhere (pin retention to the time-travel window you need).
    * Clock caveat, shared with every mtime-based table format: the
    * filesystem's clock orders the commits, not the caller's.
    */
  def versionAsOf(spark: SparkSession, root: String,
      timestampMs: Long): Option[Long] = {
    val (fs, rootPath) = fsOf(spark, root)
    listVersions(spark, root).reverseIterator.find(v =>
      fs.getFileStatus(new Path(rootPath, manifestName(v)))
        .getModificationTime <= timestampMs)
  }

  /** [[readVersion]] at [[versionAsOf]] `timestampMs` — timestamp-based
    * time travel. Throws when no retained version is that old.
    */
  def readAsOf(spark: SparkSession, root: String, timestampMs: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, timestampMs).getOrElse(
      throw new IllegalStateException(
        s"readAsOf: no retained snapshot of $root as of $timestampMs — " +
          "the first retained commit is newer (or the table is empty)")))

  /** One parsed manifest body line: `rel[\tstats-json][\tdv=rel]`. The DV
    * field references a DELETION-VECTOR parquet (`file_name`, `row_index`
    * rows) that [[readEntries]] anti-joins away at read time — the
    * merge-on-read DELETE ([[deleteWhereMoR]]); field order after `rel` is
    * free, fields are recognized by shape (`dv=` prefix vs stats JSON).
    */
  private[graft] final case class ManifestEntry(rel: String,
      stats: Option[String], dvRel: Option[String]) {
    def render: String =
      rel + stats.map("\t" + _).getOrElse("") + dvRel.map("\tdv=" + _).getOrElse("")
    /** Line identity for file-level diffing: a data file whose DV changed
      * contributes DIFFERENT rows even though its bytes are shared.
      */
    def unit: (String, Option[String]) = (rel, dvRel)
  }

  private[graft] def parseLine(line: String): ManifestEntry = {
    val fields = line.split('\t')
    val (dvs, rest) = fields.tail.partition(_.startsWith("dv="))
    ManifestEntry(fields.head, rest.headOption, dvs.headOption.map(_.stripPrefix("dv=")))
  }

  /** Data-file paths (absolute) of snapshot `version` — DV sidecars are
    * NOT included (they are not data). Manifest file lines are
    * `relpath` optionally followed by TAB + per-file stats JSON
    * ([[ManifestStats]]) and/or a `dv=` reference; this accessor strips
    * everything but the data path.
    */
  def snapshotFiles(spark: SparkSession, root: String, version: Long): Seq[String] =
    manifestBody(spark, root, version).map(l => bodyFile(root, l))

  /** Per-file stats of snapshot `version`, keyed by file NAME — empty for
    * files committed without stats (pre-stats manifests read fine: every
    * file simply survives pruning). For DV'd files the stats describe the
    * PRE-deletion rows — a conservative superset, sound for pruning
    * (bounds can only be wider than the surviving rows').
    */
  def snapshotFileStats(spark: SparkSession, root: String,
      version: Long): Map[String, ManifestStats.FileStats] =
    bodyStats(manifestBody(spark, root, version))

  /** DV-aware read of a set of manifest entries: data files scanned as
    * usual; files carrying a `dv=` reference get their deleted
    * `(file_name, row_index)` rows anti-joined away. The no-DV fast path
    * is a plain parquet scan — zero overhead until the first MoR delete.
    */
  /** A column name not colliding with any of `taken` — position/bookkeeping
    * columns must never shadow a USER column that legitimately carries the
    * default name (the adversarial-name class `IncrementalRollup.read`
    * guards against).
    */
  private def freshName(base: String, taken: Seq[String]): String = {
    var n = base
    while (taken.contains(n)) n += "_"
    n
  }

  /** IN-MEMORY byte budget below which a DV sidecar is BROADCAST into the
    * read-side anti-join (the shuffle-free shape for the overwhelmingly
    * common churn-sized DV); past it the anti-join runs as a plain
    * shuffle join — a fat DV replicated to every executor would cost more
    * memory than the exchange it avoids. Overridable per session via
    * `graft.dv.broadcastBytes`.
    */
  private[graft] val DvBroadcastBytesDefault: Long = 32L * 1024 * 1024

  /** On-disk→in-memory expansion estimate for DV sidecars: parquet
    * dictionary/RLE crushes (few-distinct file_name, near-sequential
    * row_index) rows to a few bytes each while a broadcast hash relation
    * pays ~40+ B, so the file-size signal must be scaled before comparing
    * against the memory budget — a near-cap DV would otherwise still
    * broadcast.
    */
  private[graft] val DvMemoryExpansion: Long = 8L

  /** Default position cap for every MoR masking verb: past it the verb
    * degrades loudly to its copy-on-write twin. 10M positions ≈ a
    * ~100 MB in-memory set on the read side — the point where masking
    * stops being cheaper than rewriting the affected files once.
    */
  val DefaultMaxDvPositions: Long = 10L * 1000 * 1000

  private[graft] def dvBroadcastBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.dv.broadcastBytes").map(v =>
      try v.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft.dv.broadcastBytes must be a plain byte count, got '$v'")
      }).getOrElse(DvBroadcastBytesDefault)

  /** Total on-disk bytes of the DV sidecars referenced by `entries` — a
    * constant-per-sidecar driver status call, the signal that picks the
    * read-side join strategy.
    */
  private[graft] def dvSidecarBytes(spark: SparkSession, root: String,
      entries: Seq[ManifestEntry]): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    entries.flatMap(_.dvRel).distinct
      .map(r => fs.getFileStatus(new Path(rootPath, r)).getLen).sum
  }

  /** Broadcast the DV anti-join iff the sidecar's ESTIMATED in-memory
    * size (on-disk bytes × [[DvMemoryExpansion]]) fits the budget.
    */
  private[graft] def dvShouldBroadcast(spark: SparkSession, root: String,
      entries: Seq[ManifestEntry]): Boolean =
    dvSidecarBytes(spark, root, entries) * DvMemoryExpansion <
      dvBroadcastBytes(spark)

  /** The table schema: the RECORDED one, else the footer of the data file
    * `sampleLine` names (a body line or a rel). Every file of a snapshot
    * shares its schema and data files are immutable, so one footer is
    * exact — read on the driver, no Spark job. `sampleLine` is evaluated
    * only without a recorded schema. None only with neither.
    */
  private[graft] def tableSchema(spark: SparkSession, root: String,
      recorded: Option[StructType], sampleLine: => Option[String]): Option[StructType] =
    recorded.orElse(sampleLine.map(l =>
      org.apache.spark.sql.graftbridge.ColumnBridge.parquetFileSchema(spark, bodyFile(root, l))))

  /** The scan of `entries`' data files under the RECORDED schema, else the
    * first entry's footer schema — never an inference job. Under a
    * recorded schema ([[addColumns]]) columns a pre-widening file lacks
    * read as typed nulls (standard parquet missing-column fill under an
    * explicit read schema).
    */
  private def scanEntries(spark: SparkSession, root: String,
      entries: Seq[ManifestEntry], declaredSchema: Option[StructType]): DataFrame =
    spark.read.schema(tableSchema(spark, root, declaredSchema, Some(entries.head.rel)).get)
      .parquet(entries.map(e => bodyFile(root, e.rel)): _*)

  private[graft] def readEntries(spark: SparkSession, root: String,
      entries: Seq[ManifestEntry],
      declaredSchema: Option[StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split => fsplit}
    // a fully-emptied snapshot (e.g. a metadata-only deleteWhere that
    // dropped every file) still reads — as an empty frame of the recorded
    // schema; without one there is genuinely no shape to answer with
    if (entries.isEmpty)
      return declaredSchema match {
        case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None => throw new IllegalStateException(
          "readEntries: snapshot has no data files and no recorded schema")
      }
    val rootPath = new Path(root)
    val dvFiles = entries.flatMap(_.dvRel).distinct
      .map(r => new Path(rootPath, r).toString)
    val base = scanEntries(spark, root, entries, declaredSchema)
    if (dvFiles.isEmpty) base
    else {
      // LAZY sidecar read: the DV parquet stays executor-side —
      // constructing this frame never runs a driver job. Strategy by
      // sidecar size: churn-sized DVs broadcast (corpus side stays
      // shuffle-free); a DV past the byte threshold joins as a plain
      // shuffle instead of replicating to every executor.
      val fCol = freshName("__graft_f", base.columns.toSeq)
      val rCol = freshName("__graft_r", base.columns.toSeq :+ fCol)
      val dvRaw = spark.read.schema(DvSidecarSchema).parquet(dvFiles: _*)
        .select(col("file_name").alias("__dv_f"), col("row_index").alias("__dv_r"))
        .distinct()
      val dv =
        if (dvShouldBroadcast(spark, root, entries))
          org.apache.spark.sql.functions.broadcast(dvRaw)
        else dvRaw
      val withMeta = base
        .withColumn(fCol, element_at(fsplit(col("_metadata.file_path"), "/"), -1))
        .withColumn(rCol, col("_metadata.row_index"))
      withMeta.join(dv, withMeta(fCol) === dv("__dv_f") &&
          withMeta(rCol) === dv("__dv_r"), "left_anti")
        .drop(fCol, rCol)
    }
  }

  /** [[readEntries]] keeping row positions: the ALIVE rows of `entries`
    * (`oldDv` — the lazily-read prior sidecars, see [[entryDvPositionsDf]]
    * — anti-joined away), with file-name and row-index columns attached
    * under COLLISION-FREE names, returned alongside the frame. The input
    * every MoR masking verb ([[deleteWhereMoR]], [[updateWhereMoR]],
    * [[graft.operators.Upsert.mergeWhereMoR]]) computes its positions
    * from. Positions are never materialized on the driver: the prior DV
    * stays a DataFrame, joined broadcast or shuffle by sidecar size
    * (same policy as [[readEntries]]).
    */
  private[graft] def readEntriesWithPositions(spark: SparkSession, root: String,
      entries: Seq[ManifestEntry], oldDv: Option[DataFrame],
      declaredSchema: Option[StructType] = None)
      : (DataFrame, String, String) = {
    import org.apache.spark.sql.functions.{col, element_at, split => fsplit}
    val base = scanEntries(spark, root, entries, declaredSchema)
    val fCol = freshName("__graft_f", base.columns.toSeq)
    val rCol = freshName("__graft_r", base.columns.toSeq :+ fCol)
    val withPos = base
      .withColumn(fCol, element_at(fsplit(col("_metadata.file_path"), "/"), -1))
      .withColumn(rCol, col("_metadata.row_index"))
    oldDv match {
      case None => (withPos, fCol, rCol)
      case Some(dv0) =>
        val small = dvShouldBroadcast(spark, root, entries)
        val dv = dv0.select(col("file_name").alias("__dv_f"),
          col("row_index").alias("__dv_r"))
        val dvSided =
          if (small) org.apache.spark.sql.functions.broadcast(dv) else dv
        (withPos.join(dvSided, withPos(fCol) === dvSided("__dv_f") &&
          withPos(rCol) === dvSided("__dv_r"), "left_anti"), fCol, rCol)
    }
  }

  /** Tag the affected, position-holding lines with the new DV sidecar —
    * the shared manifest-rewrite step of every MoR verb; untouched lines
    * render verbatim. Takes the ALREADY-parsed (entry, absolute file)
    * pairs every caller holds — no second body parse. `dvFileNames` is
    * the (affected-file-bounded) set of data-file BASENAMES the sidecar
    * holds positions for.
    *
    * DV identity is keyed by basename, so basenames must be unique across
    * the whole manifest — Spark part-file UUIDs guarantee it in practice,
    * but a violation would cross-mask rows between files, so it is
    * ASSERTED here (driver-side, manifest already in memory) rather than
    * trusted.
    */
  /** The deletion-vector tagging step as a RAW-line → tagged-line map —
    * each affected file's line gains a `dv=` ref to the freshly-written
    * sidecar. A MAP (keys = the manifest's literal lines, not re-renders)
    * because [[publishRetaggedRebased]] re-applies it onto a concurrent
    * winner's body on a rebase. Basename uniqueness is ASSERTED rather
    * than trusted: DV identity keys on basename, so a collision would
    * silently cross-assign one file's deleted positions to another.
    */
  private[graft] def retagMap(body: Seq[String],
      entriesWithFiles: Seq[(ManifestEntry, String)], affected: Set[String],
      dvFileNames: Set[String], dvFile: String): Map[String, String] = {
    val dupNames = entriesWithFiles.map(e => new Path(e._1.rel).getName)
      .groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dupNames.isEmpty,
      s"deletion-vector tagging requires manifest-wide unique file " +
        s"basenames; duplicated: ${dupNames.take(3).mkString(", ")}")
    body.zip(entriesWithFiles).collect {
      case (raw, (e, f))
          if affected(f) && dvFileNames.contains(new Path(e.rel).getName) =>
        raw -> e.copy(dvRel = Some(dvFile)).render
    }.toMap
  }

  /** Table-level metadata carried in the manifest HEADER, beside the
    * version tag: the recorded schema (an [[addColumns]] widening), the
    * bloom-indexed columns (point-lookup pruning, see [[commit]]'s
    * `bloomCols`), and the declared primary key ([[setPrimaryKey]] — the
    * row identity the pk-less [[changesBetween]]/feed overloads
    * default to). Content verbs read it once and carry it forward
    * verbatim (schema possibly widened), so a property survives every
    * DML/maintenance rewrite. A full [[commit]] resets the SCHEMA (the
    * new frame defines the shape; its files carry it) but CARRIES the
    * declared properties (pk, bloom) — dropping them loudly only when
    * the new frame lacks their columns.
    */
  /** RESERVED column name: a frame committed to a PARTITION-DECLARED table
    * may carry its intra-partition sort key under this name — the
    * clustering shuffle re-orders rows, so a pre-arranged layout (OPTIMIZE
    * ZORDER) must travel WITH the frame to survive it. [[writeDataFiles]]
    * sorts each partition's rows by it and strips it before writing; it is
    * never data. ([[graft.operators.Layout.optimizeSnapshot]] is the
    * sanctioned producer.)
    *
    * Sanction is the column-METADATA tag [[ClusterSortMetaKey]], not the
    * name alone: a USER column that merely collides with the reserved
    * name (data round-tripped from another system) is rejected loudly —
    * never silently dropped (the round-8 adversarial-name rule).
    */
  private[graft] val ClusterSortCol = "__graft_cluster_sort"
  private[graft] val ClusterSortMetaKey = "graft.clusterSort"

  /** The metadata-tagged form a sanctioned producer attaches the marker
    * with — the only shape [[writeDataFiles]] honors.
    */
  private[graft] def clusterSortMarker(value: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    value.as(ClusterSortCol, new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(ClusterSortMetaKey, true).build())

  private[graft] final case class TableMeta(schema: Option[StructType],
      bloomCols: Seq[String], pk: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil,
      txns: Map[String, Long] = Map.empty,
      colocatedMerge: Boolean = false)

  private[graft] object TableMeta {
    val empty: TableMeta = TableMeta(None, Nil, Nil, Nil)
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def colsJson(cols: Seq[String]): String = {
    val arr = jsonMapper.createArrayNode()
    cols.foreach(arr.add)
    jsonMapper.writeValueAsString(arr)
  }

  private def colsFromJson(s: String): Seq[String] = {
    val n = jsonMapper.readTree(s)
    require(n.isArray, s"corrupt column-list header: $s")
    (0 until n.size).map(i => n.get(i).asText())
  }

  /** The header every publish starts with: the version tag plus the
    * table's recorded metadata — content verbs pass the meta they
    * already read so an [[addColumns]] widening or a bloom property
    * survives them without a second manifest fetch; a full commit
    * passes a fresh meta (its df defines the shape anew).
    */
  private def headerFor(next: Long, meta: TableMeta): String =
    s"version=$next\n" +
      meta.schema.map(s => s"schema=${s.json}\n").getOrElse("") +
      (if (meta.bloomCols.isEmpty) ""
       else s"bloom=${colsJson(meta.bloomCols)}\n") +
      (if (meta.pk.isEmpty) "" else s"pk=${colsJson(meta.pk)}\n") +
      (if (meta.partitionCols.isEmpty) ""
       else s"partition=${colsJson(meta.partitionCols)}\n") +
      (if (meta.txns.isEmpty) "" else s"txn=${txnsJson(meta.txns)}\n") +
      (if (meta.colocatedMerge) "merge=colocated\n" else "")

  private def txnsJson(txns: Map[String, Long]): String = {
    val obj = jsonMapper.createObjectNode()
    txns.toSeq.sortBy(_._1).foreach { case (k, v) => obj.put(k, v) }
    jsonMapper.writeValueAsString(obj)
  }

  /** Parse a `merge=` header line. The only defined value is `colocated`
    * ([[setColocatedMerge]]); anything else is a corrupt or
    * future-versioned manifest and fails LOUDLY — silently ignoring an
    * unknown hint would flip a declared merge strategy off without a
    * trace.
    */
  private def mergeHintFromHeader(version: Long, line: String): Boolean = {
    val v = line.stripPrefix("merge=").trim
    require(v == "colocated",
      s"corrupt manifest for version $version: unknown merge= hint '$v'")
    true
  }

  private def txnsFromJson(s: String): Map[String, Long] = {
    val n = jsonMapper.readTree(s)
    require(n.isObject, s"corrupt txn header: $s")
    val it = n.fields()
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
    b.result()
  }

  /** Atomically publish version `next` with exactly `lines` — the
    * driver-body commit point every text-manifest verb goes through.
    * Content is delta-encoded against the previous version when smaller
    * (checkpointed every interval) — see [[manifestText]].
    */
  private[graft] def publishLines(spark: SparkSession, root: String,
      next: Long, lines: Seq[String], op: String,
      meta: TableMeta): Long =
    commitPoint(spark, root, next, op, meta)((fs, manifest) =>
      CommitProtocol.publishFile(fs, manifest,
        manifestText(spark, root, next, meta, lines).getBytes("UTF-8"))
    )(maybeCheckpointParquet(spark, root, next, lines))

  /** THE commit point: one atomic once-only publish of version `next`
    * (`publish` returns false when a concurrent writer published it
    * first — fail loudly, leave the winner's snapshot intact), then, only
    * on a win: cache invalidation, the `postCommit` hook, and the
    * conf-gated feed catch-up. Every manifest publish routes through here.
    */
  private def commitPoint(spark: SparkSession, root: String, next: Long,
      op: String, meta: TableMeta)(publish: (FileSystem, Path) => Boolean)(
      postCommit: => Unit): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    if (!publish(fs, new Path(rootPath, manifestName(next))))
      throw new ConcurrentCommitException(
        s"$op: version $next already committed by a concurrent writer; " +
          "re-read the table and retry (staged files and sidecars are " +
          "unreferenced garbage for vacuum)")
    val key = s"${rootPath.toString}#$next"
    PartsCache.invalidate(key); HeaderCache.invalidate(key)
    postCommit
    maybeAutoCdf(spark, root, meta)
    next
  }

  /** CONF-GATED feed auto-materialization (`graft.cdf.auto` = true):
    * after a successful publish of a table with a DECLARED primary key
    * ([[setPrimaryKey]]), catch the materialized feed up to the new
    * version — every commit boundary gets covered without an external
    * scheduler, which is what keeps [[graft.sources.ChangeFeed]]'s
    * coverage validation permanently green for downstream consumers.
    * Post-commit and BEST-EFFORT: a failure logs and leaves the repair
    * to the next boundary (the catch-up is gap-healing by design) —
    * the commit itself has already published.
    */
  private def maybeAutoCdf(spark: SparkSession, root: String,
      meta: TableMeta): Unit =
    if (meta.pk.nonEmpty &&
        spark.conf.getOption("graft.cdf.auto").exists(_.equalsIgnoreCase("true")))
      try { ChangeFeed.materializeNew(spark, root, meta.pk); () }
      catch { case scala.util.control.NonFatal(e) =>
        graft.core.Logging.logger().warn(
          s"auto change-feed materialization failed for $root (the commit " +
            s"already published; the next catch-up repairs): ${e.getMessage}")
      }

  /** Existing DV positions of `entries` as a LAZY `(file_name, row_index)`
    * frame — never collected; None when no entry carries a sidecar. The
    * write-side counterpart of [[readEntries]]'s sidecar read.
    */
  private[graft] def entryDvPositionsDf(spark: SparkSession, root: String,
      entries: Seq[ManifestEntry]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val dvFiles = entries.flatMap(_.dvRel).distinct
      .map(r => new Path(new Path(root), r).toString)
    if (dvFiles.isEmpty) None
    else Some(spark.read.schema(DvSidecarSchema).parquet(dvFiles: _*)
      .select(col("file_name"), col("row_index")).distinct())
  }

  /** Every DV sidecar's schema ([[writeDvSidecar]] writes exactly these
    * columns) — readers pass it instead of running a footer-inference job.
    */
  private[graft] val DvSidecarSchema = StructType(Seq(
    StructField("file_name", org.apache.spark.sql.types.StringType),
    StructField("row_index", org.apache.spark.sql.types.LongType)))

  /** Write the `(file_name, row_index)` frame as one DV sidecar parquet
    * for version `next` and return its manifest-relative path (invisible
    * until referenced). The write is a CLUSTER job — the driver never
    * holds the positions; `coalesce(1)` funnels them through one executor
    * task (parquet writes stream row groups, so task memory stays bounded)
    * because the manifest's `dv=` field references a single file and the
    * read side prices a single-file scan fine at the [[deleteWhereMoR]]
    * `maxDvPositions`-bounded sizes.
    */
  private[graft] def writeDvSidecar(spark: SparkSession, root: String,
      next: Long, positions: DataFrame): String = {
    import org.apache.spark.sql.functions.col
    val (fs, rootPath) = fsOf(spark, root)
    val dvdName = s"${dataDirName(next)}-dv-${java.util.UUID.randomUUID.toString.take(8)}"
    val dvDir = new Path(rootPath, new Path("data", dvdName))
    positions.select(col("file_name"), col("row_index"))
      .coalesce(1).write.parquet(dvDir.toString)
    fs.listStatus(dvDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"data/$dvdName/${s.getPath.getName}").head
  }

  // ───────────────────────── churn-bounded commit path ──────────────────
  // The WRITE-side twin of the distributed read path: when a parquet
  // checkpoint twin anchors the current version (the 10⁵-10⁶-file regime),
  // a commit is described as churn-sized EDITS — rels to remove, lines to
  // add-or-replace — and published as a delta manifest COMPOSED DIRECTLY
  // from those edits. The full resolved body never exists as driver
  // strings: the basename-uniqueness invariant is checked by a broadcast
  // join against the body frame on executors, schema gates resolve from
  // the header (or ONE sampled file), and a checkpoint-boundary commit
  // streams its full manifest from the composed frame one partition at a
  // time. Delta's write shape, on this engine's single-file commit point.

  /** Churn-sized edits against a base version's body: `removedRels` drop
    * lines by rel; `upserts` add a new line or REPLACE the line of an
    * existing rel (delta-op semantics — `+` alone rewrites in place).
    */
  private[graft] final case class BodyEdits(removedRels: Seq[String],
      upserts: Seq[String]) {
    def ops: Seq[String] =
      removedRels.map(r => s"-\t$r") ++ upserts.map(l => s"+\t$l")
    def touchedRels: Seq[String] =
      (removedRels ++ upserts.map(relOf)).distinct
  }

  /** Diagnostic counter: commits published through the churn-bounded edits
    * path (specs assert the write fast path actually ran — the positive
    * half of the `manifestReadCount == 0` proof).
    */
  private[graft] val editsPublishes = new java.util.concurrent.atomic.AtomicLong

  /** `frame` minus `touched` rels — the surviving base lines, as ONE
    * broadcast anti-join. The single implementation of edit-survivor
    * keying, shared by the composed-body builder and the uniqueness gate
    * so the two can never diverge on how a rel drops out.
    */
  private def editsSurvivors(spark: SparkSession, frame: DataFrame,
      touched: Seq[String]): DataFrame = {
    import spark.implicits._
    if (touched.isEmpty) frame
    else frame.join(
      org.apache.spark.sql.functions.broadcast(touched.toDF("rel")),
      Seq("rel"), "left_anti")
  }

  /** Replay one manifest's already-validated `-\t`/`+\t` ops into the
    * last-write-wins edit map (None = removed, Some(line) = added or
    * replaced) — the ONE implementation of delta-op semantics, shared by
    * [[bodyLinesFrame]] and [[tailEditsBetween]]. Callers validate op
    * shape (stray body lines are corruption) before replaying.
    */
  private def replayOpsInto(
      acc: java.util.LinkedHashMap[String, Option[String]],
      ops: Iterable[String]): Unit =
    ops.foreach { op =>
      if (op.startsWith("-\t")) acc.put(op.stripPrefix("-\t"), None)
      else {
        val l = op.stripPrefix("+\t"); acc.put(relOf(l), Some(l))
      }
    }

  /** `frame` (the base body as `(rel, line)`) with `edits` applied — the
    * composed FINAL body, still distributed: touched rels anti-join out,
    * upserted lines union in. Mirrors [[bodyLinesFrame]]'s tail replay.
    */
  private def applyEdits(spark: SparkSession, frame: DataFrame,
      edits: BodyEdits): DataFrame = {
    import spark.implicits._
    val base = editsSurvivors(spark, frame, edits.touchedRels)
    if (edits.upserts.isEmpty) base.select("rel", "line")
    else base.select("rel", "line").unionByName(
      edits.upserts.map(l => (relOf(l), l)).toDF("rel", "line"))
  }

  /** The manifest-wide basename-uniqueness gate ([[requireUniqueBasenames]])
    * evaluated DISTRIBUTED: upserted basenames must be unique among
    * themselves and absent from the surviving base body (frame minus
    * touched rels). One broadcast semi-join over the body frame — the
    * driver never holds the body's names. False = collision (callers
    * decide loud-vs-conflict); removals alone can never collide.
    */
  private def editsBasenamesUnique(spark: SparkSession, frame: DataFrame,
      edits: BodyEdits): Boolean = {
    if (edits.upserts.isEmpty) return true
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, element_at, split}
    val newNames = edits.upserts.map(l => new Path(parseLine(l).rel).getName)
    if (newNames.distinct.size != newNames.size) return false
    editsSurvivors(spark, frame, edits.touchedRels)
      .select(element_at(split(col("rel"), "/"), -1).as("name"))
      .join(broadcast(newNames.toDF("name")), Seq("name"), "left_semi")
      .isEmpty
  }

  /** Publish version `next` as a delta manifest COMPOSED DIRECTLY from
    * `edits` — header + `base=` pointer + churn-sized ops; the resolved
    * body is never materialized. The caller owns every soundness gate
    * (schema, uniqueness, conflict windows); this is just the commit
    * point. Never writes a twin (a delta is no chain anchor).
    */
  private def publishEditsDelta(spark: SparkSession, root: String,
      next: Long, edits: BodyEdits, op: String, meta: TableMeta): Long = {
    val text = headerFor(next, meta) +
      (s"base=${next - 1}" +: edits.ops).mkString("", "\n", "\n")
    commitPoint(spark, root, next, op, meta)((fs, manifest) =>
      CommitProtocol.publishFile(fs, manifest, text.getBytes("UTF-8"))
    )(editsPublishes.incrementAndGet())
  }

  /** Publish version `next` as a FULL manifest STREAMED from the composed
    * body frame — the checkpoint-boundary commit of the edits path. The
    * text flows driver-through one partition at a time (never whole in
    * memory); the parquet twin then writes from the same frame. The CALLER
    * pins `pinned` (and unpersists it): [[publishEdits]] may already have
    * evaluated it for the full-vs-delta count, and pinning once there means
    * the count, the stream, and the twin share ONE evaluation.
    */
  private def publishEditsFullStreaming(spark: SparkSession, root: String,
      next: Long, pinned: DataFrame, op: String, meta: TableMeta): Long = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    var n = 0L
    val lineIt = pinned.select("line").as[String].toLocalIterator.asScala
      .map { l => n += 1; (l + "\n").getBytes("UTF-8") }
    val it = Iterator.single(headerFor(next, meta).getBytes("UTF-8")) ++ lineIt
    commitPoint(spark, root, next, op, meta)((fs, manifest) =>
      CommitProtocol.publishFileStream(fs, manifest, it)
    ) {
      editsPublishes.incrementAndGet()
      // NonFatal-guarded like [[maybeCheckpointParquet]]: the manifest is
      // durable, nothing here may fail the verb
      try {
        if (checkpointInterval(spark) > 1 &&
            n >= parquetCheckpointMinLines(spark))
          writeCheckpointParquetFrame(spark, root, next, pinned)
      } catch { case scala.util.control.NonFatal(e) =>
        graft.core.Logging.logger().warn(
          s"parquet checkpoint hook for version $next of $root failed " +
            s"(the manifest is already durable): ${e.getMessage}")
      }
    }
  }

  /** Publish `next` from churn-sized `edits` against the base body
    * `frame`: delta-composed off boundaries, streamed-full on them. The
    * edits-path commit point shared by the append family and the
    * churn-bounded DML rebase.
    */
  private[graft] def publishEdits(spark: SparkSession, root: String,
      next: Long, frame: DataFrame, edits: BodyEdits, op: String,
      meta: TableMeta): Long = {
    val interval = checkpointInterval(spark)
    val onBoundary = !(interval > 1 && next % interval != 0)
    // O(1) op count — [[BodyEdits.ops]] is a def that formats churn-sized
    // string Seqs; building it just to size it would allocate that garbage
    // per commit on the hot path
    val opCount = edits.removedRels.size + edits.upserts.size
    // a BROAD edit set renders a delta LARGER than the full manifest (a
    // `-` per removed rel plus a `+` per upsert) — mirror the text path's
    // fall-back-to-full ([[manifestText]]'s `ops.size >= fullLines.size`):
    // once the op count reaches [[broadEditProbeFloor]], pay ONE count of
    // the composed frame and stream full when the delta would not be
    // smaller. Tiny edits — the hot append/merge case — return below
    // without a job, a pin, or the count (the probe floor is absolute,
    // NOT the twin floor: a test-pinned twin floor of 1 must not charge
    // every 2-op append a probe job). Trade-off of the full form, documented:
    // an off-boundary FULL makes [[tailEditsBetween]] windows across it
    // unprovable, so a concurrent loser rebasing over a broad-edit winner
    // demotes to the authoritative body path (or a full verb re-run) —
    // rebase cost proportional to the winner's churn, which for a broad
    // edit is O(body) regardless; the alternative (a body-sized delta)
    // would instead charge that O(body) replay to EVERY subsequent read
    // until the next boundary.
    if (!onBoundary && opCount < broadEditProbeFloor(spark))
      return publishEditsDelta(spark, root, next, edits, op, meta)
    // pin ONCE: the full-vs-delta count, the streamed manifest, and the
    // parquet twin share a single evaluation of the composed frame
    val pinned = applyEdits(spark, frame, edits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (onBoundary || opCount >= pinned.count())
        publishEditsFullStreaming(spark, root, next, pinned, op, meta)
      else publishEditsDelta(spark, root, next, edits, op, meta)
    } finally pinned.unpersist(false)
  }

  /** Read the current snapshot (empty-schema error if the table has none). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"SnapshotManifest.read: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    readEntries(spark, root, body.map(parseLine), meta.schema)
  }

  /** Catalyst-integrated scan: the snapshot as a RELATION whose file
    * listing evaluates the query's own pushed data filters against the
    * manifest stats during planning ([[SnapshotFileIndex]]) — so plain
    * declarative code, `table(...).filter($"id" === x).select(...)`,
    * prunes files with no [[readWhere]] call, and Spark's native parquet
    * path (vectorized reader, row-group pushdown, column pruning,
    * `sizeInBytes`-driven broadcast decisions) handles the rest. Always
    * row-equal to `read(...)`: planning-time pruning is conservative and
    * the pushed predicates re-evaluate in the scan.
    *
    * PARTITION-declared tables serve through the same relation: partition
    * values live IN the data files (see [[writeDataFiles]] — the
    * `partitionBy` targets are throwaway duplicate tags), and the
    * clustered layout records single-valued (min==max) stats per file in
    * every partition column, so a partition predicate prunes EXACTLY
    * here, planning-time, without Hive-style discovery. Falls back to
    * the materialized [[read]]/[[readVersion]] — same rows, no
    * planning-time prune — when the relation shape cannot express the
    * version: live DV sidecars (the anti-join wrapper is not a
    * `FileIndex` concern) or an empty body.
    */
  def table(spark: SparkSession, root: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val v = versionAsOf.getOrElse(currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"SnapshotManifest.table: no committed snapshot under $root")))
    relationFor(spark, root, v) match {
      case Some(rel) =>
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .baseRelationToDataFrame(rel)
      case None =>
        // pin the version we just inspected for DV sidecars — a racer
        // committing between currentVersion and the read must not swap
        // the served snapshot under us
        readVersion(spark, root, v)
    }
  }

  /** The file relation behind [[table]] for version `v` — shared with the
    * `graft-snapshot` reader format ([[SnapshotSource]]). None when the
    * version cannot be a pure file relation: live DV sidecars (readers
    * must anti-join the sidecar) or an empty body.
    */
  private[graft] def relationFor(spark: SparkSession, root: String,
      v: Long): Option[org.apache.spark.sql.sources.BaseRelation] = {
    val (body, meta) = manifestParts(spark, root, v)
    val entries = body.map(parseLine)
    if (entries.isEmpty || entries.exists(_.dvRel.nonEmpty)) None
    else {
      // recorded header schema, or one footer read on the driver, no job
      // (plain commits record no schema= line)
      val schema = tableSchema(spark, root, meta.schema, body.headOption).get
      // bodyStatsOf, not bodyStats: we hold the parse — re-parsing
      // 10⁵-10⁶ lines per relation construction is the documented sin
      val idx = new SnapshotFileIndex(spark, root, v, entries,
        bodyStatsOf(entries), schema)
      Some(org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        idx, new StructType(), schema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        Map.empty[String, String])(spark))
    }
  }

  /** Data-skipping read: files of the current snapshot whose manifest
    * stats admit a `predicate` match, scanned and re-filtered row-by-row
    * with the same predicate — always equal to `read(...).filter(predicate)`,
    * the stats only decide which files Spark never lists in the scan at
    * all. At 100 TB with a range-clustered layout ([[graft.operators.Layout]]
    * or `repartitionByRange` at commit), a narrow range touches a handful
    * of files; the prune decision itself is one driver-side manifest read,
    * no per-file footer round-trips. Conservative everywhere: stats-less
    * files, unrecognized predicate shapes, and type mismatches all stay in
    * the scan (see [[ManifestStats.mayMatch]]).
    */
  def readWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"SnapshotManifest.readWhere: no committed snapshot under $root"))
    // DISTRIBUTED path first: when a parquet checkpoint anchors the body
    // (the 10⁵-file regime), the prune runs on executors over the
    // checkpoint frame and the driver only ever holds the SURVIVING
    // lines — never the full file list. Any failure falls through to the
    // authoritative driver-parsed path below.
    distributedPrune(spark, root, v, predicate) match {
      case Some((meta, schema, kept)) =>
        return {
          if (kept.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
              .filter(predicate)
          else readEntries(spark, root, kept.map(parseLine), meta.schema)
            .filter(predicate)
        }
      case None => ()
    }
    val (body, meta) = manifestParts(spark, root, v)
    val entries = body.map(parseLine)
    val all = body.map(l => bodyFile(root, l))
    // with a RECORDED schema the prune decision needs no file contact at
    // all (at 100k files, constructing a reader over every path pays a
    // full listing just to learn a schema the manifest already states);
    // un-evolved tables take body.head's footer — one footer read on the
    // driver, no job — and the scan reads under it, so the columns come in
    // the table's order whichever files survive the prune
    val schema = tableSchema(spark, root, meta.schema, body.headOption).getOrElse(
      throw new IllegalStateException(
        s"SnapshotManifest.readWhere: snapshot $v of $root has no data " +
          "files and no recorded schema"))
    val pred = ManifestStats.resolvePredicate(spark, schema, predicate)
    val kept = ManifestStats.prune(all, bodyStats(body), pred).toSet
    val keptEntries = entries.zip(all).collect { case (e, f) if kept(f) => e }
    if (keptEntries.isEmpty)
      // schema must come from the table even when every file is pruned
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .filter(predicate)
    else readEntries(spark, root, keptEntries, Some(schema)).filter(predicate)
  }

  /** The file list [[readWhere]] would scan for `predicate` at `version` —
    * exposed so callers (and specs) can observe the skipping itself.
    *
    * ORDERING: on the driver-parsed path, manifest order (historical
    * behavior); on the distributed checkpoint-twin path the frame has no
    * stable order, so survivors are re-sorted lexicographically by path —
    * deterministic, but NOT the manifest's. Callers needing positional
    * stability must not diff lists across the two regimes.
    */
  def prunedFiles(spark: SparkSession, root: String, version: Long,
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    // distributed twin of [[readWhere]]'s fast path — survivors only on
    // the driver; sorted (see ORDERING above) so repeated calls agree
    distributedPrune(spark, root, version, predicate) match {
      case Some((_, _, kept)) => return kept.map(l => bodyFile(root, l)).sorted
      case None => ()
    }
    val (body, meta) = manifestParts(spark, root, version)
    if (body.isEmpty) return Nil // nothing to prune, no schema needed
    val entries = body.map(parseLine)
    val files = entries.map(e => new Path(new Path(root), e.rel).toString)
    // recorded schema or one footer read on the driver, no job
    val schema = tableSchema(spark, root, meta.schema, body.headOption).get
    ManifestStats.prune(files, bodyStatsOf(entries),
      ManifestStats.resolvePredicate(spark, schema, predicate))
  }

  /** O(manifest) COUNT(*): the current snapshot's row count answered from
    * the per-file stats the manifest already records — pure driver
    * metadata, no file listed or read, the same cost at 100 rows as at
    * 100 TB with 100k files (where even parquet's footer-count shortcut
    * pays 100k remote GETs). Files the metadata cannot answer exactly —
    * committed without stats, or carrying a deletion vector (the DV masks
    * an unknown number of the recorded rows) — are counted by a scan of
    * JUST those files; a stats-maintained, recently-folded table answers
    * entirely from metadata.
    */
  /** The recorded row count of one entry when metadata answers it EXACTLY
    * — no deletion vector masking an unknown share of the rows, stats
    * present. THE classification both [[countRows]] folds share (per-entry
    * stats, never a basename-keyed map: keying by name would let two
    * same-named entries collapse to one count).
    */
  private def exactRows(e: ManifestEntry): Option[Long] =
    if (e.dvRel.isEmpty) e.stats.map(ManifestStats.fromJson(_).rows) else None

  /** Scan-line ceiling for [[countRows]]' distributed fold: past it the
    * metadata cannot answer most of the table anyway, so the driver path
    * (which materializes the body ONCE) is the cheaper shape — better
    * than funneling a body-sized list through one aggregation buffer.
    */
  private val CountRowsMaxScanLines = 100000L

  def countRows(spark: SparkSession, root: String): Long = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"countRows: no committed snapshot under $root"))
    // DISTRIBUTED fold when a checkpoint twin anchors the body: the
    // recorded per-file rows sum on EXECUTORS and only the lines metadata
    // cannot answer exactly (DV'd, stats-less — the ones a scan must
    // touch anyway) come back to the driver. The try covers ONLY the
    // derived-frame stages: the data scan below runs outside it, so a
    // genuine scan failure surfaces once and loudly instead of silently
    // re-running on the fallback path.
    val dist: Option[(Long, Seq[String])] =
      try bodyLinesFrame(spark, root, v).flatMap { frame =>
        import spark.implicits._
        def classified = frame.select("line").as[String].map { line =>
          exactRows(parseLine(line)) match {
            case Some(rows) => (rows, null: String)
            case None => (0L, line)
          }
        }.toDF("rows", "line")
        // SCREEN first with one lightweight aggregate (no persist): when
        // scanN exceeds the cap the whole fold is discarded, so the
        // expensive shape (persist + survivor collect) must not have run
        // at exactly the mostly-stats-less sizes the cap targets. The
        // common all-stats table answers in this single job; only the
        // churn-sized scan set pays a second (cheap, metadata-frame) job.
        val r = classified.agg(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("rows")),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.col("line"))).head()
        val metaCount = if (r.isNullAt(0)) 0L else r.getLong(0)
        val scanN = r.getLong(1)
        if (scanN > CountRowsMaxScanLines) None // driver path is cheaper
        else if (scanN == 0L) Some((metaCount, Nil))
        else Some((metaCount,
          classified.filter(org.apache.spark.sql.functions.col("line").isNotNull)
            .select("line").as[String].collect().toSeq))
      } catch { case scala.util.control.NonFatal(_) => None }
    dist match {
      case Some((metaCount, scanLines)) =>
        return metaCount + (
          if (scanLines.isEmpty) 0L
          else readEntries(spark, root, scanLines.map(parseLine),
            manifestMetaOnly(spark, root, v).schema).count())
      case None => ()
    }
    val (body, meta) = manifestParts(spark, root, v)
    if (body.isEmpty) return 0L
    // one stats parse per entry (exactRows pays a JSON parse — never
    // classify and re-derive in two passes)
    val withRows = body.map(parseLine).map(e => e -> exactRows(e))
    val metaCount = withRows.flatMap(_._2).sum
    val scanned = withRows.collect { case (e, None) => e }
    val scanCount =
      if (scanned.isEmpty) 0L
      else readEntries(spark, root, scanned, meta.schema).count()
    metaCount + scanCount
  }

  /** O(manifest) MIN/MAX of `column`: bounds folded from per-file stats
    * where they are EXACT, a scan of only the files they cannot answer.
    * A DV'd file's recorded bounds describe its pre-deletion rows — the
    * extreme row may be exactly the deleted one — so DV'd files are
    * scanned, as are stats-less files. Numeric and string columns fold
    * from metadata (their stats domain IS the value domain); date/
    * timestamp/boolean stats are recorded in a transformed comparison
    * domain, so those columns fall back to a plain scan aggregate —
    * correct, just not metadata-answered. NULLs never contribute (SQL
    * MIN/MAX semantics); (None, None) for an empty or all-null table.
    * Bounds return in [[ManifestStats]]' canonical domain: BigDecimal
    * for numerics, String for strings — except a NON-FINITE float
    * extreme (NaN/±Infinity has no decimal form), which returns as a raw
    * Double under Spark's total order (NaN greatest). With a RECORDED
    * schema ([[addColumns]]) the metadata fold touches no file at all;
    * without one, a single footer read resolves the column's type first.
    */
  def minMax(spark: SparkSession, root: String,
      column: String): (Option[Any], Option[Any]) = {
    import org.apache.spark.sql.functions.{col, max => fmax, min => fmin}
    import org.apache.spark.sql.types.{NumericType, StringType}
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"minMax: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    if (body.isEmpty) return (None, None)
    val entries = body.map(parseLine)
    val schema = tableSchema(spark, root, meta.schema, body.headOption).get
    val field = schema.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(
        s"minMax: column $column not in ${schema.fieldNames.mkString(", ")}"))
    val foldable = field.dataType match {
      case _: NumericType | StringType => true
      case _ => false
    }
    val stats = bodyStatsOf(entries)
    // ONE pass: each entry's exact bounds, or its membership in the scan set
    val withBounds: Seq[(ManifestEntry, Option[ManifestStats.ColStats])] =
      entries.map { e =>
        e -> stats.get(new Path(e.rel).getName)
          .filter(_ => foldable && e.dvRel.isEmpty)
          .flatMap { fs =>
            fs.cols.get(field.name).filter(cs =>
              // all-null files contribute nothing but are still EXACT;
              // otherwise both bounds must be present to fold
              cs.nulls == fs.rows || (cs.min.isDefined && cs.max.isDefined))
          }
      }
    val scanned = withBounds.collect { case (e, None) => e }
    val folded = withBounds.flatMap(_._2)
      .filter(cs => cs.min.isDefined) // skip all-null files
    // comparison across the fold domain, extended for NON-FINITE float
    // extremes (no decimal form; they arrive from the scan side as raw
    // doubles): Spark's total order -- NaN greatest, plus/minus Inf
    // beyond every finite value
    def ord(a: Any, b: Any): Int = (a, b) match {
      case (x: BigDecimal, y: BigDecimal) => x.compare(y)
      case (x: String, y: String) => ManifestStats.codePointCompare(x, y)
      case (x: java.lang.Double, y: java.lang.Double) =>
        java.lang.Double.compare(x, y)
      case (x: java.lang.Double, _: BigDecimal) =>
        if (x.isNaN || x > 0) 1 else -1
      case (_: BigDecimal, y: java.lang.Double) =>
        if (y.isNaN || y > 0) -1 else 1
      case _ => throw new IllegalStateException(
        s"minMax: incomparable bounds ($a vs $b)")
    }
    val metaMin = folded.flatMap(_.min).reduceOption((a, b) => if (ord(a, b) <= 0) a else b)
    val metaMax = folded.flatMap(_.max).reduceOption((a, b) => if (ord(a, b) >= 0) a else b)
    // a non-foldable type (date/timestamp/bool/etc) has NO metadata bounds
    // to fold with -- return the scan aggregate in the column's native type
    if (!foldable) {
      if (scanned.isEmpty) return (None, None)
      val r = readEntries(spark, root, scanned, meta.schema)
        .agg(fmin(col(s"`${field.name}`")), fmax(col(s"`${field.name}`"))).head()
      return (Option(r.get(0)), Option(r.get(1)))
    }
    // scan bounds canonicalize like recorded stats; a NON-FINITE float
    // extreme stays a raw Double (SQL MAX over a column holding Infinity
    // IS Infinity -- returning it beats refusing to answer)
    def canonScan(x: Any): Option[Any] = Option(x).map {
      case d: java.lang.Double if !java.lang.Double.isFinite(d) => d
      case f: java.lang.Float if !java.lang.Float.isFinite(f) =>
        java.lang.Double.valueOf(f.doubleValue)
      case vv => ManifestStats.toStatValue(vv).get // finite => always Some
    }
    val (scanMin, scanMax) =
      if (scanned.isEmpty) (None, None)
      else {
        val r = readEntries(spark, root, scanned, meta.schema)
          .agg(fmin(col(s"`${field.name}`")), fmax(col(s"`${field.name}`"))).head()
        (canonScan(r.get(0)), canonScan(r.get(1)))
      }
    def pick(m: Option[Any], s: Option[Any], keepMin: Boolean): Option[Any] =
      (m, s) match {
        case (Some(a), Some(b)) =>
          Some(if ((ord(a, b) <= 0) == keepMin) a else b)
        case (a, b) => a.orElse(b)
      }
    (pick(metaMin, scanMin, keepMin = true),
      pick(metaMax, scanMax, keepMin = false))
  }

  /** Whether `version`'s manifest is still present (i.e. not vacuumed) —
    * the probe an incremental consumer runs before diffing FROM that
    * version ([[changesBetween]] on a reclaimed manifest throws).
    */
  def hasVersion(spark: SparkSession, root: String, version: Long): Boolean = {
    val (fs, rootPath) = fsOf(spark, root)
    fs.exists(new Path(rootPath, manifestName(version)))
  }

  /** File-level copy-on-write DELETE: commit a new snapshot without the
    * rows matching `predicate`, rewriting ONLY the files whose manifest
    * stats admit a match — every other file is reused byte-for-byte (its
    * manifest line, stats included, carries over verbatim). At 100 TB with
    * a range-clustered layout, deleting one key touches the handful of
    * files whose range contains it, not the table; the prune decision is
    * one driver-side manifest read. SQL DELETE null semantics: a row where
    * the predicate evaluates NULL is NOT deleted.
    *
    * The deleted rows remain readable in SUPERSEDED versions until
    * [[vacuum]] reclaims them — a compliance purge ("this key must be
    * unreadable NOW") is `deleteWhere` + `vacuum(keep = 1)`.
    *
    * `statsCols` stats are recorded for the REWRITTEN files (kept files
    * keep whatever stats they had); pass the same columns the table
    * commits with so pruning keeps working after the delete.
    *
    * Files whose stats PROVE every live row matches
    * ([[ManifestStats.mustMatch]] — e.g. a single-valued partition file
    * under [[setPartitionColumns]], or a whole date range below a purge
    * cutoff) are deleted by dropping their manifest line with ZERO data
    * I/O; when every candidate is proven, the entire delete is a
    * metadata-only commit ("drop partition" at any scale).
    *
    * @return the committed version (the CURRENT version unchanged if no
    *         file could contain a match — a no-op delete commits nothing)
    */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    rewriteWhere(spark, root, predicate, statsCols, "deleteWhere",
      _.filter(not(coalesce(predicate, lit(false)))), dropProven = true)
  }

  /** Copy-on-write UPDATE — [[deleteWhere]]'s twin: rows matching
    * `predicate` get each `assignments` column replaced by its expression
    * (evaluated on the pre-update row, like SQL UPDATE SET); everything
    * else — rows in affected files that don't match, and every
    * unaffected file byte-for-byte — is untouched. NULL-predicate rows
    * are not updated. Same stats-pruned rewrite, manifest-line reuse,
    * and no-op short-circuit as delete.
    */
  def updateWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "updateWhere: no SET assignments")
    val hit = coalesce(predicate, lit(false))
    rewriteWhere(spark, root, predicate, statsCols, "updateWhere", { df =>
      val cols = df.columns.toSeq
      assignments.keys.foreach(c => require(cols.contains(c),
        s"updateWhere: SET column '$c' not in ${cols.mkString(", ")}"))
      // all assignments evaluate against the PRE-update row (SQL UPDATE):
      // one select, no chained withColumn ordering hazard. Cast back to the
      // column's ORIGINAL type: a widening assignment (decimal*double,
      // int+long) would otherwise write rewritten files whose parquet
      // schema diverges from the verbatim-kept files and corrupt the
      // mixed-file read; incompatible assignments fail analysis loudly.
      df.select(cols.map { c =>
        assignments.get(c)
          .map(e => when(hit, e).otherwise(col(c))
            .cast(df.schema(c).dataType).alias(c))
          .getOrElse(col(c))
      }: _*)
    })
  }

  /** [[rewriteWhere]] with a CALLER-SUPPLIED row transform — the entry
    * point for DML whose row fate cannot be a pure per-row `Column`
    * (SQL DELETE/UPDATE with `IN (SELECT …)` conditions, which decide
    * membership by JOINING the candidate rows against a materialized key
    * frame — [[graft.plans.SnapshotStatements]]). `prunePredicate` must
    * ADMIT every row the transform may touch (a conservative superset of
    * the true condition — e.g. the plain conjuncts plus a key-range
    * predicate over the subquery frame); it drives both file pruning and
    * the concurrent-writer disjointness gate, and soundness of both only
    * needs the superset direction. `dropProven` stays OFF: a file proven
    * to fully match the superset is NOT proven to fully match the true
    * condition.
    */
  private[graft] def rewriteWhereTransform(spark: SparkSession, root: String,
      prunePredicate: org.apache.spark.sql.Column, statsCols: Seq[String],
      op: String, transform: DataFrame => DataFrame): Long =
    rewriteWhere(spark, root, prunePredicate, statsCols, op, transform)

  /** Raw manifest BODY lines of `version` — `relpath` optionally followed
    * by TAB + stats JSON, verbatim as committed. The carrier for manifest-
    * line reuse: a copy-on-write commit copies kept lines unchanged (path
    * AND stats), so unaffected files keep their pruning power for free.
    */
  /** ONE manifest read yielding both the body lines (schema header
    * stripped) and the recorded schema, so a DML verb never re-fetches
    * the same file — on an object store each read is a remote GET.
    */
  /** Raw manifest reads performed (test instrumentation for the
    * checkpoint-bounded read guarantee — a read of any version must
    * resolve through at most `checkpointInterval` manifests).
    */
  private[graft] val manifestReadCount = new java.util.concurrent.atomic.AtomicLong

  /** First TAB field of a rendered body line = the entry's file path (the
    * delta-encoding key: one line per live file, replaced wholesale when
    * its stats or DV tag change).
    */
  private def relOf(line: String): String = line.split('\t').head

  /** Commits write FULL manifests every this-many versions (and always for
    * version 0); in between they may write churn-sized DELTAS against the
    * previous version. Bounds both the resolution chain a read walks and
    * how many pre-checkpoint manifests a vacuum may need to rewrite.
    */
  private[graft] def checkpointInterval(spark: SparkSession): Int =
    spark.conf.getOption("graft.manifest.checkpointInterval")
      .map(_.toInt).getOrElse(10)

  /** The immediate `base=` pointer of a manifest, if it is delta-form —
    * a HEADER-bounded probe, never a full read (vacuum's chain guard runs
    * this per retained version; reading a 10⁵-line checkpoint end-to-end
    * just to learn it has no base would make every vacuum O(total manifest
    * bytes)). `base=` always precedes body lines, so the scan stops at the
    * first non-header line.
    */
  /** Whether `version`'s manifest is delta-form (header-probe only) —
    * the cadence witness a caller can gate on without parsing bodies.
    */
  private[graft] def manifestIsDelta(spark: SparkSession, root: String,
      version: Long): Boolean =
    manifestBase(spark, root, version).isDefined

  /** Every header key [[headerFor]] can emit — the single source of truth
    * for "is this line still header?" scans. Extend HERE when adding a
    * table property, or delta-manifest resolution silently breaks for
    * tables carrying it (see [[manifestBase]]).
    */
  private val HeaderKeys =
    Seq("version=", "schema=", "bloom=", "pk=", "partition=", "txn=",
      "merge=")

  private def manifestBase(spark: SparkSession, root: String,
      version: Long): Option[Long] =
    headerEntry(spark, root, version).base

  /** Diagnostic counter: UNCACHED manifest-header reads (specs assert one
    * stream per (version, file identity), not one per accessor or verb).
    */
  private[graft] val headerReadCount = new java.util.concurrent.atomic.AtomicLong

  /** Driver-side HEADER cache — the few-hundred-byte sibling of
    * [[PartsCache]], same (mtime, length) validation (the one manifest
    * mutation, vacuum's chain-guard rewrite, always changes the length).
    * One streamed header read serves every metadata accessor
    * ([[manifestMetaOnly]]), every full-vs-delta probe ([[manifestBase]] —
    * vacuum's chain guard and [[bodyLinesFrame]]'s anchor walk call it per
    * retained version per read), and every post-publish checkpoint hook,
    * instead of one `fs.open` each. Entry-count bounded: headers are tiny.
    */
  private object HeaderCache {
    final case class Entry(mtime: Long, len: Long, meta: TableMeta,
        base: Option[Long])
    private val map = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean = size() > 512
    }
    def get(key: String, mtime: Long, len: Long): Option[Entry] =
      synchronized {
        Option(map.get(key)).filter(e => e.mtime == mtime && e.len == len)
      }
    def put(key: String, e: Entry): Unit = synchronized { map.put(key, e); () }
    def invalidate(key: String): Unit = synchronized { map.remove(key); () }
    def size: Int = synchronized { map.size }
  }

  /** Live header-cache entry count (test instrumentation: the eviction
    * spec pins the 512-entry budget under many-tables churn).
    */
  private[graft] def headerCacheSize: Int = HeaderCache.size

  /** The parsed HEADER of `version` — metadata + `base=` pointer — from
    * the cache or ONE streamed read that stops at the first body line.
    * Propagates FileNotFound to callers (each owns its recovery/fallback
    * posture); throws the canonical corrupt-header error on a bad
    * `version=` tag — a truncated or wrong-version file must never answer
    * metadata questions with silently-empty TableMeta (txnVersion=None
    * would re-open an idempotent writer's exactly-once window).
    */
  private def headerEntry(spark: SparkSession, root: String,
      version: Long): HeaderCache.Entry = {
    val (fs, rootPath) = fsOf(spark, root)
    val path = new Path(rootPath, manifestName(version))
    val st = fs.getFileStatus(path)
    val key = s"${rootPath.toString}#$version"
    HeaderCache.get(key, st.getModificationTime, st.getLen).getOrElse {
      headerReadCount.incrementAndGet()
      val in = fs.open(path)
      val lines = try {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8"))
        val hdr = Seq.newBuilder[String]
        var line = r.readLine()
        var done = false
        while (line != null && !done) {
          val t = line.trim
          // MUST recognize every header key [[headerFor]] can emit:
          // omitting one (the r10 partition= regression) misclassifies
          // every delta of a table carrying that property as full, so
          // vacuum's chain guard never rewrites it and deletes its base
          // out from under it.
          if (t.nonEmpty &&
              (HeaderKeys.exists(t.startsWith) || t.startsWith("base=")))
            hdr += t
          else if (t.nonEmpty) done = true
          if (!done) line = r.readLine()
        }
        hdr.result()
      } finally in.close()
      require(lines.headOption.contains(s"version=$version"),
        s"corrupt manifest for version $version: bad header ${lines.headOption}")
      val meta = TableMeta(
        lines.find(_.startsWith("schema=")).map(l =>
          org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("schema="))
            .asInstanceOf[StructType]),
        lines.find(_.startsWith("bloom=")).map(l =>
          colsFromJson(l.stripPrefix("bloom="))).getOrElse(Nil),
        lines.find(_.startsWith("pk=")).map(l =>
          colsFromJson(l.stripPrefix("pk="))).getOrElse(Nil),
        lines.find(_.startsWith("partition=")).map(l =>
          colsFromJson(l.stripPrefix("partition="))).getOrElse(Nil),
        lines.find(_.startsWith("txn=")).map(l =>
          txnsFromJson(l.stripPrefix("txn="))).getOrElse(Map.empty),
        lines.find(_.startsWith("merge=")).exists(l =>
          mergeHintFromHeader(version, l)))
      val e = HeaderCache.Entry(st.getModificationTime, st.getLen, meta,
        lines.find(_.startsWith("base="))
          .map(_.stripPrefix("base=").trim.toLong))
      HeaderCache.put(key, e)
      e
    }
  }

  /** Driver-side resolved-parts cache, validated per hit against the
    * manifest file's (mtime, length) — manifests are write-once except
    * vacuum's chain-guard rewrite, and that mutation always changes the
    * length (delta → full; its mtime is deliberately preserved for
    * time-travel) so a stale entry can never be served. Bounds the cost of
    * chain resolution (each level hits the cache once warm) and of the
    * several manifestParts calls a verb makes per commit; at the 100-TB
    * design point it is what keeps a 10⁵-line checkpoint from being
    * re-parsed on every read of every version that chains to it.
    *
    * Budgeted by TOTAL CACHED BODY LINES, not entry count — 256 resolved
    * 10⁵-line bodies would pin gigabytes of driver heap. Keys are the
    * canonical `Path` form so read verbs (caller string) and publish paths
    * (rootPath.toString) share entries.
    */
  private object PartsCache {
    private val MaxTotalLines = 500000L
    private val map =
      new java.util.LinkedHashMap[String, (Long, Long, Seq[String], TableMeta)](
        64, 0.75f, true)
    private var totalLines = 0L
    private def weight(body: Seq[String]): Long = math.max(body.size.toLong, 1L)
    def get(key: String, mtime: Long, len: Long): Option[(Seq[String], TableMeta)] =
      synchronized {
        Option(map.get(key)).collect {
          case (m, l, body, meta) if m == mtime && l == len => (body, meta)
        }
      }
    /** Drop a key on fresh publish: a drop-and-recreate of the same root
      * can coincidentally reproduce a version's (mtime, length) on coarse
      * clocks, and the in-process publish is the one place that KNOWS the
      * file just changed identity (cross-process recreation remains
      * guarded by the status check alone).
      */
    def invalidate(key: String): Unit = synchronized {
      Option(map.remove(key)).foreach(old => totalLines -= weight(old._3))
    }
    def put(key: String, mtime: Long, len: Long, body: Seq[String],
        meta: TableMeta): Unit = synchronized {
      val w = weight(body)
      if (w > MaxTotalLines) return // one body past the whole budget: skip
      Option(map.remove(key)).foreach(old => totalLines -= weight(old._3))
      map.put(key, (mtime, len, body, meta))
      totalLines += w
      val it = map.entrySet().iterator()
      while (totalLines > MaxTotalLines && it.hasNext) {
        val e = it.next()
        totalLines -= weight(e.getValue._3)
        it.remove()
      }
    }
    def stats: (Int, Long) = synchronized { (map.size, totalLines) }
  }

  /** (entries, total cached body lines) of the parts cache — the eviction
    * spec pins the 500k-line budget and over-budget-body skip.
    */
  private[graft] def partsCacheStats: (Int, Long) = PartsCache.stats

  private[graft] def manifestParts(spark: SparkSession, root: String,
      version: Long): (Seq[String], TableMeta) = {
    val (fs, rootPath) = fsOf(spark, root)
    val path = new Path(rootPath, manifestName(version))
    val st =
      try fs.getFileStatus(path)
      catch {
        case _: java.io.FileNotFoundException =>
          // a chain-guard rewrite crashed mid-swap: the durable sidecar
          // holds this version — complete the swap and read normally
          recoverManifestRewrites(spark, fs, rootPath)
          fs.getFileStatus(path)
      }
    val key = s"${rootPath.toString}#$version"
    PartsCache.get(key, st.getModificationTime, st.getLen).getOrElse {
      val out = manifestPartsUncached(spark, root, version)
      PartsCache.put(key, st.getModificationTime, st.getLen, out._1, out._2)
      out
    }
  }

  private def manifestPartsUncached(spark: SparkSession, root: String,
      version: Long): (Seq[String], TableMeta) = {
    val (fs, rootPath) = fsOf(spark, root)
    manifestReadCount.incrementAndGet()
    val text = CommitProtocol.readFully(fs, new Path(rootPath, manifestName(version)))
    val lines = text.split('\n').map(_.trim).filter(_.nonEmpty)
    require(lines.headOption.contains(s"version=$version"),
      s"corrupt manifest for version $version: bad header ${lines.headOption}")
    // `schema=` / `bloom=` / `pk=` / `partition=` / `base=` are HEADER
    // fields ([[addColumns]], [[setBloomCols]], [[setPrimaryKey]],
    // [[setPartitionColumns]], delta form)
    val (schemaLines, rest) = lines.tail.toSeq.partition(_.startsWith("schema="))
    val (bloomLines, rest2) = rest.partition(_.startsWith("bloom="))
    val (pkLines, rest3) = rest2.partition(_.startsWith("pk="))
    val (partLines, rest4) = rest3.partition(_.startsWith("partition="))
    val (txnLines, rest5) = rest4.partition(_.startsWith("txn="))
    val (mergeLines, rest6) = rest5.partition(_.startsWith("merge="))
    val (baseLines, rawBody) = rest6.partition(_.startsWith("base="))
    val meta = TableMeta(
      schemaLines.headOption.map(l =>
        org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("schema="))
          .asInstanceOf[StructType]),
      bloomLines.headOption.map(l => colsFromJson(l.stripPrefix("bloom=")))
        .getOrElse(Nil),
      pkLines.headOption.map(l => colsFromJson(l.stripPrefix("pk=")))
        .getOrElse(Nil),
      partLines.headOption.map(l => colsFromJson(l.stripPrefix("partition=")))
        .getOrElse(Nil),
      txnLines.headOption.map(l => txnsFromJson(l.stripPrefix("txn=")))
        .getOrElse(Map.empty),
      mergeLines.headOption.exists(l => mergeHintFromHeader(version, l)))
    val body = baseLines.headOption match {
      case None => rawBody
      case Some(bl) =>
        // DELTA manifest: body = base version's RESOLVED body, minus `-`
        // rels, with `+` lines put in place (replacing a changed entry's
        // line, appending a new one). Meta never chains — every manifest
        // carries its full header. Chain depth < checkpointInterval by
        // construction; the base manifest survives vacuum until every
        // retained dependent is rewritten full ([[vacuum]]'s chain guard).
        val base = bl.stripPrefix("base=").trim.toLong
        val (baseBody, _) = manifestParts(spark, root, base)
        val acc = new java.util.LinkedHashMap[String, String]()
        baseBody.foreach(l => acc.put(relOf(l), l))
        rawBody.foreach { l =>
          if (l.startsWith("-\t")) acc.remove(l.stripPrefix("-\t"))
          else if (l.startsWith("+\t")) {
            val e = l.stripPrefix("+\t"); acc.put(relOf(e), e)
          } else throw new IllegalStateException(
            s"corrupt delta manifest for version $version: body line " +
              s"without +/- op: ${l.take(80)}")
        }
        import scala.jdk.CollectionConverters._
        acc.values.asScala.toSeq
    }
    (body, meta)
  }

  /** Render the manifest content for version `next` whose RESOLVED body is
    * `fullLines`: churn-sized DELTA against the previous version when that
    * is strictly smaller, FULL at every [[checkpointInterval]] boundary
    * (the checkpoint that bounds read chains) and for version 0. The
    * Delta-log/Iceberg shape: without it, a 10⁵-file table re-writes — and
    * a metadata-only verb re-parses — one multi-hundred-MB file list per
    * commit; with it, commits write O(churn) lines and reads resolve
    * through at most one checkpoint + interval-1 tails.
    */
  private def manifestText(spark: SparkSession, root: String, next: Long,
      meta: TableMeta, fullLines: Seq[String]): String = {
    val header = headerFor(next, meta)
    def full = header + fullLines.mkString("", "\n", "\n")
    val interval = checkpointInterval(spark)
    if (next == 0 || interval <= 1 || next % interval == 0) return full
    val base = next - 1
    val prior =
      try manifestParts(spark, root, base)._1
      catch { case scala.util.control.NonFatal(_) => return full }
    val priorByRel = prior.map(l => relOf(l) -> l)
    val priorMap = priorByRel.toMap
    val fullRels = fullLines.iterator.map(relOf).toSet
    val removed = priorByRel.collect { case (r, _) if !fullRels(r) => s"-\t$r" }
    val added = fullLines.filter(l => !priorMap.get(relOf(l)).contains(l))
      .map(l => s"+\t$l")
    val ops = removed ++ added
    if (ops.size >= fullLines.size) full
    else header + (s"base=$base" +: ops).mkString("", "\n", "\n")
  }

  /** Body-line floor below which no parquet checkpoint twin is written —
    * a driver parse of a few thousand lines is faster than any Spark job,
    * so the distributed artifact only earns its write at the 10⁴-10⁶-file
    * scale it exists for. Overridable via
    * `graft.manifest.parquetCheckpointMinLines` (specs set it low).
    */
  private val ParquetCheckpointMinLinesDefault = 10000
  private def parquetCheckpointMinLines(spark: SparkSession): Int =
    spark.conf.getOption("graft.manifest.parquetCheckpointMinLines")
      .map(_.toInt).getOrElse(ParquetCheckpointMinLinesDefault)

  /** Floor for [[publishEdits]]' full-vs-delta probe. The probe costs one
    * Spark job (a count of the composed body frame), so unlike the text
    * path's free in-memory comparison it must not run per tiny commit: it
    * engages only for edit sets big enough in absolute terms that a
    * body-sized delta is a plausible outcome worth preventing. Kept a
    * SEPARATE knob from `parquetCheckpointMinLines` — tests pin the twin
    * floor to 1 to force twins on tiny tables, and reusing that value here
    * would charge every 2-op append on such a table a probe job.
    */
  private val BroadEditProbeFloorDefault = 1024
  private def broadEditProbeFloor(spark: SparkSession): Int =
    math.max(
      spark.conf.getOption("graft.manifest.broadEditProbeFloor")
        .map(_.toInt).getOrElse(BroadEditProbeFloorDefault), 1)

  /** Diagnostic counter: pruned reads answered through the DISTRIBUTED
    * checkpoint-frame path (specs assert the fast path actually ran).
    */
  private[graft] val ckptFramePrunes = new java.util.concurrent.atomic.AtomicLong

  /** Best-effort parquet TWIN of a checkpoint manifest — the distributed
    * read path's anchor. The text manifest stays the commit source of
    * truth (one atomic file publish); at every checkpoint boundary whose
    * body is at least [[parquetCheckpointMinLines]] lines, the winning
    * publisher also writes `_ckpt/v<version>/` parquet with one row per
    * body line (`rel`, `line`). Readers then resolve the body as a
    * DataFrame — checkpoint frame + churn-sized delta tails — and run
    * stats-pruning on EXECUTORS, so a 10⁵-10⁶-file body is never
    * materialized as driver strings for a pruned read
    * ([[bodyLinesFrame]]). Content is a deterministic function of the
    * published manifest and the publish is an atomic dir rename, so the
    * twin's existence implies it is complete and correct; a failure here
    * only costs the fast path (reads fall back to the text manifest) and
    * must never fail the already-published commit.
    */
  private def maybeCheckpointParquet(spark: SparkSession, root: String,
      next: Long, fullLines: Seq[String]): Unit = try {
    val interval = checkpointInterval(spark)
    if (interval <= 1 || fullLines.isEmpty ||
        fullLines.size < parquetCheckpointMinLines(spark)) return
    // key on what was PUBLISHED, not on boundary arithmetic: an
    // off-boundary FULL manifest (any commit whose churn reaches body
    // size — compaction, near-total rewrites) is just as much a chain
    // anchor as a boundary checkpoint, and a twin-less anchor demotes
    // every pruned read to the driver path until the next boundary. One
    // header probe answers full-vs-delta. interval<=1 stays the explicit
    // all-machinery-off posture.
    if (manifestBase(spark, root, next).isDefined) return // delta — no anchor
    writeCheckpointParquet(spark, root, next, fullLines)
  } catch { case scala.util.control.NonFatal(e) =>
    // the COMMIT is already durable when this hook runs: nothing in it —
    // the conf parse, the full-vs-delta header probe, the twin write —
    // may propagate a failure out of the publish verb (a caller retrying
    // the "failed" verb would double-apply a non-idempotent append). A
    // failure here only costs the distributed fast path.
    graft.core.Logging.logger().warn(
      s"parquet checkpoint hook for version $next of $root failed (the " +
        s"manifest is already durable; reads fall back to the text " +
        s"path): ${e.getMessage}")
  }

  /** The twin write itself, gate-free — shared by the boundary-publish
    * hook above and vacuum's chain-guard rewrite (whose delta→full swap
    * creates an off-boundary FULL anchor: without a twin it would demote
    * every subsequent pruned read to the driver path until the next
    * boundary). Best-effort always: a failure costs only the fast path.
    */
  private def writeCheckpointParquet(spark: SparkSession, root: String,
      version: Long, fullLines: Seq[String]): Unit = {
    import spark.implicits._
    val parts = math.max(1, fullLines.size / 500000)
    writeCheckpointParquetFrame(spark, root, version,
      spark.createDataset(fullLines).repartition(parts)
        .map(l => (l.split('\t').head, l)).toDF("rel", "line"))
  }

  /** [[writeCheckpointParquet]] from an already-distributed body frame
    * (`rel`, `line`) — the edits path's boundary twin, where the body
    * never existed as driver strings to begin with.
    */
  private def writeCheckpointParquetFrame(spark: SparkSession, root: String,
      version: Long, frame: DataFrame): Unit = {
    try {
      val (fs, rootPath) = fsOf(spark, root)
      val dest = ckptDir(rootPath, version)
      if (fs.exists(dest)) {
        // a twin that still anchors the live manifest is complete — done.
        // A STALE one (manifests dropped and recreated under a surviving
        // _ckpt) must be REPLACED here, or it squats the slot forever:
        // vacuum only reclaims doomed versions' twins, so without this
        // sweep every read chaining to this anchor would demote to the
        // driver path permanently — the self-repair the stamp promises.
        if (twinAnchorsManifest(fs, rootPath, version, dest)) return
        fs.delete(dest, true)
      }
      val stage = new Path(rootPath,
        new Path("_ckpt_stage", java.util.UUID.randomUUID.toString))
      frame.select("rel", "line").write.parquet(stage.toString)
      // stamp the ANCHOR MANIFEST'S IDENTITY — (byte length, mtime), the
      // same pair PartsCache/HeaderCache validate with — into the twin
      // before the atomic publish: if the root's manifests are ever
      // dropped and recreated while a stale `_ckpt` survives,
      // [[bodyLinesFrame]] must detect the orphaned twin and fall back to
      // the text path instead of silently serving the OLD table's body.
      // Length alone is NOT enough: a same-shape reload (fixed-width
      // nonced file names, near-identical stats) can reproduce the byte
      // count; mtime is immutable for anchors (only the vacuum rewrite
      // ever replaces a manifest, and it stamps AFTER restoring the
      // recorded publish instant). Underscore-prefixed, so parquet
      // readers of the dir ignore it.
      val anchorSt =
        fs.getFileStatus(new Path(rootPath, manifestName(version)))
      val out = fs.create(new Path(stage, "_anchor"), false)
      try out.write(
        s"len=${anchorSt.getLen},mtime=${anchorSt.getModificationTime}\n"
          .getBytes("UTF-8")) finally out.close()
      CommitProtocol.publishDir(fs, stage, dest)
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      graft.core.Logging.logger().warn(
        s"parquet checkpoint for version $version of $root failed (the " +
          s"manifest is already durable; reads fall back to the text " +
          s"path): ${e.getMessage}")
    }
  }

  /** True iff the twin at `dir` provably anchors the CURRENT manifest of
    * `version`: its recorded anchor identity — (byte length, mtime),
    * stamped at twin-write time — matches the live file. A twin without
    * a stamp, with a mismatched one, or with an old/unknown stamp format
    * is treated as orphaned — reads fall back to the authoritative text
    * path, which also self-repairs (the next boundary publish writes a
    * fresh twin).
    */
  private def twinAnchorsManifest(fs: FileSystem, rootPath: Path,
      version: Long, dir: Path): Boolean = {
    val stampPath = new Path(dir, "_anchor")
    if (!fs.exists(stampPath)) return false
    val stamped = CommitProtocol.readFully(fs, stampPath).trim
    val st = fs.getFileStatus(new Path(rootPath, manifestName(version)))
    stamped == s"len=${st.getLen},mtime=${st.getModificationTime}"
  }

  /** The RESOLVED body of `version` as a DISTRIBUTED frame (`rel`,
    * `line`), when a parquet checkpoint twin anchors its delta chain:
    * the chain is walked by HEADER only (delta manifests are churn-sized
    * and read whole; a full manifest is never read — its parquet twin is
    * the anchor), tail edits compose driver-side into a churn-bounded
    * edit map, and the result is checkpoint-frame ANTI-JOIN edited rels
    * UNION added lines — the full file list never exists on the driver.
    * None when no twin anchors the chain (off-boundary full manifests,
    * sub-floor bodies, a crashed twin write) — callers fall back to the
    * driver-parsed path, which is also the FASTER path at those sizes.
    * Row order is not the manifest's; no consumer of a body frame may
    * depend on line order.
    */
  private[graft] def bodyLinesFrame(spark: SparkSession, root: String,
      version: Long): Option[DataFrame] = try {
    val (fs, rootPath) = fsOf(spark, root)
    // walk to the anchor by HEADER PROBES ONLY first — the common case is
    // a twin-less table (sub-floor body, clone, post-rewrite anchor), and
    // it must not pay a full read of every delta in the chain just to
    // discover there is no twin and fall back
    var v = version
    val chain = scala.collection.mutable.ArrayBuffer[Long]() // newest first
    var anchor = -1L
    // chain depth < checkpointInterval by construction — bound the walk at
    // that invariant (floored for tiny intervals) so a corrupt or cyclic
    // base= chain returns None (text path raises the canonical error)
    // instead of spinning the driver forever
    val maxDepth = math.max(checkpointInterval(spark), 64)
    while (anchor < 0) {
      if (chain.size > maxDepth) return None
      manifestBase(spark, root, v) match {
        case Some(b) => chain += v; v = b
        case None => anchor = v
      }
    }
    val dir = ckptDir(rootPath, anchor)
    if (!fs.exists(dir)) return None
    // orphaned-twin guard: the stamp written at twin-publish time must
    // match the LIVE anchor manifest, else the manifests were recreated
    // under a surviving _ckpt and the frame describes a dead table
    if (!twinAnchorsManifest(fs, rootPath, anchor, dir)) return None
    // twin confirmed: read the churn-sized delta tails. A body line that
    // is neither header nor a +/- op is CORRUPTION — the driver path
    // throws on it ([[manifestPartsUncached]]), and the distributed path
    // must not quietly compose a partial body instead; the throw lands in
    // the NonFatal handler below → None → the authoritative path raises
    // the canonical error
    val tails = chain.map { dv =>
      val text = CommitProtocol.readFully(fs, new Path(rootPath, manifestName(dv)))
      text.split('\n').map(_.trim).filter(_.nonEmpty).flatMap { l =>
        if (l.startsWith("-\t") || l.startsWith("+\t")) Some(l)
        else if (HeaderKeys.exists(l.startsWith) || l.startsWith("base=")) None
        else throw new IllegalStateException(
          s"corrupt delta manifest for version $dv: body line without " +
            s"+/- op: ${l.take(80)}")
      }.toSeq
    }
    val ckpt = spark.read.parquet(dir.toString)
    // replay ops oldest→newest into one last-write-wins edit map:
    // None = removed, Some(line) = added or replaced
    val edits = new java.util.LinkedHashMap[String, Option[String]]()
    tails.reverseIterator.foreach(t => replayOpsInto(edits, t))
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val editedRels = edits.keySet.asScala.toSeq
    val added = edits.values.asScala.toSeq.flatten
    val base =
      if (editedRels.isEmpty) ckpt
      else ckpt.join(
        org.apache.spark.sql.functions.broadcast(editedRels.toDF("rel")),
        Seq("rel"), "left_anti")
    Some(
      if (added.isEmpty) base.select("rel", "line")
      else base.select("rel", "line").unionByName(
        added.map(l => (relOf(l), l)).toDF("rel", "line")))
  } catch { case scala.util.control.NonFatal(_) =>
    None // derived fast path only — the text-manifest path is authoritative
  }

  /** The table metadata of `version` from the manifest HEADER alone —
    * streams header lines and stops at the first body line, so a
    * checkpoint-sized manifest costs a few KB of driver reads instead of
    * a full parse (every manifest, full or delta, carries its complete
    * header). The distributed read path's metadata companion.
    */
  private[graft] def manifestMetaOnly(spark: SparkSession, root: String,
      version: Long): TableMeta = {
    // one cached header entry serves every accessor ([[headerEntry]] —
    // corruption guard and parse live there); FileNotFound means a
    // mid-swap chain-guard rewrite: complete it, then read normally
    try headerEntry(spark, root, version).meta
    catch {
      case _: java.io.FileNotFoundException =>
        val (fs, rootPath) = fsOf(spark, root)
        recoverManifestRewrites(spark, fs, rootPath)
        headerEntry(spark, root, version).meta
    }
  }

  /** Surviving raw body lines of a checkpoint `frame` under `pred`,
    * stats-evaluated on EXECUTORS — the driver receives only the
    * survivors. Exactly [[ManifestStats.prune]]'s decision per line
    * (stats-less lines always survive), shipped to where the metadata
    * lives.
    */
  private def pruneFrame(spark: SparkSession, frame: DataFrame,
      pred: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] = {
    import spark.implicits._
    val kept = frame.select("line").as[String].filter { line =>
      val e = parseLine(line)
      e.stats.forall(j =>
        ManifestStats.mayMatch(pred, ManifestStats.fromJson(j)))
    }.collect().toSeq
    ckptFramePrunes.incrementAndGet()
    kept
  }

  /** The table schema for a distributed pruned read: the RECORDED one, or
    * the footer of ONE line pulled off the frame (one footer read on the
    * driver, no job) — never a driver materialization of the body. None
    * only for an empty body with no recorded schema (callers fall back to
    * the driver path's canonical error).
    */
  private def frameSchema(spark: SparkSession, root: String,
      meta: TableMeta, frame: DataFrame): Option[StructType] =
    tableSchema(spark, root, meta.schema, frame.select("line")
      .as[String](org.apache.spark.sql.Encoders.STRING).head(1).headOption)

  /** The shared DISTRIBUTED fast path of [[readWhere]]/[[prunedFiles]]:
    * `(meta, schema, surviving raw lines)` resolved through the
    * checkpoint frame with stats pruning on executors, or None — no twin
    * anchors the version, the body is empty with no recorded schema, or
    * anything in the derived path failed — in which case the caller runs
    * the authoritative driver-parsed path.
    */
  private def distributedPrune(spark: SparkSession, root: String,
      version: Long, predicate: org.apache.spark.sql.Column)
      : Option[(TableMeta, StructType, Seq[String])] =
    try bodyLinesFrame(spark, root, version).flatMap { frame =>
      val meta = manifestMetaOnly(spark, root, version)
      frameSchema(spark, root, meta, frame).map { schema =>
        val pred = ManifestStats.resolvePredicate(spark, schema, predicate)
        (meta, schema, pruneFrame(spark, frame, pred))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The DML twin of [[distributedPrune]]: classify every body line on
    * EXECUTORS into no-match (pruned), MAY-match (`affected` — must be
    * read and rewritten), and — when `proven` — MUST-match (`dropped` —
    * deletable by metadata alone). The driver receives only the lines the
    * verb has to touch anyway; for a selective predicate that is churn,
    * not body. None when no twin anchors the version or anything in the
    * derived path fails (callers run the authoritative driver path).
    */
  private def distributedClassify(spark: SparkSession, root: String,
      version: Long, predicate: org.apache.spark.sql.Column, proven: Boolean)
      : Option[(TableMeta, StructType, DataFrame, Seq[String], Seq[String])] =
    try bodyLinesFrame(spark, root, version).flatMap { frame =>
      val meta = manifestMetaOnly(spark, root, version)
      frameSchema(spark, root, meta, frame).map { schema =>
        val pred = ManifestStats.resolvePredicate(spark, schema, predicate)
        import spark.implicits._
        val survivors = frame.select("line").as[String].map { line =>
          val s = parseLine(line).stats.map(ManifestStats.fromJson)
          val may = s.forall(ManifestStats.mayMatch(pred, _))
          val must = proven && s.exists(ManifestStats.mustMatch(pred, _))
          (line, may, must)
        }.filter(_._2).collect()
        ckptFramePrunes.incrementAndGet()
        (meta, schema, frame,
          survivors.collect { case (l, _, false) => l }.toSeq,
          survivors.collect { case (l, _, true) => l }.toSeq)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The winner's edits between `base` (exclusive) and `winner`
    * (inclusive) composed last-write-wins per rel — rel → None (removed) /
    * Some(line) (added or replaced) — read from the churn-sized delta
    * TAILS alone. This is what lets the edits-path rebase gate a conflict
    * window without resolving either body: the winner's diff against OUR
    * base IS the tail. None when any manifest in the window is full-form,
    * breaks the `base=v-1` chain, or fails to read — unprovable, callers
    * treat it as a conflict.
    */
  private def tailEditsBetween(spark: SparkSession, root: String,
      base: Long, winner: Long): Option[Seq[(String, Option[String])]] = try {
    if (winner <= base) return Some(Nil)
    if (winner - base > math.max(checkpointInterval(spark), 64).toLong)
      return None // window crosses a boundary by construction — unprovable here
    val (fs, rootPath) = fsOf(spark, root)
    val acc = new java.util.LinkedHashMap[String, Option[String]]()
    var v = base + 1
    while (v <= winner) {
      val text = CommitProtocol.readFully(fs, new Path(rootPath, manifestName(v)))
      val lines = text.split('\n').map(_.trim).filter(_.nonEmpty)
      if (!lines.headOption.contains(s"version=$v")) return None
      if (!lines.contains(s"base=${v - 1}")) return None // full form / odd chain
      val (ops, rest) = lines.tail.partition(l =>
        l.startsWith("-\t") || l.startsWith("+\t"))
      if (!rest.forall(l =>
          HeaderKeys.exists(l.startsWith) || l.startsWith("base=")))
        return None // stray body line — corrupt; the text path will raise
      replayOpsInto(acc, ops)
      v += 1
    }
    import scala.jdk.CollectionConverters._
    Some(acc.asScala.toSeq)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** [[rebaseLoop]]'s churn-bounded twin: the same soundness gates — winner
    * metadata unchanged (header-only), every `mustSurvive` line untouched,
    * every winner-added/changed line passes `winnerLineOk`, composed
    * basenames unique — evaluated from the delta TAILS and a broadcast
    * join over the winner's body frame, never a driver body. Anything
    * unprovable (a boundary in the window, a twin-less winner) rethrows
    * for the caller's full re-run; correctness never depends on this path.
    */
  private def rebaseLoopEdits(spark: SparkSession, root: String, op: String,
      baseVersion: Long, frame0: DataFrame, edits: BodyEdits,
      meta: TableMeta, gateMeta: TableMeta,
      mustSurvive: Map[String, String], winnerLineOk: String => Boolean,
      emptySchema: Option[StructType], maxRebases: Int = 5): Long = {
    var v = baseVersion
    var frame = frame0
    var curMeta = meta
    var attempts = 0
    while (true) {
      // THE EMPTYING CONTRACT on the composed FINAL body ([[rebaseLoop]]):
      // only a pure-removal edit set can empty it — one distributed count
      // answers whether it does, and only that narrow shape pays it
      val pubMeta =
        if (edits.upserts.nonEmpty || edits.removedRels.isEmpty ||
            curMeta.schema.nonEmpty) curMeta
        else if (frame.count() > edits.removedRels.size) curMeta
        else curMeta.copy(schema = Some(emptySchema.getOrElse(
          throw new IllegalStateException(
            s"$op: rewrite would publish an empty snapshot with no " +
              s"resolvable schema for $root — refusing to brick the table"))))
      try return publishEdits(spark, root, v + 1, frame, edits, op, pubMeta)
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts > maxRebases) throw e
          val wv = currentVersion(spark, root).getOrElse(throw e)
          val tail = tailEditsBetween(spark, root, v, wv).getOrElse(throw e)
          val wMeta =
            try manifestMetaOnly(spark, root, wv)
            catch { case scala.util.control.NonFatal(_) => throw e }
          // TXN records adopt from the winner, everything else must match
          // exactly ([[rebaseLoop]]'s gate, for the same reasons)
          val metaOk =
            wMeta.copy(txns = Map.empty) == gateMeta.copy(txns = Map.empty)
          val surviveOk = tail.forall { case (rel, fin) =>
            mustSurvive.get(rel).forall(line => fin.contains(line)) }
          val winnerOk = tail.forall { case (_, fin) => fin.forall(winnerLineOk) }
          if (!(metaOk && surviveOk && winnerOk)) throw e
          val wFrame = bodyLinesFrame(spark, root, wv).getOrElse(throw e)
          if (!editsBasenamesUnique(spark, wFrame, edits)) throw e
          curMeta = meta.copy(txns = wMeta.txns)
          graft.core.Logging.logger().info(
            s"$op: lost the race for version ${v + 1} on $root — winner is " +
              s"file-disjoint and predicate-disjoint (proven from its delta " +
              s"tail), rebasing the staged work onto version $wv")
          v = wv
          frame = wFrame
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[distributedClassify]] for callers outside this object (the keyed
    * MERGE): `(meta, schema, body frame, affected lines)` — the MAY-match
    * candidates only, churn-sized for a selective predicate.
    */
  private[graft] def classifyAffected(spark: SparkSession, root: String,
      version: Long, predicate: org.apache.spark.sql.Column)
      : Option[(TableMeta, StructType, DataFrame, Seq[String])] =
    distributedClassify(spark, root, version, predicate, proven = false)
      .map { case (m, s, f, a, _) => (m, s, f, a) }

  /** [[classifyAffected]]'s predicate-free form for PURE-INSERT batches:
    * `(meta, schema, body frame)` with NO classification job — nothing
    * can be affected by fiat, and running the classifier with a
    * known-false predicate would be worse than wasted work: stats-LESS
    * lines may-match ANY predicate, so a stats-less table would classify
    * every file affected and a pure insert would rewrite the world.
    */
  private[graft] def frameWithSchema(spark: SparkSession, root: String,
      version: Long): Option[(TableMeta, StructType, DataFrame)] =
    try bodyLinesFrame(spark, root, version).flatMap { frame =>
      val meta = manifestMetaOnly(spark, root, version)
      frameSchema(spark, root, meta, frame).map(s => (meta, s, frame))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[publishVersionRebased]]'s churn-bounded twin: stage `df` once, then
    * publish through [[rebaseLoopEdits]] — removed lines become `-` ops,
    * staged lines `+` ops, and a lost race gates through the winner's
    * delta tail instead of a driver body.
    */
  private[graft] def publishVersionEditsRebased(spark: SparkSession,
      root: String, next: Long, df: DataFrame, statsCols: Seq[String],
      frame: DataFrame, removedLines: Seq[String], op: String,
      meta: TableMeta,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    val (_, newLines) = writeDataFiles(spark, fs, rootPath, next, df,
      statsCols, meta)
    rebaseLoopEdits(spark, root, op, next - 1, frame,
      BodyEdits(removedLines.map(relOf), newLines), meta, meta,
      mustSurvive = removedLines.map(l => relOf(l) -> l).toMap,
      winnerLineOk = statsDisjoint(resolved),
      emptySchema = Some(df.schema))
  }

  private[graft] def manifestBody(spark: SparkSession, root: String,
      version: Long): Seq[String] =
    manifestParts(spark, root, version)._1

  /** ONE arbitrary body line of `version` — churn-bounded when a twin
    * anchors the chain (frame `head(1)`, the body never reaches the
    * driver), driver-parsed otherwise. None for an empty body. For the
    * schema-from-one-footer pattern on paths that need nothing else.
    */
  private[graft] def sampleBodyLine(spark: SparkSession, root: String,
      version: Long): Option[String] =
    bodyLinesFrame(spark, root, version) match {
      case Some(frame) =>
        import spark.implicits._
        frame.select("line").as[String].head(1).headOption
      case None => manifestBody(spark, root, version).headOption
    }

  /** The RECORDED table schema of `version`, if any — the source of truth
    * once [[addColumns]] has widened the table beyond what any single
    * data file carries. HEADER-ONLY driver metadata ([[manifestMetaOnly]]
    * streams a few KB and never resolves the body, whatever the file
    * count); never lists or footers the data files.
    */
  def manifestSchema(spark: SparkSession, root: String,
      version: Long): Option[StructType] =
    manifestMetaOnly(spark, root, version).schema

  /** The bloom-indexed columns recorded for `version` (empty when the
    * table carries no bloom property) — header-only driver metadata.
    */
  def bloomCols(spark: SparkSession, root: String, version: Long): Seq[String] =
    manifestMetaOnly(spark, root, version).bloomCols


  /** Absolute data-file path of one manifest body line. */
  private[graft] def bodyFile(root: String, line: String): String =
    new Path(new Path(root), line.split('\t').head).toString

  /** Per-file stats parsed out of manifest body lines, keyed by file name
    * (stats-less lines simply don't appear — they never prune).
    */
  private[graft] def bodyStats(body: Seq[String]): Map[String, ManifestStats.FileStats] =
    bodyStatsOf(body.map(parseLine))

  /** [[bodyStats]] over ALREADY-parsed entries — callers holding the parse
    * must not pay it twice (200k line parses on a 100k-file manifest).
    */
  private[graft] def bodyStatsOf(entries: Seq[ManifestEntry])
      : Map[String, ManifestStats.FileStats] =
    entries.flatMap(e =>
      e.stats.map(json => new Path(e.rel).getName -> ManifestStats.fromJson(json))).toMap

  /** Stage `df` and atomically publish it as version `next` together with
    * `keptLines` carried verbatim — the copy-on-write commit entry point
    * for operators OUTSIDE this object ([[graft.operators.Upsert.mergeWhere]]);
    * [[deleteWhere]]/[[updateWhere]] go through the same path internally.
    */
  private[graft] def publishVersion(spark: SparkSession, root: String,
      next: Long, df: DataFrame, statsCols: Seq[String],
      keptLines: Seq[String], op: String,
      meta: TableMeta): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    stageAndPublish(spark, fs, rootPath, next, df, statsCols, keptLines,
      op, requireFiles = false, meta = meta)
  }

  /** MERGE-ON-READ DELETE — [[deleteWhere]]'s deferred twin (Delta/Iceberg
    * deletion vectors, on this engine's manifest): instead of rewriting
    * the affected data files, the matching rows' `(file_name, row_index)`
    * positions are written to a small DV sidecar parquet and each
    * affected file's manifest line gains a `dv=` reference — the data
    * bytes are untouched and every reader ([[read]], [[readWhere]],
    * [[changesBetween]], the DML rewrites, [[graft.operators.Upsert
    * .mergeWhere]]) anti-joins the DV away. Cost: one scan of the
    * stats-admitted files + a DV write proportional to the MATCHES —
    * high-frequency small deletes stop paying a full file rewrite each
    * (the CoW pain point at 100 TB); reads on DV'd files pay a broadcast
    * anti-join until [[foldDeletes]] or any CoW rewrite of the file
    * materializes the deletions. A file already carrying a DV gets a
    * MERGED sidecar (old ∪ new positions — one `dv=` ref per line).
    *
    * Same SQL DELETE semantics as [[deleteWhere]] (NULL-predicate rows
    * kept), same no-op short-circuit, same atomic manifest publish; the
    * deleted rows stay readable in superseded versions until [[vacuum]]
    * (which treats live DV sidecars as reachable).
    *
    * The position pipeline is DISTRIBUTED end-to-end: matches and prior
    * sidecars stay DataFrames (old ∪ new = union+distinct in the
    * cluster), the merged sidecar is written by a Spark job, and the
    * driver only ever sees two scalars (the position count, the
    * affected-file-bounded basename set). `maxDvPositions` bounds the
    * MASKED regime: past it the verb degrades LOUDLY to the CoW twin
    * ([[deleteWhere]]) — a predicate matching that much of the table
    * should rewrite files once, not tax every subsequent read with a
    * fat anti-join.
    *
    * @return the committed version (unchanged if nothing matched)
    */
  def deleteWhereMoR(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      maxDvPositions: Long = DefaultMaxDvPositions): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(maxDvPositions >= 1, "maxDvPositions must be >= 1")
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"deleteWhereMoR: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    if (body.isEmpty) return v
    val files = body.map(bodyFile(root, _))
    val schema = tableSchema(spark, root, meta.schema, body.headOption).get
    val resolved = ManifestStats.resolvePredicate(spark, schema, predicate)
    val affected = ManifestStats.prune(files, bodyStats(body), resolved).toSet
    if (affected.isEmpty) return v
    val entriesWithFiles = body.map(parseLine).zip(files)
    val affectedEntries = entriesWithFiles.collect { case (e, f) if affected(f) => e }
    // positions attach on the raw scan; the old sidecars — read ONCE — are
    // anti-joined away so already-deleted rows can't match again
    // the old sidecar frame feeds FOUR consumers (the alive anti-join,
    // the size count, the basename collect, the sidecar write) — persist
    // pins one materialization of its scan+distinct
    val oldDv = entryDvPositionsDf(spark, root, affectedEntries)
      .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val (alive, fCol, rCol) =
      readEntriesWithPositions(spark, root, affectedEntries, oldDv, meta.schema)
    val newMatches = alive.filter(coalesce(predicate, lit(false)))
      .select(col(fCol).alias("file_name"), col(rCol).alias("row_index"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nNew = newMatches.count()
      if (nNew == 0) return v
      // old and new are DISJOINT by construction (`alive` already
      // anti-joined the old sidecars away) and each side is unique
      // (physical positions / a distinct sidecar read), so the merged
      // size is the exact SUM — the cap decides BEFORE any union work,
      // and the union itself needs no distinct shuffle
      val nOld = oldDv.map(_.count()).getOrElse(0L)
      if (nNew + nOld > maxDvPositions) {
        graft.core.Logging.logger().warn(
          s"deleteWhereMoR: merged deletion vector would hold ${nNew + nOld} " +
            s"positions (> maxDvPositions=$maxDvPositions) — degrading to " +
            "the copy-on-write rewrite (deleteWhere)")
        return deleteWhere(spark, root, predicate)
      }
      val dvDf = oldDv.map(newMatches.unionByName(_)).getOrElse(newMatches)
      // bounded by the files the sidecars mention: the affected set plus
      // any file still sharing an old sidecar with one of them
      val dvFileNames = dvDf.select(col("file_name")).distinct()
        .collect().map(_.getString(0)).toSet
      val dvFile = writeDvSidecar(spark, root, v + 1, dvDf)
      publishRetaggedRebased(spark, root, "deleteWhereMoR", v, body, meta,
        retagMap(body, entriesWithFiles, affected, dvFileNames, dvFile),
        None, Nil, resolved)
    } finally {
      newMatches.unpersist(false)
      oldDv.foreach(_.unpersist(false))
    }
  }

  /** MERGE-ON-READ UPDATE — [[deleteWhereMoR]] + post-image append (the
    * Delta MoR-update shape): matching rows' positions go to the deletion
    * vector AND their updated images (same SQL UPDATE semantics as
    * [[updateWhere]]: `assignments` evaluate on the pre-update row, cast
    * back to the column's original type) are appended as NEW data files.
    * Cost ∝ matches, not affected-file bytes; readers see the update
    * immediately through the same DV anti-join + the appended files.
    * [[foldDeletes]]/CoW rewrites/compaction materialize as usual.
    * Positions stay distributed exactly as in [[deleteWhereMoR]], with
    * the same `maxDvPositions` loud degrade to the CoW twin
    * ([[updateWhere]]).
    *
    * @return the committed version (unchanged if nothing matched)
    */
  def updateWhereMoR(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil,
      maxDvPositions: Long = DefaultMaxDvPositions): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(assignments.nonEmpty, "updateWhereMoR: no SET assignments")
    require(maxDvPositions >= 1, "maxDvPositions must be >= 1")
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"updateWhereMoR: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    if (body.isEmpty) return v
    val files = body.map(bodyFile(root, _))
    val schema = tableSchema(spark, root, meta.schema, body.headOption).get
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"updateWhereMoR: SET column '$c' not in ${schema.fieldNames.mkString(", ")}"))
    val resolved = ManifestStats.resolvePredicate(spark, schema, predicate)
    val affected = ManifestStats.prune(files, bodyStats(body), resolved).toSet
    if (affected.isEmpty) return v
    val entriesWithFiles = body.map(parseLine).zip(files)
    val affectedEntries = entriesWithFiles.collect { case (e, f) if affected(f) => e }
    val oldDv = entryDvPositionsDf(spark, root, affectedEntries)
      .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val (alive, fCol, rCol) =
      readEntriesWithPositions(spark, root, affectedEntries, oldDv, meta.schema)
    val matched = alive.filter(coalesce(predicate, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (matched.isEmpty) return v
      // post-images: assignments on the PRE-update row, original types kept
      val postImages = matched.select(schema.fieldNames.toSeq.map { c =>
        assignments.get(c)
          .map(e => e.cast(schema(c).dataType).alias(c))
          .getOrElse(col(s"`$c`"))
      }: _*)
      val newPositions = matched
        .select(col(fCol).alias("file_name"), col(rCol).alias("row_index"))
      // disjoint-by-construction sizing, no distinct shuffle — see
      // deleteWhereMoR
      val nNew = newPositions.count()
      val nOld = oldDv.map(_.count()).getOrElse(0L)
      if (nNew + nOld > maxDvPositions) {
        graft.core.Logging.logger().warn(
          s"updateWhereMoR: merged deletion vector would hold ${nNew + nOld} " +
            s"positions (> maxDvPositions=$maxDvPositions) — degrading to " +
            "the copy-on-write rewrite (updateWhere)")
        return updateWhere(spark, root, predicate, assignments, statsCols)
      }
      val dvDf = oldDv.map(newPositions.unionByName(_)).getOrElse(newPositions)
      val dvFileNames = dvDf.select(col("file_name")).distinct()
        .collect().map(_.getString(0)).toSet // affected ∪ sidecar-sharing files
      val dvFile = writeDvSidecar(spark, root, v + 1, dvDf)
      publishRetaggedRebased(spark, root, "updateWhereMoR", v, body, meta,
        retagMap(body, entriesWithFiles, affected, dvFileNames, dvFile),
        Some(postImages), statsCols, resolved)
    } finally {
      matched.unpersist(false)
      oldDv.foreach(_.unpersist(false))
    }
  }

  /** Materialize every outstanding deletion vector as a copy-on-write
    * rewrite of just the DV'd files — the maintenance verb that ends the
    * read-side anti-join ([[deleteWhereMoR]]'s fold step, Delta's PURGE).
    * Kept lines carry verbatim; no-op (current version) when no file
    * carries a DV. Stats are INHERITED by default (`None` — the columns
    * the current manifest records, as [[compactSnapshot]] does), so
    * routine maintenance never silently strips pruning power; pass
    * `Some(cols)` to change the set or `Some(Nil)` to drop stats.
    */
  def foldDeletes(spark: SparkSession, root: String,
      statsCols: Option[Seq[String]] = None): Long = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"foldDeletes: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    val entries = body.map(parseLine)
    val dvd = entries.filter(_.dvRel.isDefined)
    if (dvd.isEmpty) return v
    val cols = statsCols.getOrElse(bodyStats(body)
      .values.flatMap(_.cols.keys).toSeq.distinct.sorted)
    val keptLines = entries.filter(_.dvRel.isEmpty).map(_.render)
    publishVersion(spark, root, v + 1,
      readEntries(spark, root, dvd, meta.schema),
      cols, keptLines, "foldDeletes", meta)
  }

  /** METADATA-ONLY widening schema evolution (Delta's ALTER TABLE ADD
    * COLUMNS, on this engine's manifest): publish a new version whose
    * body lines — paths, stats, DV refs — carry over VERBATIM and whose
    * header records the widened schema. No data file is read, written,
    * or listed; the commit is one atomic manifest publish of
    * driver-resident metadata, the same cost at 100 rows as at 100 TB.
    *
    * Afterwards every reader ([[read]], [[readVersion]], [[readWhere]],
    * [[changesBetween]]) scans under the RECORDED schema, so
    * pre-widening files answer the new columns as typed nulls (parquet
    * missing-column fill), and every content verb — DML, MoR, fold,
    * compaction, OPTIMIZE — carries the recorded schema forward; rows
    * written after the widening (a [[graft.operators.Upsert.mergeWhere]]
    * staged batch, [[updateWhere]] post-images) carry the new columns
    * physically. [[graft.schema.SchemaAudit]]'s widen audit (E1) is the
    * natural driver: audit finds the missing/narrow column, this verb
    * declares it, the next merge populates it.
    *
    * New columns must be nullable (existing rows have no values) and
    * must not collide case-insensitively with existing ones. A full
    * [[commit]] (truncate-and-load) REPLACES the table, schema included
    * — its df defines the shape anew. The same holds coherently for the
    * full-rewrite maintenance verbs ([[compactSnapshot]],
    * [[graft.operators.Layout.optimizeSnapshot]]): they read under the
    * recorded schema, so their output files carry the declared columns
    * PHYSICALLY — after which the header is genuinely unnecessary and is
    * dropped (file inference answers the full schema again).
    */
  def addColumns(spark: SparkSession, root: String,
      newCols: Seq[StructField]): Long = {
    require(newCols.nonEmpty, "addColumns: no columns given")
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"addColumns: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    require(meta.schema.nonEmpty || body.nonEmpty,
      "addColumns: table has no data files and no recorded schema to widen")
    val cur = tableSchema(spark, root, meta.schema, body.headOption).get
    newCols.foreach { f =>
      require(f.nullable,
        s"addColumns: new column '${f.name}' must be nullable — existing rows have no values for it")
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"addColumns: column '${f.name}' already exists")
    }
    require(newCols.map(_.name.toLowerCase).distinct.size == newCols.size,
      s"addColumns: duplicate new column names in ${newCols.map(_.name)}")
    val widened = StructType(cur.fields ++ newCols)
    publishLines(spark, root, v + 1, body, "addColumns",
      meta.copy(schema = Some(widened)))
  }

  /** ANALYZE TABLE, on this engine's manifest: (re)compute per-file
    * stats for `statsCols` and publish a stats-ENRICHED manifest — no
    * data file is written, moved, or rewritten; the cost is one
    * read-only aggregation over exactly the files that need stats. The
    * retrofit for pruning power lost to stats-less writes (a
    * `statsCols = Nil` commit, a merge append without stats) or never
    * collected for a later-interesting column: after it, [[readWhere]]'s
    * skipping and the metadata aggregates ([[countRows]]/[[minMax]])
    * answer for those files too.
    *
    * Per-file semantics match commit-time stats exactly: the scan is
    * RAW (deletion vectors NOT applied — recorded stats always describe
    * the pre-deletion rows, the documented conservative contract), and
    * stats for columns a pre-widening file lacks record all-null (the
    * declared-schema read fills them). Files already carrying stats for
    * every requested column keep their line verbatim (`force = true`
    * recomputes them); existing stats for OTHER columns merge, never
    * drop. Bloom filters are data-file-resident and cannot be
    * retrofitted here — [[compactSnapshot]]/OPTIMIZE rewrite files with
    * blooms once the property is declared.
    *
    * @return the committed version (unchanged when every file already
    *         carries the requested stats)
    */
  def analyzeTable(spark: SparkSession, root: String,
      statsCols: Seq[String], force: Boolean = false): Long = {
    require(statsCols.nonEmpty, "analyzeTable: no stats columns given")
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"analyzeTable: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    if (body.isEmpty) return v
    val entries = body.map(parseLine)
    val schema = tableSchema(spark, root, meta.schema, body.headOption).get
    val resolved = statsCols.map(c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"analyzeTable: column $c not in ${schema.fieldNames.mkString(", ")}"))
        .name)
    val existing = bodyStatsOf(entries)
    def name(e: ManifestEntry) = new Path(e.rel).getName
    // stats key by BASENAME (ManifestStats.collect's _metadata grouping),
    // so a basename collision across data dirs would bake one file's
    // stats onto another — assert uniqueness, same as the DV tagging path
    val dupNames = entries.map(name).groupBy(identity)
      .collect { case (n, g) if g.size > 1 => n }
    require(dupNames.isEmpty,
      s"analyzeTable requires manifest-wide unique file basenames; " +
        s"duplicated: ${dupNames.take(3).mkString(", ")}")
    val targets = entries.filter(e => force ||
      !existing.get(name(e)).exists(fs => resolved.forall(fs.cols.contains)))
    if (targets.isEmpty) return v
    val fresh = ManifestStats.collect(
      scanEntries(spark, root, targets, Some(schema)), resolved)
    // a scanned file absent from the aggregation is EMPTY — record rows=0
    // (prunable by construction), same as commit-time staging does
    val emptyStats = ManifestStats.FileStats(0L,
      resolved.map(_ -> ManifestStats.ColStats(None, None, 0L)).toMap)
    val targetSet = targets.map(name).toSet
    val lines = entries.map { e =>
      if (!targetSet.contains(name(e))) e.render
      else {
        val computed = fresh.getOrElse(name(e), emptyStats)
        val merged = existing.get(name(e)) match {
          case Some(old) => computed.copy(cols = old.cols ++ computed.cols)
          case None => computed
        }
        e.copy(stats = Some(ManifestStats.toJson(merged))).render
      }
    }
    publishLines(spark, root, v + 1, lines, "analyzeTable", meta)
  }

  /** Declare (or clear) the table's PRIMARY KEY — a metadata-only
    * property publish like [[setBloomCols]]. The declared pk is the row
    * identity the pk-less [[changesBetween]] overload and
    * [[graft.sources.ChangeFeed]]'s table-driven catch-up default to,
    * and what makes CONF-GATED auto-materialization possible at all
    * (`graft.cdf.auto` — the commit paths cannot guess a row identity).
    * Declaring a pk asserts the [[graft.operators.Upsert]] family's
    * invariant: each snapshot is pk-unique. It is NOT validated per
    * commit (that would price a distinct scan into every publish);
    * [[commitChecked]] with a uniqueness check is the enforcing form.
    */
  def setPrimaryKey(spark: SparkSession, root: String,
      pk: Seq[String]): Long =
    setProperties(spark, root, pk = Some(pk), op = "setPrimaryKey")

  /** The declared primary key of `version` (empty when none) —
    * header-only driver metadata.
    */
  def primaryKey(spark: SparkSession, root: String, version: Long): Seq[String] =
    manifestMetaOnly(spark, root, version).pk

  /** Declare (or clear) the CO-LOCATED MERGE strategy as a table property
    * — a metadata-only publish like [[setPrimaryKey]]. With the hint
    * declared, [[graft.operators.Upsert.mergeWhere]] (and its retry/MoR
    * twins) decompose the merge join so the TARGET side never shuffles:
    * the churn-sized staged batch broadcasts onto the target scan (update
    * pass + matched-key pass are narrow broadcast joins, inserts anti-join
    * a broadcast of the matched keys). This is the 100-TB merge posture as
    * ONE declared flag instead of a per-call rewrite — the big side of the
    * join pays scan cost only, no Exchange, regardless of table size. The
    * verbs degrade loudly to the shuffle merge when a staged batch is too
    * large to broadcast ([[graft.operators.Upsert.mergeWhere]]'s
    * `maxColocatedRows`), so declaring the hint is safe under the Upsert
    * family's documented invariant — pk-unique snapshots ([[setPrimaryKey]]):
    * the broadcast volumes are then functions of the gated staged size
    * (matched keys are per-partition-deduplicated, bounding even a
    * duplicate-PK target at distinct-staged-keys × partitions).
    */
  def setColocatedMerge(spark: SparkSession, root: String,
      on: Boolean): Long = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"setColocatedMerge: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    if (meta.colocatedMerge == on) return v
    publishLines(spark, root, v + 1, body, "setColocatedMerge",
      meta.copy(colocatedMerge = on))
  }

  /** The declared merge strategy of `version` — header-only metadata. */
  def colocatedMerge(spark: SparkSession, root: String, version: Long): Boolean =
    manifestMetaOnly(spark, root, version).colocatedMerge

  /** Declare (or clear) the table's bloom-indexed columns — a
    * metadata-only property publish, [[addColumns]]'s sibling. Files
    * written AFTER this carry parquet-native bloom filters for `cols`
    * (see [[commit]]'s `bloomCols`); existing files gain them on their
    * next rewrite ([[compactSnapshot]], any CoW DML touching them). The
    * property then survives every content verb, full commits included
    * (dropped loudly only if a full commit's frame lacks the columns).
    */
  def setBloomCols(spark: SparkSession, root: String,
      cols: Seq[String]): Long =
    setProperties(spark, root, bloomCols = Some(cols), op = "setBloomCols")

  /** Declare (or clear) the table's PARTITION columns — a metadata-only
    * property publish, [[setBloomCols]]'s sibling. Every data file written
    * AFTER this (full commits, CoW rewrites, MoR appends, compaction) is
    * clustered to hold exactly ONE value-tuple of `cols` and records it as
    * single-valued (min==max) manifest stats, which makes [[readWhere]]
    * pruning on partition predicates EXACT and [[deleteWhere]] on them
    * METADATA-ONLY (the "drop a partition" path — constant cost at any
    * table size). Existing files keep their layout and stay fully
    * readable — partition values live IN the data (the Hive-style dirs
    * are write-side mechanics only), so declaring late costs nothing and
    * pays off as files churn; [[compactSnapshot]] re-lays everything at
    * once. Pick low-cardinality columns (language, date bucket, source):
    * the write clusters with one hash shuffle on `cols`, and a
    * high-cardinality or heavily-skewed choice concentrates that shuffle
    * exactly as it would any groupBy.
    */
  def setPartitionColumns(spark: SparkSession, root: String,
      cols: Seq[String]): Long =
    setProperties(spark, root, partitionCols = Some(cols),
      op = "setPartitionColumns")

  /** The declared partition columns of `version` (empty when none) —
    * header-only driver metadata.
    */
  def partitionColumns(spark: SparkSession, root: String,
      version: Long): Seq[String] =
    manifestMetaOnly(spark, root, version).partitionCols

  /** Declare several table properties in ONE metadata publish — the
    * atomic form of [[setBloomCols]] + [[setPrimaryKey]] +
    * [[setPartitionColumns]] (same per-property validations), for callers
    * whose statement names more than one property (SQL `ALTER TABLE … SET
    * TBLPROPERTIES('bloomCols'='…','primaryKey'='…')`): a single
    * statement must apply entirely or not at all, never leave the table
    * half-altered behind a mid-sequence failure. `None` keeps a property
    * as declared; `Some(Nil)` clears it.
    */
  def setProperties(spark: SparkSession, root: String,
      bloomCols: Option[Seq[String]] = None,
      pk: Option[Seq[String]] = None,
      partitionCols: Option[Seq[String]] = None,
      op: String = "setProperties"): Long = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"$op: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    val next = meta.copy(
      bloomCols = bloomCols.getOrElse(meta.bloomCols),
      pk = pk.getOrElse(meta.pk),
      partitionCols = partitionCols.getOrElse(meta.partitionCols))
    if (next.bloomCols == meta.bloomCols && next.pk == meta.pk &&
      next.partitionCols == meta.partitionCols) return v
    val schema = tableSchema(spark, root, meta.schema, body.headOption)
    schema.foreach { s =>
      (next.bloomCols.map(s"$op (bloom)" -> _) ++
        next.pk.map(s"$op (pk)" -> _)).foreach { case (what, c) =>
        require(s.fieldNames.contains(c),
          s"$what: column $c not in schema ${s.fieldNames.mkString(", ")}")
      }
      next.partitionCols.foreach { c =>
        val f = s.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"$op (partition): column $c not in schema " +
              s.fieldNames.mkString(", ")))
        require(ManifestStats.supportsStats(f.dataType),
          s"$op (partition): column $c has unsupported type " +
            f.dataType.simpleString)
      }
    }
    publishLines(spark, root, v + 1, body, op, next)
  }

  /** One retained version's audit row: publish instant (the manifest's
    * write-once mtime, the same clock [[versionAsOf]] travels by), body
    * size, and how many entries carry a live deletion-vector sidecar.
    */
  final case class HistoryEntry(version: Long, committedAtMs: Long,
      dataFiles: Long, dvFiles: Long)

  /** DESCRIBE HISTORY, on this engine's manifest: one row per RETAINED
    * version, oldest first. Cost is driver metadata only — one directory
    * listing plus, per retained version, one file status and one
    * (PartsCache-amortized) manifest resolve; retention ([[vacuum]]'s
    * `keep`) bounds the row count, so the listing never grows with table
    * age. The SQL surface is `CALL graft.history('<table>')`
    * ([[GraftProcedures]]).
    */
  def history(spark: SparkSession, root: String): Seq[HistoryEntry] = {
    val (fs, rootPath) = fsOf(spark, root)
    listVersions(spark, root).map { v =>
      // resolve the body FIRST: a version listed via its mid-swap rewrite
      // sidecar (crashed chain-guard rewrite) has no manifest file until
      // manifestParts completes the swap — stat-before-resolve would
      // throw FileNotFound on a table that reads fine
      val entries = manifestParts(spark, root, v)._1.map(parseLine)
      val mtime = fs.getFileStatus(new Path(rootPath, manifestName(v)))
        .getModificationTime
      HistoryEntry(v, mtime, entries.size.toLong,
        entries.count(_.dvRel.nonEmpty).toLong)
    }
  }

  /** RESTORE TO VERSION (Delta's RESTORE, on this engine's manifest): make
    * `toVersion`'s content current again by publishing a NEW version whose
    * body — paths, stats, deletion-vector refs — and recorded schema are
    * `toVersion`'s, verbatim. Pure metadata: no data file is read or
    * written, the same cost at any table size; the undo for a bad DML,
    * compaction, or merge. History is preserved (the bad versions stay
    * time-travelable until [[vacuum]]), the restored manifest makes the
    * old files reachable again for vacuum's sweep, and
    * [[changesBetween]](bad, restored) emits exactly the inverse feed.
    * Restoring a vacuumed version fails loudly ([[hasVersion]] probes).
    */
  def restoreVersion(spark: SparkSession, root: String, toVersion: Long): Long = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"restoreVersion: no committed snapshot under $root"))
    require(hasVersion(spark, root, toVersion),
      s"restoreVersion: version $toVersion of $root does not exist (never " +
        "committed, or reclaimed by vacuum)")
    if (v == toVersion) return v
    val (body, meta) = manifestParts(spark, root, toVersion)
    publishLines(spark, root, v + 1, body, "restoreVersion", meta)
  }

  /** SHALLOW CLONE (Delta's CLONE, on this engine's manifest): bootstrap
    * `dstRoot` as a NEW table whose version-0 body references `srcRoot`'s
    * data files — and their deletion-vector sidecars — by absolute
    * qualified path. Pure metadata: zero data bytes copied, one manifest
    * publish, the same cost at 100 rows as at 100 TB. The clone is the
    * instant dev/test/experiment copy: DML on it writes NEW files under
    * `dstRoot` while untouched lines keep pointing at the shared source
    * bytes, so the clone diverges at churn cost, never at table cost.
    *
    * Isolation guarantees, by construction rather than by runtime checks:
    *  - writes to the clone never touch the source ([[rewriteWhere]]
    *    carries kept lines verbatim; new files stage under `dstRoot`);
    *  - [[vacuum]] on the clone only ever deletes under `dstRoot/data`, so
    *    shared source bytes are never reclaimed from the clone side;
    *  - [[vacuum]] on the SOURCE cannot see the clone's manifests — a
    *    source vacuum that drops the cloned version's files breaks the
    *    clone (exactly Delta's documented shallow-clone hazard). Deep-copy
    *    the clone first ([[compactSnapshot]] rewrites every referenced
    *    byte under `dstRoot`, severing the share) if the source's
    *    retention cannot be trusted to outlive it.
    *
    * The source's recorded schema (an [[addColumns]] widening) carries
    * into the clone's header verbatim. Source and destination must live
    * on the same filesystem (the manifest stores one path, not a remote
    * handle). `version` defaults to the source's current snapshot.
    */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    val (srcFs, srcPath) = fsOf(spark, srcRoot)
    val v = version.getOrElse(currentVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(
        s"cloneTable: no committed snapshot under $srcRoot")))
    require(hasVersion(spark, srcRoot, v),
      s"cloneTable: version $v of $srcRoot does not exist (never committed, " +
        "or reclaimed by vacuum)")
    require(currentVersion(spark, dstRoot).isEmpty,
      s"cloneTable: destination $dstRoot already has committed snapshots — " +
        "clone bootstraps a NEW table")
    val qualifiedSrc = srcFs.makeQualified(srcPath)
    val (dstFs, dstPath) = fsOf(spark, dstRoot)
    val qualifiedDst = dstFs.makeQualified(dstPath)
    // scheme AND authority: hdfs://nn1 vs hdfs://nn2 share a scheme but
    // not a filesystem — verbs resolving referenced paths against the
    // clone's FS handle would throw Wrong FS long after the clone "worked"
    def fsId(u: java.net.URI) = (u.getScheme, Option(u.getAuthority).getOrElse(""))
    require(fsId(qualifiedDst.toUri) == fsId(qualifiedSrc.toUri),
      s"cloneTable: source and destination must share a filesystem " +
        s"(${qualifiedSrc.toUri} vs ${qualifiedDst.toUri})")
    val (body, meta) = manifestParts(spark, srcRoot, v)
    val absLines = body.map(parseLine).map { e =>
      e.copy(rel = new Path(qualifiedSrc, e.rel).toString,
        dvRel = e.dvRel.map(r => new Path(qualifiedSrc, r).toString)).render
    }
    publishLines(spark, dstRoot, 0L, absLines, "cloneTable", meta)
  }

  /** The shared copy-on-write rewrite under [[deleteWhere]]/[[updateWhere]]:
    * stats-prune the affected files, apply `transform` to their rows,
    * commit kept manifest lines (verbatim) + the rewritten files. ONE
    * manifest read answers files, stats, and kept lines; the predicate
    * schema resolves from a single file (every file of a snapshot shares
    * it) — at 100k files the driver never lists the unaffected ones.
    */
  /** Publish a copy-on-write rewrite — `baseBody` minus `removedLines`
    * plus the staged `newLines` — REBASING onto a concurrent winner when
    * provably sound instead of discarding the staged work. Optimistic
    * concurrency in the Delta mold: N pipelines running DML against
    * DISJOINT file sets (the common shape — per-partition backfills) each
    * stage their rewrite exactly once, and a lost race costs one manifest
    * round-trip, not a re-read + re-write of the churn.
    *
    * The rebase is taken only when the serial order (winner, then this
    * verb) provably produces the same table:
    *   - the winner's METADATA equals ours (a schema/partition/pk/bloom
    *     change may invalidate the staged layout);
    *   - every line we REMOVE is still in the winner's body verbatim
    *     (path + stats + dv ref — any touch means our staged rewrite was
    *     computed from superseded rows);
    *   - every line the winner ADDED or CHANGED carries stats that PROVE
    *     our predicate matches none of its rows ([[ManifestStats
    *     .mayMatch]] false — a stats-less line is conservatively a
    *     conflict). Otherwise a rebased DELETE/UPDATE/MERGE would skip
    *     rows a serial re-run would have processed.
    *
    * Anything unprovable rethrows [[ConcurrentCommitException]] for the
    * caller's full re-run ([[retryOnConflict]]) — correctness never
    * depends on the fast path.
    */
  private def publishRebased(spark: SparkSession, root: String, op: String,
      baseVersion: Long, baseBody: Seq[String], baseMeta: TableMeta,
      removedLines: Set[String], newLines: Seq[String],
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      emptySchema: Option[StructType],
      maxRebases: Int = 5): Long =
    rebaseLoop(spark, root, op, baseVersion, baseBody, baseMeta, baseMeta,
      mustSurvive = removedLines,
      composeLines = b => b.filterNot(removedLines) ++ newLines,
      winnerLineOk = statsDisjoint(resolved), emptySchema, maxRebases)

  /** The winner-added-line gate for PREDICATED rebases: the line's stats
    * must PROVE the verb's predicate matches none of its rows (stats-less
    * lines are conservatively conflicts).
    */
  private def statsDisjoint(
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      (line: String): Boolean =
    parseLine(line).stats.exists(json =>
      !ManifestStats.mayMatch(resolved, ManifestStats.fromJson(json)))

  /** Maintenance (compaction / OPTIMIZE ZORDER) commit point: the verb
    * rewrites exactly the base body into `newLines`, carrying ANY
    * winner-added lines verbatim — maintenance has no predicate, so a
    * concurrent APPEND never conflicts with it (Delta's
    * OPTIMIZE-commutes-with-ingest property). A winner that REWROTE or
    * removed one of the base lines (DML, another maintenance run) is a
    * genuine conflict — the staged rewrite was computed from superseded
    * rows — and rethrows for the caller's full re-run.
    */
  private[graft] def publishMaintenanceRebased(spark: SparkSession,
      root: String, op: String, baseVersion: Long, baseBody: Seq[String],
      outMeta: TableMeta, gateMeta: TableMeta, newLines: Seq[String],
      emptySchema: Option[StructType], maxRebases: Int = 5): Long = {
    val baseSet = baseBody.toSet
    // outMeta is the caller's retire-the-schema decision
    // ([[maintenanceCommit]]); the GATE compares the winner against the
    // PRE-decision meta — a winner APPEND on a schema-declared table
    // still commutes, and retiring remains sound because appendRows
    // enforces the exact declared column set on every appended file.
    rebaseLoop(spark, root, op, baseVersion, baseBody, outMeta, gateMeta,
      mustSurvive = baseSet,
      composeLines = b => b.filterNot(baseSet) ++ newLines,
      winnerLineOk = _ => true, emptySchema, maxRebases)
  }

  /** The ONE rebase state machine both commit points share
    * ([[publishRebased]] removes+adds lines, [[publishRetaggedRebased]]
    * mutates them) — a soundness-gate fix here covers both. Gates, all
    * conservative (anything unprovable rethrows for the caller's full
    * re-run): winner metadata unchanged; every line in `mustSurvive`
    * still in the winner's body VERBATIM; every winner-added/changed
    * line passes `winnerLineOk` ([[statsDisjoint]] for predicated DML,
    * always-true for predicate-free maintenance); and the candidate
    * rebased manifest keeps BASENAMES unique manifest-wide (DV and stats
    * identity key on basename — a collision between a winner-added file
    * and a staged/DV-referenced one would silently cross-mask rows, the
    * exact hazard the MoR tagging asserts against on the base body).
    */
  private def rebaseLoop(spark: SparkSession, root: String, op: String,
      baseVersion: Long, baseBody: Seq[String], meta: TableMeta,
      gateMeta: TableMeta,
      mustSurvive: Set[String], composeLines: Seq[String] => Seq[String],
      winnerLineOk: String => Boolean, emptySchema: Option[StructType],
      maxRebases: Int): Long = {
    val baseSet = baseBody.toSet
    var v = baseVersion
    var body = baseBody
    var curMeta = meta
    var attempts = 0
    while (true) {
      val lines = composeLines(body)
      // THE EMPTYING CONTRACT lives here, on the FINAL composed body — a
      // pre-rebase caller cannot know it (two concurrent verbs that
      // jointly empty a table, neither individually, would compose an
      // empty schema-less manifest no read can ever resolve; conversely
      // an emptying verb rebasing over an append must NOT record a
      // schema onto a no-longer-empty body). An empty body with no
      // schema to record fails loudly rather than bricking the table.
      val pubMeta =
        if (lines.nonEmpty || curMeta.schema.nonEmpty) curMeta
        else curMeta.copy(schema = Some(emptySchema.getOrElse(
          throw new IllegalStateException(
            s"$op: rewrite would publish an empty snapshot with no " +
              s"resolvable schema for $root — refusing to brick the table"))))
      try return publishLines(spark, root, v + 1, lines, op, pubMeta)
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts > maxRebases) throw e
          val wv = currentVersion(spark, root).getOrElse(throw e)
          val (wBody, wMeta) = manifestParts(spark, root, wv)
          val wSet = wBody.toSet
          def uniqueBasenames: Boolean = {
            val names = composeLines(wBody)
              .map(l => new Path(parseLine(l).rel).getName)
            names.distinct.size == names.size
          }
          // TXN records are compared out and carried IN from the winner:
          // an idempotent append's (appId → version) map is monotone
          // bookkeeping this verb doesn't touch, so the rebase must adopt
          // the winner's records — dropping them would re-open the
          // winner's exactly-once window. Everything else in the metadata
          // must match exactly.
          val sound =
            wMeta.copy(txns = Map.empty) == gateMeta.copy(txns = Map.empty) &&
            mustSurvive.forall(wSet.contains) &&
            wBody.filterNot(baseSet).forall(winnerLineOk) &&
            uniqueBasenames
          if (!sound) throw e
          curMeta = meta.copy(txns = wMeta.txns)
          graft.core.Logging.logger().info(
            s"$op: lost the race for version ${v + 1} on $root — winner is " +
              s"file-disjoint and predicate-disjoint, rebasing the staged " +
              s"work onto version $wv")
          v = wv
          body = wBody
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The merge-on-read commit point with the same file-disjoint rebase as
    * [[publishRebased]]: the MoR verbs MUTATE lines (a new `dv=` ref on
    * each affected file) rather than remove+add, so the rebase carries the
    * winner's body and re-applies the `retag` map (old raw line →
    * dv-tagged line). Sound under the same gates — the winner's metadata
    * is unchanged, every retagged line's OLD form is still in the winner's
    * body verbatim (a fold/rewrite of an affected file invalidates the
    * staged positions), and the winner's added/changed lines are
    * stats-proven disjoint from the predicate (else the mask would miss
    * rows a serial re-run had masked). The optional `appendDf`
    * ([[updateWhereMoR]]'s post-images) stages exactly once.
    */
  private[graft] def publishRetaggedRebased(spark: SparkSession, root: String,
      op: String, baseVersion: Long, baseBody: Seq[String], meta: TableMeta,
      retag: Map[String, String], appendDf: Option[DataFrame],
      statsCols: Seq[String],
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      maxRebases: Int = 5): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    val staged = appendDf match {
      case Some(df) =>
        writeDataFiles(spark, fs, rootPath, baseVersion + 1, df, statsCols,
          meta)._2
      case None => Nil
    }
    // retagging never REMOVES lines, so the composed body can only empty
    // when the base was already empty (the MoR verbs return early there);
    // appendDf's schema is still the right record if it ever does
    rebaseLoop(spark, root, op, baseVersion, baseBody, meta, meta,
      mustSurvive = retag.keySet,
      composeLines = b => b.map(l => retag.getOrElse(l, l)) ++ staged,
      winnerLineOk = statsDisjoint(resolved),
      emptySchema = appendDf.map(_.schema), maxRebases)
  }

  /** [[publishVersion]]'s rebase-aware twin: stage `df` once, then publish
    * through [[publishRebased]] — the keyed-MERGE commit point
    * ([[graft.operators.Upsert.mergeWhere]]), whose conflict predicate is
    * the staged batch's PK-prune predicate.
    */
  private[graft] def publishVersionRebased(spark: SparkSession, root: String,
      next: Long, df: DataFrame, statsCols: Seq[String],
      baseBody: Seq[String], removedLines: Set[String], op: String,
      meta: TableMeta,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    val (_, newLines) = writeDataFiles(spark, fs, rootPath, next, df,
      statsCols, meta)
    publishRebased(spark, root, op, next - 1, baseBody, meta, removedLines,
      newLines, resolved, emptySchema = Some(df.schema))
  }

  private def rewriteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column, statsCols: Seq[String],
      op: String, transform: DataFrame => DataFrame,
      dropProven: Boolean = false): Long = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$op: no committed snapshot under $root"))
    // CHURN-BOUNDED fast path: with a twin-anchored body, candidate
    // classification runs on executors (the driver receives only the
    // lines the verb must touch), the commit publishes as edits, and a
    // lost race rebases through the delta-tail gates — the full file
    // list never materializes on the driver, whatever the table size.
    distributedClassify(spark, root, v, predicate, dropProven) match {
      case Some((meta, schema, frame, affected, dropped)) =>
        if (affected.isEmpty && dropped.isEmpty) return v // no file can match
        val resolved = ManifestStats.resolvePredicate(spark, schema, predicate)
        val touched = affected ++ dropped
        val newLines =
          if (affected.isEmpty) Nil // metadata-only proven drop
          else {
            val (fsW, rootPathW) = fsOf(spark, root)
            writeDataFiles(spark, fsW, rootPathW, v + 1,
              transform(readEntries(spark, root, affected.map(parseLine),
                meta.schema)),
              statsCols, meta)._2
          }
        return rebaseLoopEdits(spark, root, op, v, frame,
          BodyEdits(touched.map(relOf), newLines), meta, meta,
          mustSurvive = touched.map(l => relOf(l) -> l).toMap,
          winnerLineOk = statsDisjoint(resolved),
          emptySchema = Some(schema))
      case None => ()
    }
    val (body, meta) = manifestParts(spark, root, v)
    if (body.isEmpty) return v
    val files = body.map(bodyFile(root, _))
    val schema = tableSchema(spark, root, meta.schema, body.headOption).get
    val stats = bodyStats(body)
    val resolved = ManifestStats.resolvePredicate(spark, schema, predicate)
    // DELETE-only fast path: a file whose stats PROVE every live row
    // matches ([[ManifestStats.mustMatch]]) is deleted by DROPPING its
    // manifest line — no byte of it is read or rewritten. With a
    // partition-clustered layout ([[setPartitionColumns]] makes every
    // file single-valued in the partition columns) this is Delta's
    // "DELETE WHERE partition = x" metadata-only drop: the same cost at
    // 100 rows as at 100 TB. Sound for DV'd files (live rows are a
    // subset of the rows the stats describe).
    val dropped: Set[String] =
      if (!dropProven) Set.empty
      else ManifestStats.pruneProven(files, stats, resolved).toSet
    val affected = ManifestStats.prune(files, stats, resolved).toSet -- dropped
    if (affected.isEmpty && dropped.isEmpty) return v // no file can match
    // removed manifest lines; everything else carries over verbatim
    // (path, stats AND any dv ref)
    val removedLines = body.filter { line =>
      val f = bodyFile(root, line); affected.contains(f) || dropped.contains(f)
    }.toSet
    if (affected.isEmpty) {
      // METADATA-ONLY commit — every candidate file was proven
      // whole-match. If the FINAL body empties, the rebase layer records
      // the (already-resolved) schema so the empty snapshot stays readable
      return publishRebased(spark, root, op, v, body, meta,
        removedLines, Nil, resolved, emptySchema = Some(schema))
    }
    // affected files read with their DVs APPLIED (already-MoR-deleted rows
    // must not resurrect); the rewrite output is DV-free by construction
    val affectedEntries = body.map(parseLine)
      .zip(files).collect { case (e, f) if affected(f) => e }
    // stage ONCE, then publish with the file-disjoint rebase: a lost race
    // against a non-conflicting writer re-publishes these exact staged
    // files instead of re-reading and re-writing the churn
    val (fsW, rootPathW) = fsOf(spark, root)
    val (_, newLines) = writeDataFiles(spark, fsW, rootPathW, v + 1,
      transform(readEntries(spark, root, affectedEntries, meta.schema)),
      statsCols, meta)
    publishRebased(spark, root, op, v, body, meta, removedLines, newLines,
      resolved, emptySchema = Some(schema))
  }

  /** Write `df` into a fresh uniquely-nonced data dir for version `next`
    * and return (dir, manifest lines incl. optional stats) — the shared
    * staging step under [[stageAndPublish]] and [[updateWhereMoR]]'s
    * post-image append. Nothing is visible until a manifest references it.
    */
  private def writeDataFiles(spark: SparkSession, fs: FileSystem, rootPath: Path,
      next: Long, df: DataFrame, statsCols: Seq[String],
      meta: TableMeta = TableMeta.empty): (Path, Seq[String]) = {
    import org.apache.spark.sql.functions.col
    val bloomCols = meta.bloomCols
    // unique per-attempt staging: the version prefix is advisory (for
    // humans); the nonce is what makes racing attempts disjoint. A crashed
    // or lost-race attempt leaves an unreferenced dir that vacuum sweeps.
    val dirName = s"${dataDirName(next)}-${java.util.UUID.randomUUID.toString.take(8)}"
    val dataDir = new Path(rootPath, new Path("data", dirName))
    // DECLARED partitioning ([[setPartitionColumns]]): cluster so every
    // data file holds exactly ONE partition-value tuple — one hash shuffle
    // on the partition columns, then the standard `partitionBy` writer
    // split. Unlike Hive/Delta the partition columns are NOT stripped from
    // the data (the `partitionBy` targets are throwaway DUPLICATE tag
    // columns), so the file-list read path needs no basePath/discovery
    // machinery and mixed partitioned/unpartitioned history reads
    // uniformly. The payoff is in the manifest: each file's stats are
    // single-valued (min==max) in every partition column, which makes
    // [[readWhere]] pruning exact and [[deleteWhere]] metadata-only on
    // partition predicates. Frames that LACK a partition column (a
    // pre-evolution MoR append) degrade loudly to an unclustered write —
    // correctness never depends on the layout.
    val sortMarker = df.schema.fields.find(_.name == ClusterSortCol) match {
      case Some(f) if f.metadata.contains(ClusterSortMetaKey) => Some(f.name)
      case Some(_) => throw new IllegalArgumentException(
        s"writeDataFiles: column name $ClusterSortCol is RESERVED for the " +
          "engine's intra-partition sort marker and this frame's column is " +
          "not engine-tagged — rename the column (a silent drop or a silent " +
          "re-sort would both be data bugs)")
      case None => None
    }
    val pcols = meta.partitionCols
      .flatMap(c => df.columns.find(_.equalsIgnoreCase(c)))
    val partitioned = pcols.size == meta.partitionCols.size && pcols.nonEmpty
    if (meta.partitionCols.nonEmpty && !partitioned)
      graft.core.Logging.logger().warn(
        s"writeDataFiles: frame lacks declared partition column(s) " +
          s"${meta.partitionCols.mkString(", ")} — writing unclustered " +
          "(files stay readable; they just cannot be partition-pruned" +
          sortMarker.fold("")(_ => "; the carried intra-partition sort " +
            "marker is applied within the frame's existing partitions " +
            "instead of per cluster") + ")")
    val tags = if (!partitioned) Nil else {
      val taken = scala.collection.mutable.ArrayBuffer(df.columns.toSeq: _*)
      pcols.zipWithIndex.map { case (c, i) =>
        val t = freshName(s"__gp_$i", taken.toSeq); taken += t; (c, t)
      }
    }
    val clustered =
      if (!partitioned)
        // a carried sort marker is a caller's requested file-internal
        // order (OPTIMIZE ZORDER's arrangement) — when the write degrades
        // to unclustered, honor it within the frame's existing partitions
        // rather than silently discarding the requested layout
        sortMarker.map(m => df.sortWithinPartitions(col(s"`$m`"))).getOrElse(df)
      else {
        val shuffled = df.repartition(pcols.map(col): _*)
        // the RESERVED intra-partition sort marker ([[ClusterSortCol]]):
        // a caller that wants rows ORDERED inside each partition's file
        // (OPTIMIZE ZORDER within partitions — tight row-group stats)
        // attaches its sort key under this name; the clustering shuffle
        // would otherwise destroy any pre-arranged order
        val sorted = sortMarker
          .map(m => shuffled.sortWithinPartitions(col(s"`$m`")))
          .getOrElse(shuffled)
        tags.foldLeft(sorted) { case (d, (c, t)) => d.withColumn(t, col(s"`$c`")) }
      }
    // the marker is write-side metadata, never data
    val toWrite0 = sortMarker.map(clustered.drop).getOrElse(clustered)
    // engine-INTERNAL files write timestamps as INT64 micros (never the
    // INT96 session default): INT96 chunks carry no footer statistics
    // (commit-time footer-derived stats would fall back to a second data
    // scan) and Spark disables parquet predicate pushdown on INT96. These
    // files are only ever read back by this engine, where both encodings
    // read identically under the UTC session; result dumps and other
    // caller-facing writes keep the session default. The encoding is
    // scoped to a PER-WRITE clone of the caller's session, never a
    // set/write/restore on the caller's conf: concurrent commit threads
    // could race one thread's restore against another's write planning,
    // and a concurrent caller-facing write could pick up the engine's
    // encoding. The clone carries the caller's RUNTIME conf as of this
    // write (case sensitivity, shuffle partitions, time zone, ...).
    val writerSession =
      org.apache.spark.sql.graftbridge.ColumnBridge.cloneSession(spark)
    writerSession.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    val toWrite = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(
      writerSession, toWrite0.queryExecution.analyzed)
    // parquet-NATIVE bloom filters per row group for the table's
    // bloom-indexed columns: the codegen'd scan path prunes row groups on
    // pushed equality predicates with zero reader changes here (parquet-mr
    // evaluates stats → dictionary → bloom per row group). Adaptive sizing
    // keys each filter to the row group's observed NDV instead of the 1 MB
    // worst-case default — the difference between a useful index and a
    // storage tax at 100k files.
    val writer0 = bloomCols.foldLeft(
      if (bloomCols.isEmpty) toWrite.write
      else toWrite.write.option("parquet.bloom.filter.adaptive.enabled", "true")
    )((w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    val writer = if (partitioned) writer0.partitionBy(tags.map(_._2): _*) else writer0
    writer.parquet(dataDir.toString)
    // partitioned writes nest files under tag dirs — list recursively and
    // keep paths manifest-relative. CRITICAL: `partitionBy` names every
    // file a task writes `part-<taskid>-<jobuuid>...` — IDENTICALLY across
    // the partition dirs that task holds — while manifest stats and DV
    // identity key on BASENAME (asserted manifest-wide unique in
    // [[retagMap]]). A collision would silently cross-assign one file's
    // stats/deletion-vector to another, so partitioned staging SALTS each
    // basename unique before anything records it. The rename loop is
    // O(files of THIS commit) driver-side metadata calls against a staging
    // dir no reader can see yet — the same order as the listing itself,
    // churn-proportional, never table-proportional.
    val dataDirQ = fs.makeQualified(dataDir).toString
    val staged = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Path]
      val it = fs.listFiles(dataDir, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) acc += s.getPath
      }
      acc.toSeq
    }
    val finalPaths =
      if (!partitioned) staged
      else staged.map { p =>
        val salted = new Path(p.getParent,
          s"${java.util.UUID.randomUUID.toString.take(8)}-${p.getName}")
        if (!fs.rename(p, salted)) throw new IllegalStateException(
          s"writeDataFiles: failed to uniquify staged file $p")
        salted
      }
    val files = finalPaths.map { p =>
      val suffix = fs.makeQualified(p).toString.stripPrefix(dataDirQ).stripPrefix("/")
      s"data/$dirName/$suffix"
    }.sorted
    // partition columns join the stats set automatically — the recorded
    // min==max per file IS the partition value; without it the clustering
    // would buy nothing. Collected AFTER the salting rename (stats key on
    // the final basenames).
    val effStatsCols = (statsCols ++
      (if (partitioned) pcols.filterNot(p => statsCols.exists(_.equalsIgnoreCase(p)))
       else Nil)).distinct
    val stats =
      if (effStatsCols.isEmpty) Map.empty[String, ManifestStats.FileStats]
      else ManifestStats.collectFromFooters(spark, finalPaths, effStatsCols)
        // footer path unprovable for this column/type mix — run the exact
        // aggregation job (the old always-on second scan) instead
        .getOrElse(ManifestStats.collect(
          spark.read.parquet(dataDir.toString).drop(tags.map(_._2): _*),
          effStatsCols))
    // a ZERO-ROW part file produces no aggregation group: record it as
    // rows=0 (prunable by construction) rather than stats-less (never
    // pruned) — the empty file can satisfy no predicate
    val emptyStats = ManifestStats.FileStats(0L,
      effStatsCols.map(_ -> ManifestStats.ColStats(None, None, 0L)).toMap)
    val lines = files.map { f =>
      if (effStatsCols.isEmpty) f
      else f + "\t" + ManifestStats.toJson(stats.getOrElse(new Path(f).getName, emptyStats))
    }.toSeq
    (dataDir, lines)
  }

  /** Stage `df` into a fresh uniquely-nonced data dir for version `next`,
    * collect optional per-file stats, and atomically publish the manifest
    * (`keptLines` verbatim + the new file lines) — the staged publish
    * [[commit]] and the keyed rewrites ([[publishVersion]]) go through.
    */
  private def stageAndPublish(spark: SparkSession, fs: FileSystem, rootPath: Path,
      next: Long, df: DataFrame, statsCols: Seq[String], keptLines: Seq[String],
      op: String, requireFiles: Boolean,
      meta: TableMeta): Long = {
    val (dataDir, newLines) = writeDataFiles(spark, fs, rootPath, next, df,
      statsCols, meta)
    if (requireFiles)
      require(newLines.nonEmpty, s"$op: write produced no parquet files under $dataDir")
    publishLines(spark, rootPath.toString, next, keptLines ++ newLines, op, meta)
  }

  /** Time travel: read an explicit committed snapshot `version`. Every
    * superseded version stays fully readable until [[vacuum]] reclaims it
    * (data files are immutable and manifests are never rewritten), so this
    * is a pure manifest lookup — no log replay, no reconstruction.
    */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val (body, meta) = manifestParts(spark, root, version)
    readEntries(spark, root, body.map(parseLine), meta.schema)
  }

  /** Row-level change feed between two committed versions: what happened to
    * the table keyed by `pk` going `fromVersion` → `toVersion`. Output is
    * the table's columns plus `_change` ∈ {insert, delete, update_preimage,
    * update_postimage} (updates emit BOTH rows, Delta-CDF style), so a
    * downstream incremental consumer can apply the feed without re-reading
    * either snapshot.
    *
    * Contract: each snapshot is PK-unique (the [[graft.operators.Upsert]]
    * family's invariant). That makes the FILE-level prune sound: data files
    * are immutable, so a file listed by both manifests contributes
    * byte-identical rows to both sides and cannot produce a change — only
    * files unique to one side are read at all. After compaction-only or
    * metadata-only commits the diff therefore reads NOTHING, and at 100 TB
    * the scan cost is proportional to the churned fraction of the table,
    * not its size. The remainder is one null-safe full-outer join on `pk`
    * (one shuffle per side); rewritten-but-unchanged rows (compaction) are
    * detected by column comparison and dropped. This is the one-step case
    * of [[changesByStep]].
    */
  def changesBetween(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, pk: Seq[String]): DataFrame =
    changesByStep(spark, root, Seq((fromVersion, toVersion)), Some(pk))
      .head._2.drop("_commit_version")

  /** [[changesBetween]] keyed by the table's DECLARED primary key
    * ([[setPrimaryKey]]) — the row identity travels with the table, not
    * with every call site. The pk resolves from the to-version manifest
    * the diff reads anyway (no extra fetch).
    */
  def changesBetween(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame =
    changesByStep(spark, root, Seq((fromVersion, toVersion)), None)
      .head._2.drop("_commit_version")

  /** One step's diff inputs, resolved on the driver. */
  private final case class DiffStep(to: Long, oldOnly: Seq[ManifestEntry],
      newOnly: Seq[ManifestEntry], sideFrom: Option[StructType],
      sideTo: Option[StructType], union: StructType)

  /** The feeds of many `(from, to)` steps at once, per schema group: (the
    * group's `to` versions, its rows with `_commit_version` = the step's
    * `to`). One group unless a step changes the schema; each is ONE
    * null-safe full-outer join on `(step, pk)` — exactly the disjoint
    * union of the per-step joins, for one plan's jobs instead of one plan
    * per step. A side without a recorded schema reads one footer on the
    * driver (no inference job), memoized by file within the call.
    */
  private[graft] def changesByStep(spark: SparkSession, root: String,
      steps: Seq[(Long, Long)], pkOpt: Option[Seq[String]]): Seq[(Seq[Long], DataFrame)] = {
    import org.apache.spark.sql.functions._
    val footers = scala.collection.mutable.Map.empty[String, StructType]
    def footerSchema(path: String) =
      footers.getOrElseUpdate(path,
        org.apache.spark.sql.graftbridge.ColumnBridge.parquetFileSchema(spark, path))
    val resolved = steps.map { case (f, t) => diffStep(spark, root, f, t, footerSchema) }
    val pk = pkOpt.getOrElse(manifestMetaOnly(spark, root, steps.last._2).pk)
    require(pk.nonEmpty, s"changesBetween: no primary key for $root — pass " +
      "pk (at least one column) or setPrimaryKey once")
    // nullability does not split a group: sides align to the group's
    // union by name and type, and a union of frames widens nullability
    def shape(s: DiffStep) = s.union.fields.toSeq.map(f => (f.name, f.dataType))
    resolved.map(shape).distinct.map { key =>
      val group = resolved.filter(s => shape(s) == key)
      val unionSchema = group.head.union
      val cols = unionSchema.fieldNames.toSeq
      pk.foreach(c => require(cols.exists(_.equalsIgnoreCase(c)),
        s"changesBetween: pk column $c not in $cols"))
      // presence markers, not pk-null checks: a legitimately NULL-keyed row
      // (the `=` merge carve-outs tolerate them) must not read as "absent".
      // Sides read DV-APPLIED (a MoR-deleted row is absent from its side,
      // so a DV-only change on a shared data file emits plain deletes); the
      // side schema resolved for the union pins the scan (no re-inference)
      def aligned(raw: DataFrame, step: org.apache.spark.sql.Column) =
        raw.select(cols.map(c =>
          // case-insensitive presence probe: a from-side file storing
          // 'value' must satisfy a 'Value' union column, not read as null
          (if (raw.columns.exists(_.equalsIgnoreCase(c))) col(s"`$c`")
           else lit(null)).cast(unionSchema(c).dataType).alias(c)) :+
          lit(1).alias("__graft_present") :+ step.alias("__graft_step"): _*)
      val schemaSrc = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], unionSchema)
      // ONE scan per read schema over the DV-free files of every step: a
      // file → steps map tags each row with its step(s). A DV-carrying unit
      // reads per step, its own sidecars applied. Few scans mean few stages
      // to plan and compile, and the literals (string, map) are passed by
      // reference, so the generated code repeats across calls.
      def side(entries: DiffStep => Seq[ManifestEntry],
          declared: DiffStep => Option[StructType]) = {
        val plain = group.flatMap(s => entries(s).filter(_.dvRel.isEmpty).map(s -> _.rel))
        val scans = plain.map(p => declared(p._1)).distinct.map { d =>
          val steps = plain.filter(p => declared(p._1) == d)
            .groupMap(_._2)(_._1.to.toString)
          aligned(readEntries(spark, root, steps.keys.toSeq.map(ManifestEntry(_, None, None)), d),
            explode(element_at(typedLit(steps.map { case (r, ts) => new Path(r).getName -> ts }),
              element_at(split(col("_metadata.file_path"), "/"), -1))))
        }
        val withDv = group.flatMap { s =>
          val es = entries(s).filter(_.dvRel.nonEmpty)
          if (es.isEmpty) None
          else Some(aligned(readEntries(spark, root, es, declared(s)), lit(s.to.toString)))
        }
        (aligned(schemaSrc, lit(null).cast("string")) +: (scans ++ withDv)).reduce(_ union _)
      }
      val o = side(_.oldOnly, _.sideFrom).alias("o")
      val n = side(_.newOnly, _.sideTo).alias("n")
      val joinCond = pk.map(c => col(s"o.$c") <=> col(s"n.$c"))
        .foldLeft(col("o.__graft_step") === col("n.__graft_step"))(_ && _)
      val joined = o.join(n, joinCond, "full_outer")
      val oldAbsent = col("o.__graft_present").isNull
      val newAbsent = col("n.__graft_present").isNull
      val nonPk = cols.filterNot(pk.contains)
      val differs =
        if (nonPk.isEmpty) lit(false)
        else nonPk.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
      def img(prefix: String) = struct(cols.map(c => col(s"$prefix.$c")): _*)
      // drop unchanged rows (ones that merely moved files, e.g.
      // compaction), then one codegen'd pass expands each survivor to its
      // 1-2 feed rows
      val rows = joined.filter(oldAbsent || newAbsent || differs).select(explode(
        when(oldAbsent, array(struct(lit("insert").alias("_change"), img("n").alias("row"))))
          .when(newAbsent, array(struct(lit("delete").alias("_change"), img("o").alias("row"))))
          .otherwise(array(
            struct(lit("update_preimage").alias("_change"), img("o").alias("row")),
            struct(lit("update_postimage").alias("_change"), img("n").alias("row"))))
      ).alias("e"),
        coalesce(col("o.__graft_step"), col("n.__graft_step")).cast("long").alias("_commit_version"))
        .select(cols.map(c => col(s"e.row.$c")) :+ col("e._change").alias("_change") :+
          col("_commit_version"): _*)
      (group.map(_.to), rows)
    }
  }

  /** The two DIFF sides of `from → to` derived churn-bounded: the winner
    * tail ([[tailEditsBetween]]) names every touched rel, a broadcast
    * semi-join over the from-version's body frame recovers the touched
    * rels' OLD lines — the driver receives O(churn) lines, never a body.
    * None when the window is unprovable from tails (full manifest inside,
    * no twin) — callers run the authoritative body-diff.
    *
    * Returns (oldOnlyLines, newOnlyLines, sampleFromLine, sampleToLine):
    * LAZY samples of each side's body for a side whose header records no
    * schema (an untouched line costs a head(1) job over the body frame).
    */
  private def changeSidesViaTails(spark: SparkSession, root: String,
      from: Long, to: Long)
      : Option[(Seq[String], Seq[String], () => Option[String], () => Option[String])] =
    try tailEditsBetween(spark, root, from, to).flatMap { tail =>
      bodyLinesFrame(spark, root, from).map { frame =>
        import spark.implicits._
        val touched = tail.map(_._1)
        val oldByRel =
          if (touched.isEmpty) Map.empty[String, String]
          else frame.join(
            org.apache.spark.sql.functions.broadcast(touched.toDF("rel")),
            Seq("rel"), "left_semi")
            .select("line").as[String].collect()
            .map(l => relOf(l) -> l).toMap
        val oldOnly = Seq.newBuilder[String]
        val newOnly = Seq.newBuilder[String]
        tail.foreach {
          case (rel, None) => oldByRel.get(rel).foreach(oldOnly += _)
          case (rel, Some(nl)) => oldByRel.get(rel) match {
            case Some(ol) if ol == nl => () // no-op republish: shared
            case Some(ol) => oldOnly += ol; newOnly += nl
            case None => newOnly += nl // pure add
          }
        }
        // an untouched from-line is still present at `to`
        lazy val untouched = frame.join(
          org.apache.spark.sql.functions.broadcast(
            (touched :+ "").toDF("rel")), // :+ "" keeps the frame non-degenerate when touched is empty
          Seq("rel"), "left_anti")
          .select("line").as[String].head(1).headOption
        val newLines = newOnly.result()
        (oldOnly.result(), newLines,
          () => untouched.orElse(oldByRel.values.headOption),
          () => newLines.headOption.orElse(untouched))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def diffStep(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, footerSchema: String => StructType): DiffStep = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    // CHURN-BOUNDED fast path ([[changeSidesViaTails]]); headers answer
    // the metadata, and any failure (the lazy samples included) falls back
    // to the authoritative body-diff below
    val fast = changeSidesViaTails(spark, root, fromVersion, toVersion).flatMap {
      case (oldOnlyLines, newOnlyLines, sampleFrom, sampleTo) =>
        def schemaOf(v: Long, sample: () => Option[String]) = manifestMetaOnly(spark,
          root, v).schema.orElse(sample().map(l => footerSchema(bodyFile(root, l))))
        scala.util.Try((oldOnlyLines.map(parseLine), newOnlyLines.map(parseLine),
          schemaOf(fromVersion, sampleFrom), schemaOf(toVersion, sampleTo))).toOption
    }
    val (oldOnly, newOnly, sideFrom, sideTo) = fast.getOrElse {
      // ONE manifest fetch per version: body + recorded schema together
      val (fromBody, fm) = manifestParts(spark, root, fromVersion)
      val (toBody, tm) = manifestParts(spark, root, toVersion)
      val oldEntries = fromBody.map(parseLine)
      val newEntries = toBody.map(parseLine)
      // shared = same data file AND same deletion vector: a file whose DV
      // changed between the versions contributes different ROWS and must be
      // diffed even though its data bytes are shared
      val shared = oldEntries.map(_.unit).toSet intersect newEntries.map(_.unit).toSet
      (oldEntries.filterNot(e => shared(e.unit)),
        newEntries.filterNot(e => shared(e.unit)),
        fm.schema.orElse(oldEntries.headOption.map(e => footerSchema(bodyFile(root, e.rel)))),
        tm.schema.orElse(newEntries.headOption.map(e => footerSchema(bodyFile(root, e.rel)))))
    }
    // UNION schema across both versions: an added column reads as typed
    // nulls on the old side, so it registers as null→value updates (the
    // Delta-CDF convention) rather than an analysis error. Every file of a
    // snapshot shares its schema, so each side's is its RECORDED header or
    // ONE footer — never a mergeSchema sweep of the file lists (which also
    // refuses int→bigint). A retyped column reconciles to Catalyst's
    // tightest common type; irreconcilable types fail with the column named.
    val fromFields = sideFrom.map(_.fields.toSeq).getOrElse(Nil)
    val toFields = sideTo.map(_.fields.toSeq).getOrElse(Nil)
    // fields match by name CASE-INSENSITIVELY (the engine's resolution
    // everywhere else): a full commit changing only a column's case must
    // reconcile to one field — two casings in the union schema would make
    // the o.<col>/n.<col> resolution ambiguous. The to-side casing wins
    // (it is the table's current shape).
    val reconciled = fromFields.map { f =>
      toFields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(t) if t.dataType != f.dataType =>
          val wide = org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findTightestCommonType(f.dataType, t.dataType)
            .getOrElse(throw new IllegalStateException(
              s"changesBetween: column '${f.name}' was retyped between " +
                s"versions ($fromVersion: ${f.dataType.simpleString} → " +
                s"$toVersion: ${t.dataType.simpleString}) with no common " +
                "type — diff the versions separately"))
          StructField(t.name, wide, f.nullable || t.nullable)
        case Some(t) => StructField(t.name, f.dataType, f.nullable)
        case None => f
      }
    }
    DiffStep(toVersion, oldOnly, newOnly, sideFrom, sideTo,
      StructType(reconciled ++
        toFields.filterNot(t => fromFields.exists(_.name.equalsIgnoreCase(t.name)))))
  }

  /** Commit `df` as the next snapshot. Concurrent writers are SAFE: each
    * attempt stages into its own unique dir (no attempt can delete or list
    * another's files — there is no shared staging path at all), and the
    * manifest rename detects a lost race and fails WITHOUT corrupting
    * either competing snapshot. The loser's staged dir is left for
    * inspection and later [[vacuum]]. Losers must re-read and retry — see
    * the class doc for why blind retry is wrong for read-modify-write.
    *
    * @return the committed version
    */
  def commit(spark: SparkSession, root: String, df: DataFrame): Long =
    commit(spark, root, df, Nil)

  /** [[commit]] that additionally records per-file min/max/null-count
    * stats for `statsCols` in the manifest ([[ManifestStats]]) — one extra
    * aggregation over the freshly written (page-cache-hot) files. Readers
    * exploit them through [[readWhere]]; stats-less and stats-ful commits
    * interleave freely in one table.
    */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String]): Long =
    commit(spark, root, df, statsCols, Nil)

  /** [[commit]] that additionally records `bloomCols` as the table's
    * bloom-indexed columns: every data file this and subsequent verbs
    * write carries parquet-native bloom filters for them (adaptive-sized
    * per row group), and the codegen'd scan prunes row groups on pushed
    * equality predicates automatically. Blooms answer the lookup
    * manifest min/max stats cannot: a point predicate on a
    * HIGH-CARDINALITY, unclustered column (`id = X` on a table laid out
    * by date), where every file's range admits the value but almost no
    * row group actually holds it. The property is table metadata — DML
    * rewrites, MoR appends, compaction, and OPTIMIZE all preserve it
    * ([[bloomCols]] reads it back; [[setBloomCols]] changes it without a
    * rewrite).
    */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String]): Long =
    commit(spark, root, df, statsCols, bloomCols, Nil)

  /** [[commit]] that additionally declares `partitionCols` as the table's
    * partition columns from THIS version on (the creation-time form of
    * [[setPartitionColumns]] — a new table gets its clustered layout from
    * version 0, no separate declare step): this commit's files and every
    * subsequent verb's are clustered one-partition-tuple-per-file, giving
    * exact [[readWhere]] pruning and metadata-only [[deleteWhere]] on
    * partition predicates. Like `bloomCols`, an explicit argument
    * overrides the carried declaration; Nil carries the prior one.
    */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String],
      partitionCols: Seq[String]): Long = {
    // fail fast on a misspelled bloom column — the parquet writer option
    // would silently match nothing and the table would "have" an index
    // that never prunes (the same contract as ManifestStats.collect)
    // case-insensitive, like every other verb's column resolution
    // (analyzeTable, minMax, addColumns) — a frame differing only in
    // column case must not silently drop a declared index or pk
    bloomCols.foreach(c => require(df.columns.exists(_.equalsIgnoreCase(c)),
      s"commit: bloom column $c not in schema ${df.columns.mkString(", ")}"))
    partitionCols.foreach { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"commit: partition column $c not in schema ${df.columns.mkString(", ")}"))
      require(ManifestStats.supportsStats(f.dataType),
        s"commit: partition column $c has unsupported type ${f.dataType.simpleString}")
    }
    val (fs, rootPath) = fsOf(spark, root)
    val cur = currentVersion(spark, root)
    val next = cur.map(_ + 1).getOrElse(0L)
    // DECLARED table properties PERSIST across a full commit (the
    // overwrite pipeline must not silently sever downstream feed
    // coverage or strip the point-lookup index — the same contract as
    // every table format's table properties); the recorded SCHEMA does
    // reset (the new frame defines the shape, its files carry it). A
    // carried property whose columns the new frame lacks is dropped
    // LOUDLY; an explicit bloomCols argument overrides the carried set.
    val prior = cur.map(v => manifestParts(spark, root, v)._2)
      .getOrElse(TableMeta.empty)
    def carried(cols: Seq[String], what: String): Seq[String] = {
      def has(c: String) = df.columns.exists(_.equalsIgnoreCase(c))
      if (cols.forall(has)) cols
      else {
        graft.core.Logging.logger().warn(
          s"commit: dropping declared $what columns ${cols.mkString(", ")} " +
            s"for $root — the committed frame lacks " +
            cols.filterNot(has).mkString(", "))
        Nil
      }
    }
    // re-declare under the FRAME's casing: the parquet per-column bloom
    // option (`parquet.bloom.filter.enabled#<col>`) matches by exact path
    // string, so carrying a case-mismatched name through would write NO
    // filter while the manifest claims an index — the silent no-op the
    // validation above exists to prevent
    def frameCased(cols: Seq[String]): Seq[String] =
      cols.map(c => df.columns.find(_.equalsIgnoreCase(c)).getOrElse(c))
    val blooms = frameCased(
      if (bloomCols.nonEmpty) bloomCols else carried(prior.bloomCols, "bloom"))
    val parts = frameCased(
      if (partitionCols.nonEmpty) partitionCols
      else carried(prior.partitionCols, "partition"))
    stageAndPublish(spark, fs, rootPath, next, df, statsCols, Nil,
      "commit", requireFiles = true,
      // txn records carry unconditionally (no columns to lose): an
      // idempotent pipeline's exactly-once guarantee must survive a full
      // overwrite exactly as it survives every DML verb
      // the merge hint also carries unconditionally — a strategy choice,
      // not a column-bound property
      meta = TableMeta(None, blooms, frameCased(carried(prior.pk, "primary-key")),
        parts, prior.txns, prior.colocatedMerge))
  }

  /** [[commit]] gated by declarative quality expectations — CHECK
    * constraints at the publication boundary (Delta's table constraints /
    * dbt-test-before-swap, on this engine's commit protocol): the staged
    * frame is validated with [[graft.schema.QualityChecks.run]] (ALL
    * checks in one scan + one 1-row aggregation) BEFORE anything is
    * written; a failing check aborts with the full per-check report in
    * the exception and the table keeps its current snapshot. The frame is
    * persisted across the check scan and the write, so validation and
    * committed bytes come from ONE evaluation — a non-deterministic input
    * cannot pass the gate and commit different rows.
    */
  def commitChecked(spark: SparkSession, root: String, df: DataFrame,
      checks: Seq[graft.schema.QualityChecks.Check],
      statsCols: Seq[String] = Nil): Long = {
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val report = graft.schema.QualityChecks.run(pinned, checks).collect()
      val failed = report.filterNot(_.getAs[Boolean]("passed"))
      if (failed.nonEmpty)
        throw new QualityGateException(
          s"commitChecked: ${failed.length}/${report.length} checks failed, " +
            s"nothing committed under $root — " +
            failed.map(r => s"${r.getAs[String]("check_name")} " +
              f"(metric ${r.getAs[Double]("metric")}%.6f > " +
              f"threshold ${r.getAs[Double]("threshold")}%.6f)").mkString("; "))
      commit(spark, root, pinned, statsCols)
    } finally pinned.unpersist(false)
  }

  /** Bounded lost-race retry for ANY commit verb — the first-class form of
    * the "loser must re-read and retry" contract for the common
    * multi-writer warehouse (many pipelines committing into one table):
    * `retryOnConflict()(deleteWhere(spark, root, pred))`.
    *
    * `verb` is BY-NAME and re-evaluated on every attempt. Every verb of
    * this object re-reads the CURRENT version internally, so a retry
    * applies to the table AS THE WINNER LEFT IT; a [[commit]] frame must
    * likewise be derived inside the expression (from
    * `SnapshotManifest.read(spark, root)` or any read of current state) —
    * replaying a frame captured before the race would silently discard
    * the winner's changes (the lost-update hazard the class doc
    * describes). Only [[ConcurrentCommitException]] is retried; a broken
    * frame (analysis error, bad data) propagates on the first attempt.
    * Each lost attempt's staged dir is inert garbage for [[vacuum]]. The
    * DML verbs already absorb FILE-DISJOINT races without redoing data
    * work ([[publishRebased]]); this is the fallback for genuine conflicts
    * — overlapping files, unprovable predicate disjointness, metadata
    * changes. Appends use [[appendRowsWithRetry]] instead, which re-uses
    * its staged files across attempts.
    */
  def retryOnConflict[A](maxAttempts: Int = 5,
      backoff: Int => FiniteDuration = Retry.linearBackoff(1.second),
      sleep: FiniteDuration => Unit = d => Thread.sleep(d.toMillis))(
      verb: => A): A =
    Retry.retryWhen(_.isInstanceOf[ConcurrentCommitException],
      maxAttempts, backoff, sleep)(verb)

  /** APPEND `df`'s rows to the current snapshot: existing manifest lines
    * carry over verbatim (paths, stats, DV refs — nothing is read or
    * rewritten), new data files are staged and the union publishes as one
    * atomic commit. The cheapest write verb and the natural sink shape for
    * incremental loads: cost is O(new rows), independent of table size.
    * Appends are the one DML whose intent commutes with ANY concurrent
    * commit, which is what makes [[appendRowsWithRetry]]'s staged-reuse
    * rebase sound. A lost race throws [[ConcurrentCommitException]].
    *
    * Strict schema contract: the append frame must carry exactly the
    * table's columns (any order, case-insensitive) with identical types —
    * a silent subset would read back as nulls and a widened type would
    * fork the parquet schema across files. Evolve with [[addColumns]]
    * first, then append.
    */
  def appendRows(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil): Long =
    // fresh staged names are UUID-nonced, so a single attempt carries no
    // basename-uniqueness gate (on the churn-bounded path that gate is a
    // Spark job); the retrying verbs, which RE-publish staged lines onto
    // a winner, do
    appendLoop(spark, root, df, statsCols, "appendRows", None,
      gateBasenames = false, maxAttempts = 1, _ => Duration.Zero, _ => ())

  /** Manifest-wide basename uniqueness, the invariant stats and
    * deletion-vector identity key on — [[rebaseLoop]] gates every
    * composed body with it, and the append retry paths must apply the
    * SAME gate before re-publishing staged lines onto a winner's body
    * (a collision between a winner-added file and a staged file would
    * silently cross-assign one file's stats/DV to the other).
    */
  private def requireUniqueBasenames(op: String, root: String,
      lines: Seq[String]): Unit = {
    val names = lines.map(l => new Path(parseLine(l).rel).getName)
    val dup = names.diff(names.distinct).distinct
    require(dup.isEmpty,
      s"$op: basename collision in composed manifest body for $root " +
        s"(${dup.take(3).mkString(", ")}) — stats and deletion-vector " +
        "identity key on basename; refusing to publish a body that would " +
        "cross-assign them")
  }

  /** [[appendRows]] with a bounded lost-race retry that NEVER rewrites the
    * staged data: the rows are written once, and a lost race re-publishes
    * the SAME staged files on top of the winner's manifest (appended rows
    * commute with any concurrent commit, so the rebase is a manifest-line
    * union — milliseconds, not a re-shuffle of the append). This is the
    * multi-writer ingest shape at 100 TB: N pipelines appending
    * concurrently each pay their own data write exactly once, and
    * conflicts cost one manifest round-trip. The one exception: if the
    * winner changed the table's METADATA (recorded schema, partition
    * columns, bloom set), the staged layout may no longer conform, so the
    * append re-stages from `df` against the new metadata (the abandoned
    * dir is unreferenced vacuum garbage) — correctness never depends on
    * the fast path.
    */
  def appendRowsWithRetry(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil, maxAttempts: Int = 5,
      backoff: Int => FiniteDuration = Retry.linearBackoff(1.second),
      sleep: FiniteDuration => Unit = d => Thread.sleep(d.toMillis)): Long =
    appendLoop(spark, root, df, statsCols, "appendRowsWithRetry", None,
      gateBasenames = true, maxAttempts, backoff, sleep)

  /** The highest transaction version recorded for `appId`, if any — the
    * read half of [[appendRowsIdempotent]]'s exactly-once contract (an
    * orchestrator can ask "did run N land?" without a data read).
    */
  def txnVersion(spark: SparkSession, root: String,
      appId: String): Option[Long] =
    currentVersion(spark, root).flatMap(v =>
      manifestMetaOnly(spark, root, v).txns.get(appId))

  /** [[appendRows]] with EXACTLY-ONCE semantics per `(appId, txnVersion)`
    * — the idempotent-writes contract (Delta's txnAppId/txnVersion) for
    * BATCH pipelines that re-run after a driver death or an orchestrator
    * retry: the manifest header records the highest txnVersion committed
    * per appId (carried by every verb, full commits included), and an
    * append at or below the recorded version SKIPS — returns the current
    * version, lands nothing — instead of double-appending the batch.
    * Pass a version that increases with the batch (a run date, an offset
    * high-mark); re-running yesterday's job is then free. Streaming paths
    * have their own marker-log contract; this is the batch twin.
    *
    * Built on the staged-reuse retry: rows are written once, and a lost
    * race re-publishes the same staged files with the txn record merged
    * onto the winner's metadata. Two instances of the SAME app racing the
    * SAME version resolve to exactly one landed append — the loser's
    * retry observes the recorded txn and skips (its staged dir is
    * unreferenced vacuum garbage).
    */
  def appendRowsIdempotent(spark: SparkSession, root: String, df: DataFrame,
      appId: String, txnVersion: Long, statsCols: Seq[String] = Nil,
      maxAttempts: Int = 5,
      backoff: Int => FiniteDuration = Retry.linearBackoff(1.second),
      sleep: FiniteDuration => Unit = d => Thread.sleep(d.toMillis)): Long = {
    require(appId.nonEmpty && !appId.exists(c => c == '\n' || c == '\r'),
      "appendRowsIdempotent: appId must be non-empty and newline-free")
    appendLoop(spark, root, df, statsCols, "appendRowsIdempotent",
      Some(appId -> txnVersion), gateBasenames = true, maxAttempts, backoff,
      sleep)
  }

  /** The ONE append loop behind [[appendRows]], [[appendRowsWithRetry]]
    * and [[appendRowsIdempotent]]. Per attempt: resolve the body, gate the
    * schema, stage `df` (ONCE across attempts — a lost race re-publishes
    * the same staged lines unless the winner changed the staged layout's
    * metadata), gate basenames (`gateBasenames`), publish. `txn` records
    * `(appId, txnVersion)` in the header and SKIPS the append when the
    * recorded version already covers it. A lost race retries through
    * [[retryOnConflict]] — `maxAttempts = 1` is the plain single attempt.
    */
  private def appendLoop(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String], op: String, txn: Option[(String, Long)],
      gateBasenames: Boolean, maxAttempts: Int,
      backoff: Int => FiniteDuration,
      sleep: FiniteDuration => Unit): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    var staged: Option[(TableMeta, Seq[String])] = None
    retryOnConflict(maxAttempts, backoff, sleep) {
      val v = currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(
          s"$op: no committed snapshot under $root — create the table " +
            "with commit(...) first"))
      // the txn skip-check needs only the HEADER — and runs FIRST: the
      // exactly-once REPLAY (an orchestrator re-running a landed batch)
      // is the idempotent verb's hot case, and it must not pay the frame
      // probe (chain walk + twin stamp IO) or a body parse just to
      // discover it should skip
      lazy val header = manifestMetaOnly(spark, root, v)
      val landed = txn.filter { case (appId, tv) =>
        header.txns.get(appId).exists(_ >= tv)
      }
      landed match {
        case Some((appId, tv)) =>
          graft.core.Logging.logger().info(
            s"$op: ($appId, $tv) already committed on $root (recorded " +
              s"${header.txns(appId)}) — skipping" +
              staged.fold("")(_ => " (staged files from the lost attempt " +
                "are unreferenced vacuum garbage)"))
          v
        case None =>
          // CHURN-BOUNDED fast path: when a checkpoint twin anchors the
          // body (the 10⁵-10⁶-file regime), the append publishes as edits
          // — header metadata + staged lines only; the existing file list
          // never materializes on the driver. Otherwise the driver body
          // binds ONCE per attempt (each manifestParts call revalidates
          // via getFileStatus: extra HEAD round-trips on an object store).
          val fast = bodyLinesFrame(spark, root, v)
          val (slowBody, meta) =
            if (fast.isDefined) (Nil, header) else manifestParts(spark, root, v)
          fast match {
            case Some(frame) => requireAppendSchemaCompatible(
              frameSchema(spark, root, meta, frame), df, op)
            case None =>
              requireAppendCompatible(spark, root, slowBody, meta, df, op)
          }
          val lines = staged match {
            case Some((m, l)) if m.schema == meta.schema &&
                m.partitionCols == meta.partitionCols &&
                m.bloomCols == meta.bloomCols => l
            case prior =>
              prior.foreach { _ =>
                graft.core.Logging.logger().warn(
                  s"$op: table metadata changed under a lost race on " +
                    s"$root — re-staging the append (the prior staged dir " +
                    "is unreferenced garbage for vacuum)")
              }
              val (_, l) = writeDataFiles(spark, fs, rootPath, v + 1, df,
                statsCols, meta)
              staged = Some((meta, l))
              l
          }
          val outMeta = txn.fold(meta) { case (appId, tv) =>
            meta.copy(txns = meta.txns + (appId -> tv))
          }
          fast match {
            case Some(frame) =>
              val edits = BodyEdits(Nil, lines)
              // the distributed gate is a broadcast semi-join over the
              // body frame — the driver never holds the body's names
              require(!gateBasenames || editsBasenamesUnique(spark, frame, edits),
                s"$op: basename collision in composed manifest body for " +
                  s"$root — stats and deletion-vector identity key on " +
                  "basename; refusing to publish a body that would " +
                  "cross-assign them")
              publishEdits(spark, root, v + 1, frame, edits, op, outMeta)
            case None =>
              if (gateBasenames)
                requireUniqueBasenames(op, root, slowBody ++ lines)
              publishLines(spark, root, v + 1, slowBody ++ lines, op, outMeta)
          }
      }
    }
  }

  /** The [[appendRows]] schema gate: the frame must carry exactly the
    * table's columns (case-insensitive, any order) with identical types.
    * Resolved from the recorded schema when one exists, else ONE data-file
    * footer; an empty schema-less table accepts any frame (the append
    * defines the shape, like a first commit).
    */
  private def requireAppendCompatible(spark: SparkSession, root: String,
      body: Seq[String], meta: TableMeta, df: DataFrame, op: String): Unit =
    requireAppendSchemaCompatible(
      tableSchema(spark, root, meta.schema, body.headOption), df, op)

  /** The schema-shaped half of [[requireAppendCompatible]], taking the
    * resolved table schema directly — the churn-bounded append path feeds
    * it from the header (or ONE frame-sampled footer) without a body.
    */
  private def requireAppendSchemaCompatible(tableSchema: Option[StructType],
      df: DataFrame, op: String): Unit = {
    tableSchema.foreach { s =>
      val have = df.schema.fields
        .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
      s.fields.foreach { f =>
        have.get(f.name.toLowerCase(java.util.Locale.ROOT)) match {
          case Some(dt) => require(dt == f.dataType,
            s"$op: column ${f.name} type mismatch — table " +
              s"${f.dataType.simpleString}, append ${dt.simpleString} " +
              "(widen with addColumns/commit, never a mixed append)")
          case None => throw new IllegalArgumentException(
            s"$op: append frame lacks table column ${f.name} — a silent " +
              "null fill is a data bug; select it explicitly (as null " +
              "if intended)")
        }
      }
      df.schema.fields.foreach(f =>
        require(s.fields.exists(_.name.equalsIgnoreCase(f.name)),
          s"$op: append column ${f.name} not in table schema " +
            s"${s.fieldNames.mkString(", ")} — declare it first with addColumns"))
    }
  }

  /** Compact the current snapshot into ~`targetBytes` files as a NEW
    * snapshot — same maintenance op as [[PartitionedSink.compact]], but the
    * swap is the manifest commit: readers of the old snapshot are never
    * disturbed, and a crash at any point leaves it current. No-op (None)
    * when the file count is already at target.
    *
    * Stats are PRESERVED across compaction: by default (`statsCols = None`)
    * the columns recorded in the current manifest are re-collected for the
    * compacted files, so a table's pruning power survives its maintenance
    * (losing it silently would turn every post-compaction [[readWhere]]
    * into a full scan). Pass `Some(cols)` to change the stats set, or
    * `Some(Nil)` to drop stats deliberately.
    */
  def compactSnapshot(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Option[Seq[String]] = None): Option[Long] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (fs, _) = fsOf(spark, root)
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"compactSnapshot: no committed snapshot under $root"))
    // ONE manifest read answers files, stats, and the declared schema
    val (body, meta) = manifestParts(spark, root, v)
    val totalBytes = bodyFileSizes(fs, root, body).map(_._2).sum
    val targetFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (body.length <= targetFiles) None
    else {
      val entries = body.map(parseLine)
      val cols = statsCols.getOrElse(bodyStatsOf(entries)
        .values.flatMap(_.cols.keys).toSeq.distinct.sorted)
      // DV-applied read: compacting a MoR-deleted table materializes the
      // deletions instead of resurrecting the rows; output carries no DVs
      // (and, read under the declared schema, materializes any addColumns
      // widening into the compacted files). Every table property survives,
      // and the publish is the MAINTENANCE rebase: a concurrent APPEND
      // carries onto the compacted body (it just compacts next time),
      // while a concurrent DML rewrite re-runs loudly.
      Some(maintenanceCommit(spark, root, "compactSnapshot", v, body, meta,
        readEntries(spark, root, entries, meta.schema).coalesce(targetFiles),
        cols))
    }
  }

  /** `(line, byteLen)` for every body line with ONE `listStatus` per data
    * directory instead of one `getFileStatus` per file — the candidate
    * scan of the compaction verbs costs O(#version-dirs) driver RPCs, not
    * O(#files), which is what keeps a nightly no-op run cheap on a
    * 10⁵-file table. A file the directory listing missed falls back to a
    * direct status probe (fail-loud, exactly as before).
    */
  private def bodyFileSizes(fs: FileSystem, root: String,
      body: Seq[String]): Seq[(String, Long)] = {
    val paths = body.map(l => l -> fs.makeQualified(new Path(bodyFile(root, l))))
    val listed = paths.map(_._2.getParent).distinct.flatMap { d =>
      try fs.listStatus(d).toSeq.collect {
        case s if s.isFile => s.getPath -> s.getLen
      } catch { case _: java.io.FileNotFoundException => Nil }
    }.toMap
    paths.map { case (l, p) =>
      l -> listed.getOrElse(p, fs.getFileStatus(p).getLen)
    }
  }

  /** Compact ONLY the small-file tail — the realistic nightly maintenance
    * at 100 TB, where rewriting the whole table ([[compactSnapshot]]) is
    * never an option: files under `smallBytes` are read (DVs applied,
    * declared schema materialized) and re-written as ~`targetBytes`
    * files; every other manifest line — the healthy bulk of the table —
    * carries VERBATIM, so the rewrite cost tracks the ingest tail, not
    * the table. Needs at least `minSmallFiles` candidates to bother
    * (rewriting one straggler buys nothing). Publishes through the
    * partial-maintenance rebase: concurrent appends carry (their fresh
    * files just compact next run); a concurrent DML rewrite of a
    * candidate re-runs loudly. Stats are inherited like
    * [[compactSnapshot]]; the recorded schema header stays (the bulk of
    * the table was NOT rewritten, so it is still load-bearing).
    *
    * @return Some(version) when a compaction landed, None when fewer
    *         than `minSmallFiles` files qualify or the tail is already
    *         at its target file count (the convergence guard — without
    *         it, N same-sized sub-threshold files would re-compact into
    *         N files every night, forever)
    */
  def compactSmallFiles(spark: SparkSession, root: String,
      smallBytes: Long = 16L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024,
      minSmallFiles: Int = 2,
      statsCols: Option[Seq[String]] = None): Option[Long] = {
    require(smallBytes > 0 && targetBytes > 0, "byte thresholds must be positive")
    require(minSmallFiles >= 2, "minSmallFiles must be >= 2 (one file gains nothing)")
    val (fs, rootPath) = fsOf(spark, root)
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"compactSmallFiles: no committed snapshot under $root"))
    val (body, meta) = manifestParts(spark, root, v)
    val small = bodyFileSizes(fs, root, body).filter(_._2 < smallBytes)
    if (small.size < minSmallFiles) return None
    val totalSmall = small.map(_._2).sum
    val targetFiles = math.max(1L, (totalSmall + targetBytes - 1) / targetBytes).toInt
    if (small.size <= targetFiles) return None // already converged
    val smallLines = small.map(_._1)
    val entries = smallLines.map(parseLine)
    val cols = statsCols.getOrElse(bodyStatsOf(body.map(parseLine))
      .values.flatMap(_.cols.keys).toSeq.distinct.sorted)
    val tail = readEntries(spark, root, entries, meta.schema)
    val (_, newLines) = writeDataFiles(spark, fs, rootPath, v + 1,
      tail.coalesce(targetFiles), cols, meta)
    val removed = smallLines.toSet
    // if the FINAL body empties (fully-DV-masked tail, empty-or-emptied
    // bulk), the rebase layer records the schema so the snapshot stays
    // readable — evaluated on the composed body, never the base view
    Some(rebaseLoop(spark, root, "compactSmallFiles", v, body, meta, meta,
      mustSurvive = removed,
      composeLines = b => b.filterNot(removed) ++ newLines,
      winnerLineOk = _ => true,
      emptySchema = Some(tail.schema), maxRebases = 5))
  }

  /** Stage `df` and publish it as a MAINTENANCE rewrite of version
    * `baseVersion`'s whole body ([[publishMaintenanceRebased]]) — the
    * commit point [[graft.operators.Layout.optimizeSnapshot]] shares with
    * [[compactSnapshot]]: concurrent appends carry, every table property
    * survives.
    */
  private[graft] def maintenanceCommit(spark: SparkSession, root: String,
      op: String, baseVersion: Long, baseBody: Seq[String], meta: TableMeta,
      df: DataFrame, statsCols: Seq[String]): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    val (_, newLines) = writeDataFiles(spark, fs, rootPath, baseVersion + 1,
      df, statsCols, meta)
    // the full rewrite MATERIALIZES any declared widening into the new
    // files, so a recorded schema header RETIRES; if the FINAL body
    // empties (every row DV-masked, nothing rebased in), the rebase layer
    // records the resolved shape instead — minus the reserved sort
    // marker, which is write-side metadata the files never carry
    // (optimizeSnapshot's partition-declared frame includes it)
    val emptySchema = meta.schema.orElse(Some(StructType(
      df.schema.filterNot(_.name == ClusterSortCol))))
    publishMaintenanceRebased(spark, root, op, baseVersion, baseBody,
      meta.copy(schema = None), meta, newLines, emptySchema)
  }

  /** Delete manifests superseded by the newest `keep` snapshots, then sweep
    * every data dir no surviving manifest references — superseded snapshots,
    * crashed attempts, and lost-race staging alike (reachability, not
    * name-derived paths, decides: staging dirs are nonce-named).
    *
    * `minAgeMs` is the retention guard: manifests and data dirs modified
    * within the last `minAgeMs` are left untouched, so a mis-timed vacuum
    * cannot eat an IN-FLIGHT commit's staging (unreferenced only because
    * its manifest hasn't published yet) or a snapshot a reader just pinned.
    * The default keeps nothing back (`0` — the no-concurrent-writers
    * regime); pass an age comfortably above your longest commit (the same
    * retention contract as every table format's vacuum).
    */
  def vacuum(spark: SparkSession, root: String, keep: Int = 1,
      minAgeMs: Long = 0L): Seq[Long] = {
    val (fs, rootPath) = fsOf(spark, root)
    // complete any rewrite swap a crashed prior vacuum left mid-flight
    // BEFORE planning, so the plan sees every retained version's manifest
    recoverManifestRewrites(spark, fs, rootPath)
    val plan = vacuumPlan(spark, root, keep, minAgeMs)
    // Delta manifests chain to earlier versions (base=): a RETAINED
    // manifest whose base is about to be reclaimed must be rewritten as a
    // full (checkpoint) manifest FIRST — resolved while its chain still
    // exists — or the retained version becomes unreadable. Ascending order
    // re-anchors later deltas onto the rewritten survivor; at most
    // checkpointInterval-1 manifests ever need this. The rewrite replaces
    // a write-once file (its mtime — the as-of publish instant — updates),
    // the same operator-owned mutation window a vacuum already is.
    val doomedSet = plan.versions.toSet
    if (doomedSet.nonEmpty) {
      listVersions(spark, root).filterNot(doomedSet).foreach { v =>
        if (manifestBase(spark, root, v).exists(doomedSet)) {
          val (body, meta) = manifestParts(spark, root, v)
          val mf = new Path(rootPath, manifestName(v))
          // preserve the PUBLISH instant: versionAsOf/readAsOf time-travel
          // resolves versions by manifest mtime, so the rewrite must not
          // make a retained version look published at vacuum time (which
          // would orphan its whole original as-of window)
          val publishedAt = fs.getFileStatus(mf).getModificationTime
          // Crash-recoverable swap: a RETAINED manifest must never have an
          // absent-file window with no durable copy (overwriteFile's
          // delete-then-rename fallback has exactly that window — fine for
          // the restart-from-scratch markers it serves, silent version
          // loss here). The deterministic sidecar IS the durable copy:
          // once it exists, every crash point is recoverable by
          // [[recoverManifestRewrites]].
          val side = new Path(rootPath, rewriteName(v, publishedAt))
          val bytes = (headerFor(v, meta) + body.mkString("", "\n", "\n"))
            .getBytes("UTF-8")
          // The swap must never leave a window where NEITHER copy of a
          // retained version exists, even against a concurrent caller's
          // [[recoverManifestRewrites]] acting on the same sidecar. So:
          // delete the live manifest ONLY while the sidecar is verified
          // present (it is the durable copy through that window), and if
          // the sidecar vanished under us — a concurrent recover judged it
          // stale, or completed the swap on a replacing-rename store —
          // NEVER touch the manifest blind: loop, re-read whether the
          // rewrite is still needed, and redo or stand down accordingly.
          var attempts = 0
          var done = false
          while (!done) {
            attempts += 1
            val mfExists = fs.exists(mf)
            if (!mfExists && !fs.exists(side))
              throw new java.io.IOException(
                s"vacuum: retained version $v lost — manifest and rewrite " +
                  s"sidecar both missing")
            if (attempts > 1 && mfExists &&
                !manifestBase(spark, root, v).exists(doomedSet)) {
              done = true // a concurrent caller completed an equivalent swap
            } else {
              if (attempts > 5) throw new java.io.IOException(
                s"vacuum: cannot swap rewritten manifest for version $v " +
                  s"after $attempts attempts — durable copy left at $side " +
                  s"(recovered on next vacuum/read)")
              // always (re)write: never rename a pre-existing file of
              // unknown provenance at this name into a manifest slot (a
              // concurrent caller's copy is byte-identical — deterministic
              // content — so overwriting it is harmless)
              CommitProtocol.overwriteFile(fs, side, bytes)
              if (fs.rename(side, mf)) { // POSIX replaces; HDFS refuses
                fs.setTimes(mf, publishedAt, -1); done = true
              } else if (fs.exists(side) && fs.exists(mf)) {
                // refuse-on-existing store: sidecar verified present, so
                // the delete window is covered by the durable copy
                fs.delete(mf, false)
                if (fs.rename(side, mf)) {
                  fs.setTimes(mf, publishedAt, -1); done = true
                } // else a concurrent recover won the rename — loop
              } // else sidecar vanished mid-swap — loop, never delete mf
            }
          }
          // the rewrite leaves a FULL manifest at an OFF-BOUNDARY
          // version: without a parquet twin every subsequent pruned read
          // of a chain anchored here demotes to the driver path until
          // the next checkpoint boundary — give large bodies their twin
          if (body.size >= parquetCheckpointMinLines(spark))
            writeCheckpointParquet(spark, root, v, body)
        }
      }
    }
    plan.versions.foreach { v =>
      // manifest FIRST: once it is gone the version no longer exists, and
      // its data dir is invisible garbage -- a reader can never observe a
      // manifest whose files have been deleted from under it. A crash
      // mid-plan leaves only such garbage, which the NEXT vacuum's
      // reachability sweep reclaims.
      if (!fs.delete(new Path(rootPath, manifestName(v)), false))
        throw new java.io.IOException(s"vacuum: cannot delete manifest for version $v")
      // any leftover rewrite sidecar of the DOOMED version must die WITH
      // the manifest: the age gate in [[recoverManifestRewrites]] keeps
      // young sidecars alive, so an orphaned one (a crashed chain-guard
      // swap of a version that later became doomed) would otherwise be
      // renamed back by the next recovery — resurrecting a 'retained'
      // version whose data files this vacuum is about to sweep
      Option(fs.globStatus(new Path(rootPath, manifestName(v) + ".rewrite-*")))
        .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, false))
      // the version's parquet checkpoint twin (if any) is derived metadata
      // with no references elsewhere — reclaim alongside the manifest
      fs.delete(ckptDir(rootPath, v), true)
    }
    // crashed twin writes leave unreferenced staging — age-gated sweep,
    // same contract as the data-dir sweep's in-flight protection
    val ckptStage = new Path(rootPath, "_ckpt_stage")
    if (fs.exists(ckptStage)) {
      val stageCutoff = System.currentTimeMillis() -
        math.max(minAgeMs, StaleRewriteAgeMs)
      fs.listStatus(ckptStage).foreach { s =>
        if (s.isDirectory && s.getModificationTime <= stageCutoff)
          fs.delete(s.getPath, true)
      }
    }
    plan.dataDirs.foreach { d =>
      if (!fs.delete(new Path(d), true))
        throw new java.io.IOException(s"vacuum: cannot delete $d")
    }
    plan.dataFiles.foreach { f =>
      if (!fs.delete(new Path(f), false))
        throw new java.io.IOException(s"vacuum: cannot delete $f")
    }
    plan.versions
  }

  /** What a [[vacuum]] with the same arguments would reclaim. `dataDirs`
    * and `dataFiles` are lexicographically sorted (deterministic across
    * runs and across the driver/distributed planning paths).
    */
  final case class VacuumPlan(versions: Seq[Long], dataDirs: Seq[String],
      dataFiles: Seq[String]) {
    def isEmpty: Boolean = versions.isEmpty && dataDirs.isEmpty && dataFiles.isEmpty
  }

  /** DRY-RUN [[vacuum]]: the exact manifests, unreferenced data dirs, and
    * superseded in-dir files the same-argument vacuum would delete, with
    * nothing touched -- the operator's look-before-you-reclaim (and the
    * input to a "how many bytes does retention hold" report). Subject to
    * the usual dry-run caveat: concurrent commits between preview and
    * vacuum can change the plan.
    */
  def vacuumPreview(spark: SparkSession, root: String, keep: Int = 1,
      minAgeMs: Long = 0L): VacuumPlan =
    vacuumPlan(spark, root, keep, minAgeMs)

  /** The shared reachability planner under [[vacuum]]/[[vacuumPreview]]:
    * doomed = superseded manifests older than the age guard; then any
    * data dir no surviving manifest references, and any unreferenced
    * parquet file inside referenced dirs ([[deleteWhere]] shares files
    * across versions, so a kept dir can hold a rewritten file's old
    * copy). The age gate also protects in-flight staging (unreferenced
    * only because its manifest has not published yet).
    */
  /** The component DIRECTLY under data/ — NOT the file's immediate
    * parent: partitioned staging nests files under Hive-style tag dirs
    * (data/<dir>/__gp_0=en/f.parquet), and keying on the immediate parent
    * would leave the real data dir out of the live set — vacuum would
    * sweep a LIVE dir once it aged past the gate. A path with no data/
    * ancestor (a clone's absolute foreign ref) keys on its top component,
    * which never collides with this root's local dir names.
    */
  private def dataDirComponent(p: Path): String = {
    var cur = p
    while (cur.getParent != null && cur.getParent.getName != "data")
      cur = cur.getParent
    cur.getName
  }

  /** Diagnostic counter: vacuum reachability plans computed DISTRIBUTED
    * (specs assert the twin-anchored path engaged).
    */
  private[graft] val vacuumFramePlans = new java.util.concurrent.atomic.AtomicLong

  /** [[vacuumPlan]]'s distributed twin — the reachability sweep at the
    * 10⁵–10⁶-file bar. The live (dir, file) set is NEVER materialized on
    * the driver: each surviving version's body resolves as a checkpoint-
    * frame + tail-edits DataFrame ([[bodyLinesFrame]]; versions without a
    * twin contribute their driver-resolved rels as a local dataset — they
    * are sub-floor by construction), and the file-level sweep inside
    * referenced dirs runs as a per-dir executor listing anti-joined
    * against the live frame. The driver receives: the kept-dir name set
    * (bounded by commit count, not file count) and the GARBAGE paths —
    * the list a vacuum must hold to delete anyway.
    *
    * None when no surviving version is twin-anchored (small tables — the
    * driver path is cheaper) or on ANY failure: the driver path below is
    * authoritative and the plans are semantically identical (spec-pinned
    * differential), so degrading costs only driver memory at scale.
    */
  private def distributedVacuumPlan(spark: SparkSession, root: String,
      doomed: Seq[Long], surviving: Seq[Long], cutoff: Long)
      : Option[VacuumPlan] = try {
    import spark.implicits._
    val (fs, rootPath) = fsOf(spark, root)
    var framed = 0
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val localRels = Seq.newBuilder[String]
    surviving.foreach { v =>
      bodyLinesFrame(spark, root, v) match {
        case Some(f) =>
          framed += 1
          frames += f.select("line").as[String].flatMap { l =>
            val e = parseLine(l); e.rel +: e.dvRel.toSeq
          }.toDF("rel")
        case None =>
          manifestBody(spark, root, v).foreach { l =>
            val e = parseLine(l)
            localRels += e.rel; e.dvRel.foreach(r => localRels += r)
          }
      }
    }
    if (framed == 0) return None // no twin anywhere — small-table regime
    val allRels = (frames.toSeq :+ localRels.result().toDF("rel"))
      .reduce(_ unionByName _)
    val liveKeys = allRels.as[String].map { rel =>
      val p = new Path(rel); (dataDirComponent(p), p.getName)
    }.toDF("dir", "name").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // kept-dir NAMES: one distinct per dir — commit-count-bounded
      val keptDirs = liveKeys.select("dir").distinct().as[String]
        .collect().toSet
      val dataRoot = new Path(rootPath, "data")
      val dirs = Seq.newBuilder[String]
      val keptLocal = Seq.newBuilder[String]
      if (fs.exists(dataRoot)) {
        // ONE top-level listing (an entry per commit dir, never per file)
        fs.listStatus(dataRoot).foreach { s =>
          if (s.isDirectory && !keptDirs.contains(s.getPath.getName) &&
              s.getModificationTime <= cutoff) dirs += s.getPath.toString
          else if (s.isDirectory && keptDirs.contains(s.getPath.getName))
            keptLocal += s.getPath.toString
        }
      }
      val keptLocalDirs = keptLocal.result()
      // FILE-level sweep inside referenced dirs, on EXECUTORS: each task
      // lists its dirs recursively (a filesystem rebuilt from the
      // driver's Hadoop conf) and the unreferenced-file decision is an
      // anti-join against the live frame — same *.parquet + age-gate
      // semantics as the driver path
      val files: Seq[String] =
        if (keptLocalDirs.isEmpty) Nil
        else {
          val confMap = {
            val it = spark.sparkContext.hadoopConfiguration.iterator()
            val b = Map.newBuilder[String, String]
            while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
            b.result()
          }
          val confB = spark.sparkContext.broadcast(confMap)
          val listed = spark.createDataset(keptLocalDirs)
            .repartition(math.max(1, math.min(keptLocalDirs.size,
              spark.sparkContext.defaultParallelism)))
            .mapPartitions { it =>
              val conf = new org.apache.hadoop.conf.Configuration(false)
              confB.value.foreach { case (k, v) => conf.set(k, v) }
              it.flatMap { dirPath =>
                val p = new Path(dirPath)
                val dfs = p.getFileSystem(conf)
                val out = scala.collection.mutable
                  .ArrayBuffer[(String, String, String, Long)]()
                val fit = dfs.listFiles(p, true)
                while (fit.hasNext) {
                  val f = fit.next()
                  if (f.isFile && f.getPath.getName.endsWith(".parquet"))
                    out += ((p.getName, f.getPath.getName,
                      f.getPath.toString, f.getModificationTime))
                }
                out
              }
            }.toDF("dir", "name", "path", "mtime")
          listed.join(liveKeys, Seq("dir", "name"), "left_anti")
            .filter(org.apache.spark.sql.functions.col("mtime") <= cutoff)
            .select("path").as[String].collect().toSeq
        }
      vacuumFramePlans.incrementAndGet()
      // deterministic order (the driver path emits listing order, which is
      // itself unspecified; sorting here keeps previews reproducible)
      Some(VacuumPlan(doomed, dirs.result().sorted, files.sorted))
    } finally { liveKeys.unpersist(false); () }
  } catch { case scala.util.control.NonFatal(_) =>
    None // derived fast path only — the driver plan below is authoritative
  }

  private def vacuumPlan(spark: SparkSession, root: String, keep: Int,
      minAgeMs: Long): VacuumPlan = {
    require(keep >= 1, "vacuum must keep at least the current snapshot")
    require(minAgeMs >= 0, "minAgeMs must be non-negative")
    val (fs, rootPath) = fsOf(spark, root)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val versions = listVersions(spark, root)
    // an uncommitted table has nothing to vacuum -- and sweeping here would
    // eat a bootstrap commit's staging for no benefit
    if (versions.isEmpty) return VacuumPlan(Nil, Nil, Nil)
    val doomed = versions.dropRight(keep).filter { v =>
      fs.getFileStatus(new Path(rootPath, manifestName(v))).getModificationTime <= cutoff
    }
    // DISTRIBUTED reachability first: when a checkpoint twin anchors the
    // surviving versions, the live-file set and the per-dir sweep run on
    // executors and the driver receives only the garbage list — the same
    // 10⁵–10⁶-file bar the read and commit paths hold. None (sub-floor
    // tables, no twin, any failure) falls through to the authoritative
    // driver path below, which is also the faster path at those sizes.
    distributedVacuumPlan(spark, root, doomed,
      versions.filterNot(doomed.contains), cutoff) match {
      case Some(p) => return p
      case None => ()
    }
    // live set FIRST, from the manifests that will survive (everything not
    // doomed -- including too-young superseded ones): any dir under data/
    // outside this set is unreachable garbage once the doomed manifests go
    // (dirName, fileName) keys, not path strings: listStatus returns
    // scheme-qualified paths (file:/...) while manifest-derived paths are
    // scheme-less -- string comparison would mark EVERY file unreferenced.
    // DELETION-VECTOR sidecars are reachable files too: sweeping a live
    // DV would silently RESURRECT its deleted rows
    val keptFiles = versions.filterNot(doomed.contains).flatMap(v =>
      manifestBody(spark, root, v).map(parseLine).flatMap(e =>
        e.rel +: e.dvRel.toSeq).map { rel =>
        val p = new Path(rel); (dataDirComponent(p), p.getName)
      }).toSet
    val keptDirs = keptFiles.map(_._1)
    val dirs = Seq.newBuilder[String]
    val files = Seq.newBuilder[String]
    val dataRoot = new Path(rootPath, "data")
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { s =>
        // age gate on the DIR's own mtime: an in-flight commit's staging is
        // young by definition -- reachability alone cannot distinguish it
        // from a crashed attempt until its manifest publishes (or never does)
        if (s.isDirectory && !keptDirs.contains(s.getPath.getName) &&
            s.getModificationTime <= cutoff) {
          dirs += s.getPath.toString
        } else if (s.isDirectory && keptDirs.contains(s.getPath.getName)) {
          // FILE-level sweep inside referenced dirs: [[deleteWhere]] shares
          // files across versions, so a kept dir can hold parquet files no
          // surviving manifest references (a rewritten file's old copy --
          // exactly the bytes a compliance purge must reclaim). Committed
          // dirs are immutable-once-published, so an unreferenced parquet
          // file here is never an in-flight write; the age gate still
          // applies for symmetry with the dir sweep.
          // recursive: a partitioned dir nests its parquet under tag dirs
          val it = fs.listFiles(s.getPath, true)
          while (it.hasNext) {
            val f = it.next()
            if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
                !keptFiles.contains((s.getPath.getName, f.getPath.getName)) &&
                f.getModificationTime <= cutoff) {
              files += f.getPath.toString
            }
          }
        }
      }
    }
    // deterministic order on BOTH planning paths (the distributed twin
    // sorts too): previews are reproducible and diffable across runs
    VacuumPlan(doomed, dirs.result().sorted, files.result().sorted)
  }
}
