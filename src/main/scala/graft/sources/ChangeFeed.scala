package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Materialized change-data feed for [[SnapshotManifest]] tables — the
  * engine's equivalent of Delta's Change Data Feed (behavioral reference:
  * the delta-load consumers in bi_utils/sql/incremental loads, which read
  * "rows changed since my watermark" rather than whole snapshots).
  *
  * [[SnapshotManifest.changesBetween]] COMPUTES a feed on demand; this
  * object PERSISTS each commit's feed once, under `root/_cdf/`, so that
  * (a) downstream consumers replay it as a plain parquet scan instead of
  * re-running the version diff per consumer, and (b) Structured Streaming
  * can tail the table: the `_cdf` directory is a valid file-stream source
  * ([[stream]]), each materialized commit surfacing as exactly-once files.
  *
  * Feed rows are the table's columns plus `_change` ∈ {insert, delete,
  * update_preimage, update_postimage} and `_commit_version` (the commit
  * that produced the change). Cost is churn-proportional end to end:
  * the diff reads only files unique to one side of each commit (see
  * [[SnapshotManifest.changesBetween]]), and the write is the feed's own
  * size — a metadata-only commit materializes an empty marker.
  *
  * Each commit's feed is one directory `c<from>-<to>`, published by an
  * atomic directory rename, so a listing (or a file-stream trigger) sees
  * a commit's feed completely or not at all; re-materializing an existing
  * range is a no-op (idempotent catch-up). A catch-up is ONE staged write
  * under `_cdf_stage/`, whose per-commit directories publish in ascending
  * order. Same object-store caveat as [[CommitProtocol]]: on stores
  * without atomic rename, substitute a conditional-put publish.
  */
object ChangeFeed {

  /** `{8,}`: same growth rule as the manifest name — version 1e8 must not
    * become invisible to the catch-up scan.
    */
  private val DirRe = "c(\\d{8,})-(\\d{8,})".r

  private def dirName(from: Long, to: Long) = f"c$from%08d-$to%08d"

  /** Materialized `(from, to)` ranges under `root/_cdf`, ascending by `to`. */
  def materializedRanges(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val (fs, rootPath) = SnapshotManifest.fsOf(spark, root)
    val cdf = new Path(rootPath, "_cdf")
    if (!fs.exists(cdf)) return Seq.empty
    fs.listStatus(cdf).toSeq.flatMap(s => s.getPath.getName match {
      case DirRe(f, t) if s.isDirectory => Some((f.toLong, t.toLong))
      case _ => None
    }).sortBy(_._2)
  }

  /** Persist the feed of one COMMIT STEP `fromVersion → toVersion` under
    * `root/_cdf`. The two versions must be ADJACENT retained versions —
    * coarse ranges are rejected, because they would (a) collapse
    * intermediate images (an insert-then-update reads as one insert) and
    * (b) overlap the per-commit ranges [[materializeNew]] publishes,
    * double-counting every covered commit in [[feed]]. After a vacuum,
    * "adjacent" means consecutive in the RETAINED version list (the
    * reclaimed commits' changes are gone either way; the step diff over
    * the survivors is the remaining truth).
    *
    * @return true if this call published the range; false if it was
    *         already materialized (idempotent catch-up / lost race)
    */
  def materialize(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, pk: Seq[String]): Boolean = {
    val versions = SnapshotManifest.listVersions(spark, root)
    val adjacent = versions.zip(versions.drop(1)).contains((fromVersion, toVersion))
    require(adjacent,
      s"ChangeFeed.materialize: ($fromVersion, $toVersion) is not an " +
        s"adjacent retained version pair of $root (retained: " +
        s"${versions.mkString(", ")}) — the feed is per-commit; use " +
        "materializeNew for catch-up")
    val overlap = overlapping(materializedRanges(spark, root), fromVersion, toVersion)
    require(overlap.isEmpty, s"ChangeFeed.materialize: ($fromVersion, " +
      s"$toVersion) overlaps already-materialized range(s) ${overlap.mkString(", ")} — $Unservable")
    materializeSteps(spark, root, Seq((fromVersion, toVersion)), pk).nonEmpty
  }

  /** Materialized ranges other than `(f, t)` that overlap its coverage.
    * Retained adjacency is not enough after a table vacuum: (6,8) is
    * adjacent once 7 is reclaimed, but publishing c6-8 beside c6-7
    * double-covers 6→7 and wedges coverage validation for every window.
    * A step in a genuine un-materialized GAP overlaps nothing.
    */
  private def overlapping(done: Seq[(Long, Long)], f: Long, t: Long) =
    done.filter { case (mf, mt) => !(mf == f && mt == t) && mf < t && f < mt }

  private val Unservable = "a vacuum reclaimed a version inside existing " +
    "coverage, so these changes cannot be served as a step (vacuumFeed the " +
    "stale ranges first if you intend a coarse re-materialization)"

  /** The write under [[materialize]] and [[materializeNew]]: skip the
    * published steps, diff the rest in one plan per schema group
    * ([[SnapshotManifest.changesByStep]]), stage each group in one write
    * partitioned by a copy of `_commit_version`, then publish the steps'
    * directories in ascending order — a crash leaves a published prefix
    * that the next catch-up extends. A step without feed rows gets a copy
    * of one schema-carrying empty part: its range must stay a readable
    * parquet dir, and the file-stream source needs real files.
    *
    * @return the steps this call published (a lost race is fine — the
    *         winner's feed is identical)
    */
  private def materializeSteps(spark: SparkSession, root: String,
      steps: Seq[(Long, Long)], pk: Seq[String]): Seq[(Long, Long)] = {
    val (fs, rootPath) = SnapshotManifest.fsOf(spark, root)
    def dest(f: Long, t: Long) = new Path(rootPath, new Path("_cdf", dirName(f, t)))
    val pending = steps.filterNot { case (f, t) => fs.exists(dest(f, t)) }
    if (pending.isEmpty) return Seq.empty
    val stage = new Path(rootPath,
      new Path("_cdf_stage", java.util.UUID.randomUUID.toString))
    def stepDir(t: Long) = new Path(stage, s"__step=$t")
    SnapshotManifest.changesByStep(spark, root, pending, Some(pk)).zipWithIndex.foreach {
      case ((tos, rows), i) =>
        rows.withColumn("__step", col("_commit_version"))
          .write.mode("append").partitionBy("__step").parquet(stage.toString)
        val empty = tos.filterNot(t => fs.exists(stepDir(t)))
        if (empty.nonEmpty) {
          val marker = new Path(stage, s"_marker$i")
          spark.createDataFrame(spark.sparkContext.parallelize(
            Seq.empty[org.apache.spark.sql.Row], 1), rows.schema).write.parquet(marker.toString)
          val part = fs.listStatus(marker).map(_.getPath).find(_.getName.endsWith(".parquet")).get
          empty.foreach(t => FileUtil.copy(fs, part, fs,
            new Path(stepDir(t), part.getName), false, fs.getConf))
        }
    }
    val published = pending.filter { case (f, t) =>
      CommitProtocol.publishDir(fs, stepDir(t), dest(f, t)) }
    fs.delete(stage, true)
    published
  }

  /** Catch the feed up to the table's current version: one feed
    * directory per not-yet-materialized commit boundary, all diffed in one
    * plan and staged in one write ([[materializeSteps]]), preserving
    * every intermediate image (a coarse first→current jump would collapse
    * an insert-then-update into one insert — per-commit steps are what
    * make the feed a faithful event log). The natural call site is right
    * after any DML/commit, or on a schedule; missed calls are repaired
    * here, not lost, because the catch-up derives from the retained
    * manifests rather than from who remembered to call it.
    *
    * Versions reclaimed by [[SnapshotManifest.vacuum]] can no longer be
    * diffed — the scan starts at the earliest retained version not yet
    * covered (feed gaps from over-eager vacuums are surfaced by the
    * returned ranges, never silently bridged).
    *
    * @return the ranges materialized by THIS call, ascending
    */
  def materializeNew(spark: SparkSession, root: String,
      pk: Seq[String]): Seq[(Long, Long)] =
    materializeNewResolved(spark, root, Some(pk))

  /** [[materializeNew]] keyed by the table's DECLARED primary key
    * ([[SnapshotManifest.setPrimaryKey]]) — resolved from the version
    * listing the catch-up performs anyway (no extra round-trips).
    */
  def materializeNew(spark: SparkSession, root: String): Seq[(Long, Long)] =
    materializeNewResolved(spark, root, None)

  private def materializeNewResolved(spark: SparkSession, root: String,
      pkOpt: Option[Seq[String]]): Seq[(Long, Long)] = {
    val versions = SnapshotManifest.listVersions(spark, root)
    if (versions.size < 2) return Seq.empty
    val pk = pkOpt.getOrElse {
      val declared = SnapshotManifest.primaryKey(spark, root, versions.last)
      require(declared.nonEmpty,
        s"ChangeFeed.materializeNew: no primary key declared for $root — " +
          "setPrimaryKey once, or pass pk explicitly")
      declared
    }
    val doneRanges = materializedRanges(spark, root)
    val done = doneRanges.map(_._2).toSet
    val pending = versions.zip(versions.tail).filter { case (f, t) =>
      !done(t) && {
        // a step overlapping existing coverage is skipped LOUDLY: the
        // manual verb fails there, and those commits stay unservable
        // through the feed until the operator acts; consumers past the
        // hole keep working because coverage validates per window
        val overlap = overlapping(doneRanges, f, t)
        overlap.foreach(r => graft.core.Logging.logger().warn(
          s"ChangeFeed.materializeNew: skipping ($f, $t) of $root — it " +
            s"overlaps already-materialized range $r; $Unservable"))
        overlap.isEmpty
      }
    }
    materializeSteps(spark, root, pending, pk)
  }

  /** The feed's schema: the table's columns (recorded header, or one
    * footer read on the driver, no job — never a full-list sweep) plus the
    * two feed columns.
    */
  def feedSchema(spark: SparkSession, root: String): StructType = {
    val v = SnapshotManifest.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"ChangeFeed.feedSchema: no committed snapshot under $root"))
    // header first: a RECORDED schema answers without resolving the body
    // (a 10⁵-line parse saved per stream start on schema-declared tables);
    // else one sampled line's footer, read on the driver with no job —
    // churn-bounded through the twin frame when one anchors the chain
    val table = SnapshotManifest.tableSchema(spark, root,
      SnapshotManifest.manifestMetaOnly(spark, root, v).schema,
      SnapshotManifest.sampleBodyLine(spark, root, v))
    require(table.nonEmpty, s"ChangeFeed.feedSchema: snapshot $v of $root " +
      "has no data files and no recorded schema")
    StructType(table.get.fields.toSeq :+
      StructField("_change", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
  }

  /** The selected ranges for `(since, until]`, VALIDATED complete: the
    * chain must be internally contiguous, start at `since` (when given),
    * and reach `until` (when given). A gap — an unmaterialized commit, or
    * a [[vacuumFeed]] that outran this consumer — throws instead of
    * silently returning partial changes a downstream would apply as if
    * whole (Delta CDF's out-of-retention error, same contract).
    */
  private def coveredRanges(spark: SparkSession, root: String,
      since: Option[Long], until: Option[Long]): Seq[(Long, Long)] = {
    val ranges = materializedRanges(spark, root)
      .filter { case (f, t) =>
        since.forall(f >= _) && until.forall(t <= _) }
    def fail(what: String) = throw new IllegalStateException(
      s"ChangeFeed: feed coverage for (${since.getOrElse("begin")}, " +
        s"${until.getOrElse("end")}] is incomplete — $what. Materialize the " +
        "missing commits (materializeNew) or, if vacuumFeed reclaimed them, " +
        "re-bootstrap the consumer from a snapshot.")
    ranges.zip(ranges.drop(1)).foreach { case ((_, t1), (f2, _)) =>
      if (f2 != t1) fail(s"gap between commit $t1 and commit $f2") }
    since.foreach(s => if (ranges.nonEmpty && ranges.head._1 != s)
      fail(s"first materialized range starts at ${ranges.head._1}, not $s"))
    until.foreach(u => if (ranges.nonEmpty && ranges.last._2 != u)
      fail(s"last materialized range ends at ${ranges.last._2}, not $u"))
    // empty selection: sound ONLY when the asked window is provably empty
    // of commits — a bounded window whose changes were reclaimed must not
    // read as "no changes" (the symmetric hazard for both bounds)
    if (ranges.isEmpty) {
      lazy val versions = SnapshotManifest.listVersions(spark, root)
      val emptyWindow = (since, until) match {
        case (Some(s), Some(u)) => s >= u
        case (Some(s), None) => !versions.lastOption.exists(_ > s)
        case (None, Some(u)) =>
          // provable only when history is complete from the bootstrap
          // (version 0 retained) and no commit boundary lands in (0, u]
          versions.headOption.contains(0L) && !versions.exists(v => v > 0 && v <= u)
        case (None, None) => true // "whole available feed" of nothing
      }
      if (!emptyWindow) fail("nothing materialized in the window")
    }
    ranges
  }

  /** Batch-read the materialized feed, optionally bounded to commits in
    * `(sinceVersion, untilVersion]` — the incremental consumer's "changes
    * since my watermark" read, a plain pruned parquet scan. Coverage is
    * VALIDATED, not assumed: a gap (unmaterialized commit, feed retention
    * that outran the consumer) throws instead of silently feeding partial
    * changes downstream. Commits materialized under different schema
    * widths merge by name (an [[SnapshotManifest.addColumns]] widening
    * adds nullable columns at the end): one footer per range directory,
    * read on the driver, first-seen columns first — the schema parquet's
    * `mergeSchema` infers, without its inference job.
    */
  def feed(spark: SparkSession, root: String,
      sinceVersion: Option[Long] = None,
      untilVersion: Option[Long] = None): DataFrame = {
    val ranges = coveredRanges(spark, root, sinceVersion, untilVersion)
    if (ranges.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        feedSchema(spark, root))
    val (fs, rootPath) = SnapshotManifest.fsOf(spark, root)
    val dirs = ranges.map { case (f, t) =>
      new Path(rootPath, new Path("_cdf", dirName(f, t))) }
    // the footer reads are small driver IO, issued together rather than
    // one round-trip after another
    import scala.concurrent.ExecutionContext.Implicits.global
    val footers = scala.concurrent.Future.traverse(dirs)(d =>
      scala.concurrent.Future(scala.concurrent.blocking(
        fs.listStatus(d).map(_.getPath).find(_.getName.endsWith(".parquet"))
          .map(p => org.apache.spark.sql.graftbridge.ColumnBridge
            .parquetFileSchema(spark, p.toString)))))
    val schema = scala.concurrent.Await.result(footers,
        scala.concurrent.duration.Duration.Inf).flatten
      .reduceLeft((a, b) =>
        StructType(a.fields ++ b.fields.filterNot(f => a.fieldNames.contains(f.name))))
    spark.read.schema(schema).parquet(dirs.map(_.toString): _*)
  }

  /** SQL table-valued function `table_changes(tableOrPath, fromVersion
    * [, toVersion])` (round-14 VERDICT ask #5): the pure-SQL spelling of
    * the windowed CDF read — versions are INCLUSIVE on both ends
    * (Delta's `table_changes` contract), mapped onto [[feed]]'s
    * `(since, until]` watermark window. The argument must name a
    * registered graft-snapshot table or a raw table root (same
    * resolution + provider gate as `CALL` procedures); coverage is
    * validated by [[coveredRanges]] at PLAN time, so a vacuumed or
    * unmaterialized window refuses the query instead of feeding partial
    * changes. Registered via
    * [[graft.GraftExtensions]]`.injectTableFunction`.
    */
  private[graft] def tableChangesPlan(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    def usage(what: String): Nothing = throw new IllegalArgumentException(
      s"table_changes(tableOrPath, fromVersion[, toVersion]): $what")
    if (args.length < 2 || args.length > 3)
      usage(s"got ${args.length} arguments")
    val name = args.head match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        s.toString
      case other => usage(s"the table argument must be a string literal, got $other")
    }
    def ver(e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
      e match {
        case Literal(v: Int, IntegerType) => v.toLong
        case Literal(v: Long, LongType) => v
        case other => usage(s"version bounds must be integer literals, got $other")
      }
    val from = ver(args(1))
    if (from < 1) usage(
      s"fromVersion must be >= 1 (version 0 is the bootstrap commit; it has no change feed), got $from")
    val until = if (args.length == 3) Some(ver(args(2))) else None
    until.foreach(u => if (u < from) usage(s"toVersion $u < fromVersion $from"))
    val spark = org.apache.spark.sql.SparkSession.active
    val root = GraftProcedures.resolveRoot(name)
    feed(spark, root, Some(from - 1), until).queryExecution.analyzed
  }

  /** Tail the table as a STREAM: a Structured Streaming file source over
    * the materialized feed. Each [[materialize]] publishes its directory
    * atomically, so a trigger sees whole commits; files are consumed
    * exactly once by the file-source log, giving an end-to-end
    * effectively-once pipeline when the sink is idempotent (e.g.
    * [[graft.streaming.StreamingUpsert]] applying the feed to a
    * downstream table). The schema is pinned at stream start — widen the
    * table mid-stream and the new columns appear on restart, the
    * standard file-source contract.
    */
  def stream(spark: SparkSession, root: String): DataFrame = {
    val (fs, rootPath) = SnapshotManifest.fsOf(spark, root)
    fs.mkdirs(new Path(rootPath, "_cdf")) // glob parent must exist at start
    spark.readStream
      .schema(feedSchema(spark, root))
      // the file source's 7-day default maxFileAge would silently IGNORE
      // newly-listed feed files older than (newest seen − 7d) — e.g. after
      // extended consumer downtime — and nothing downstream validates the
      // gap (coverage checks run in replicateAvailableNow at start, not in
      // the raw stream). The _cdf dir is bounded by vacuumFeed, so age-based
      // trimming buys nothing here: disable it outright.
      .option("maxFileAge", "36500d")
      .parquet(new Path(rootPath, "_cdf").toString + "/*")
  }

  /** Per-batch coverage assertion for LONG-RUNNING [[stream]] consumers:
    * the materialized ranges on disk must still chain contiguously from
    * `sinceVersion` (the consumer's applied watermark) through this
    * batch's highest commit. AvailableNow consumers validate coverage up
    * front ([[replicateAvailableNow]]); a CONTINUOUS consumer that a
    * concurrent [[vacuumFeed]] outruns has no such gate — ranges
    * reclaimed before the source ever LISTED them leave no trace in the
    * stream (the file source cannot miss what it never saw), so the gap
    * is silent by construction. Call this inside `foreachBatch` before
    * applying: a gap throws the standard coverage error (re-bootstrap
    * the consumer from a snapshot), never a silent skip. No-op for empty
    * batches and for batches at or below the watermark (a split commit's
    * tail re-delivery).
    */
  def validateBatchCoverage(spark: SparkSession, root: String,
      sinceVersion: Long, batch: DataFrame): Unit = {
    val hi = batch.agg(org.apache.spark.sql.functions
      .max(org.apache.spark.sql.functions.col("_commit_version"))).head()
    if (!hi.isNullAt(0) && sinceVersion < hi.getLong(0)) {
      coveredRanges(spark, root, Some(sinceVersion), Some(hi.getLong(0)))
      ()
    }
  }

  private def watermarkFile(dstRoot: String): Path =
    new Path(new Path(dstRoot), "_replication_watermark")

  /** The highest source commit version this replica has fully applied —
    * advanced by [[replicateAvailableNow]] after every batch, and the
    * reason a replica can keep validating feed coverage after
    * [[vacuumFeed]] reclaims ranges it already consumed: validation runs
    * from max(bootstrap version, this watermark), not from the bootstrap
    * forever. May LAG the checkpoint by one crash window (the marker
    * writes after the batch applies); a lagging watermark only makes
    * validation stricter, never silently weaker.
    */
  def replicaWatermark(spark: SparkSession, dstRoot: String): Option[Long] = {
    val (fs, _) = SnapshotManifest.fsOf(spark, dstRoot)
    val p = watermarkFile(dstRoot)
    if (!fs.exists(p)) None
    else Some(CommitProtocol.readFully(fs, p).trim.toLong)
  }

  private def advanceWatermark(spark: SparkSession, dstRoot: String,
      v: Long): Unit = {
    val (fs, _) = SnapshotManifest.fsOf(spark, dstRoot)
    if (replicaWatermark(spark, dstRoot).forall(_ < v))
      CommitProtocol.overwriteFile(fs, watermarkFile(dstRoot),
        v.toString.getBytes("UTF-8"))
  }

  /** Replicate a table through its materialized feed: run [[stream]] to
    * completion (AvailableNow) and apply every change to the snapshot
    * table at `dstRoot` — the feed-driven table copy that keeps a replica
    * converged at CHURN cost (the feed is churn-proportional; each batch
    * lands file-pruned). The replica must be bootstrapped to the source's
    * state as of the feed's first covered version
    * ([[SnapshotManifest.cloneTable]] of that version is the natural
    * zero-copy bootstrap); pass that version as `fromVersion` and the
    * feed's COVERAGE is verified before anything applies — a gap
    * (unmaterialized commit, feed retention that outran this replica)
    * fails loudly instead of converging to a wrong-but-plausible state.
    *
    * Application is ORDER-COLLAPSED per batch: for every PK the batch's
    * LAST state wins — ranked by `(_commit_version, change-kind)`, where
    * a delete outranks the images of its own commit's predecessors —
    * then one file-pruned MERGE lands the surviving upserts
    * ([[graft.operators.Upsert.mergeWhere]]) and one keyed anti-join
    * delete removes the deleted PKs
    * ([[graft.operators.Upsert.deleteKeys]]). Both arms are idempotent
    * and both retry lost manifest races, so the at-least-once foreachBatch
    * contract yields an effectively-once replica; a batch boundary
    * splitting a commit exposes a transient intermediate state that the
    * next batch converges away (the standard file-source caveat —
    * [[materialize]]'s atomic publish keeps whole commits together
    * whenever the trigger's file budget does).
    *
    * Null-PK rows replicate through the merge arm only ([[graft.operators
    * .Upsert.deleteKeys]] follows SQL `IN` semantics); feeds over the
    * [[graft.operators.Upsert]] family's PK-unique tables are the
    * intended regime.
    *
    * @return the replica's final state
    */
  def replicateAvailableNow(spark: SparkSession, srcRoot: String,
      dstRoot: String, pk: Seq[String], checkpointDir: String,
      statsCols: Seq[String] = Nil, maxKeySetSize: Int = 100000,
      fromVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{when => fwhen}
    require(pk.nonEmpty, "replicateAvailableNow: pk must name at least one column")
    require(SnapshotManifest.currentVersion(spark, dstRoot).isDefined,
      s"replicateAvailableNow: no committed snapshot under $dstRoot — " +
        "bootstrap the replica (cloneTable of the feed's from-version) first")
    // a gapped feed converges to a WRONG state that looks right — verify
    // coverage BEFORE applying anything, from wherever this replica
    // actually stands: the recorded watermark when it has consumed past
    // the bootstrap (already-applied ranges may legitimately be
    // vacuumed), else the stated bootstrap version. A FIRST run with
    // neither (the declared-PK overload's path) must not validate with
    // since=None — that checks only internal contiguity, so a vacuumFeed
    // that reclaimed early ranges would pass and the replica would
    // silently converge wrong. Anchor it at the source's earliest
    // retained version, the only provably-complete starting point; a
    // replica bootstrapped later than that must say so via fromVersion.
    val srcCurrent = SnapshotManifest.currentVersion(spark, srcRoot)
    val effectiveFrom = (fromVersion.toSeq ++
      replicaWatermark(spark, dstRoot).toSeq).maxOption
      .orElse(SnapshotManifest.listVersions(spark, srcRoot).headOption)
    if (!effectiveFrom.exists(ef => srcCurrent.forall(_ <= ef)))
      coveredRanges(spark, srcRoot, effectiveFrom, srcCurrent)
    val q = stream(spark, srcRoot).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val feedCols = Seq("_change", "_commit_version")
        val dataCols = batch.columns.filterNot(feedCols.contains).toSeq
        // PER-BATCH coverage from wherever this replica now stands: the
        // start-of-run check cannot see a vacuumFeed that outruns the
        // stream BETWEEN batches (reclaimed-before-listed ranges leave no
        // trace in the source) — re-validate before anything applies
        val hiRow = batch.agg(
          org.apache.spark.sql.functions.max(col("_commit_version"))).head()
        val hi = if (hiRow.isNullAt(0)) None else Some(hiRow.getLong(0))
        hi.foreach { h =>
          (replicaWatermark(spark, dstRoot).toSeq ++ effectiveFrom.toSeq)
            .maxOption.foreach { w =>
              if (w < h) { coveredRanges(spark, srcRoot, Some(w), Some(h)); () }
            }
        }
        // last-state-per-key: images of later commits win; within one
        // commit, update_preimage is the ONLY non-final state (a key's
        // commit emits delete, insert, or pre+post — never two finals)
        val rank = fwhen(col("_change") === "update_preimage", 0).otherwise(1)
        val ranked = batch.withColumn("__cf_ord",
          col("_commit_version") * 2 + rank)
        val last = graft.operators.AlertGate.latestPerKeyAgg(
          ranked, pk, "__cf_ord")
        val upserts = last.filter(col("_change")
            .isin("insert", "update_postimage"))
          .select(dataCols.map(c => col(s"`$c`")): _*)
        val deletes = last.filter(col("_change") === "delete")
          .select(pk.map(c => col(s"`$c`")): _*)
        // ONE atomic commit per batch: the upsert arm and the keyed-delete
        // arm share the merge kernel's single rewrite (disjoint key sets
        // by construction — last-state-per-key leaves one final state per
        // key). The old merge-then-delete pair paid two full commit
        // protocols (two data writes, two stats passes, two manifest
        // publishes) per micro-batch and rewrote overlapping files twice.
        SnapshotManifest.retryOnConflict()(
          graft.operators.Upsert.mergeWhere(spark, dstRoot, upserts, pk,
            statsCols, maxKeySetSize, deletes = Some(deletes)))
        // watermark AFTER both arms: a crash in between replays the batch
        // (idempotent), and a lagging watermark only tightens validation
        hi.foreach(h => advanceWatermark(spark, dstRoot, h))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    SnapshotManifest.read(spark, dstRoot)
  }

  /** [[replicateAvailableNow]] keyed by the source's DECLARED primary
    * key ([[SnapshotManifest.setPrimaryKey]]) — one extra metadata read,
    * once per stream run.
    */
  def replicateAvailableNow(spark: SparkSession, srcRoot: String,
      dstRoot: String, checkpointDir: String): DataFrame = {
    val v = SnapshotManifest.currentVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(
        s"replicateAvailableNow: no committed snapshot under $srcRoot"))
    val pk = SnapshotManifest.primaryKey(spark, srcRoot, v)
    require(pk.nonEmpty,
      s"replicateAvailableNow: no primary key declared for $srcRoot — " +
        "setPrimaryKey once, or pass pk explicitly")
    replicateAvailableNow(spark, srcRoot, dstRoot, pk, checkpointDir)
  }

  /** Reclaim feed directories whose `to`-version is ≤ `beforeVersion` —
    * the feed's own retention sweep (the table's [[SnapshotManifest
    * .vacuum]] never touches `_cdf`). Also sweeps crashed staging dirs
    * older than `staleStageMs`.
    */
  def vacuumFeed(spark: SparkSession, root: String, beforeVersion: Long,
      staleStageMs: Long = 24L * 3600 * 1000): Seq[(Long, Long)] = {
    val (fs, rootPath) = SnapshotManifest.fsOf(spark, root)
    val doomed = materializedRanges(spark, root).filter(_._2 <= beforeVersion)
    doomed.foreach { case (f, t) =>
      val p = new Path(rootPath, new Path("_cdf", dirName(f, t)))
      if (!fs.delete(p, true))
        throw new java.io.IOException(s"vacuumFeed: cannot delete $p")
    }
    val stage = new Path(rootPath, "_cdf_stage")
    if (fs.exists(stage)) {
      val cutoff = System.currentTimeMillis() - staleStageMs
      fs.listStatus(stage).foreach { s =>
        if (s.isDirectory && s.getModificationTime <= cutoff)
          fs.delete(s.getPath, true) // crashed materialization — unreferenced
      }
    }
    doomed
  }
}
