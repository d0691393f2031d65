package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE upsert (SURVEY §2.9, reference `utils.py:237-296`).
  *
  * Semantics preserved from the reference's generated Exasol MERGE:
  *   - ON = conjunction of equality over caller-passed PK columns
  *     (whitespace-trimmed, `utils.py:264-269`)
  *   - WHEN MATCHED → take every staged column EXCEPT the PKs and
  *     `INSERT_TIMESTAMP` (both keep the target's value, `utils.py:273`);
  *     `UPDATE_TIMESTAMP` comes from staged (`utils.py:270`)
  *   - WHEN NOT MATCHED → insert the staged row wholesale incl. both
  *     timestamps (`utils.py:283-290`)
  *
  * Spark-first design: one `full_outer` join on the PK + a per-column
  * `coalesce` projection — a single shuffle on the PK columns, no driver-side
  * row handling. At 100 TB the join is a standard shuffle-hash/sort-merge on
  * the PK; if the staged side is small Catalyst/AQE broadcast it, and if the
  * target is bucketed by PK the shuffle on the target side disappears
  * entirely. Atomicity on plain parquet = write-to-temp-then-swap
  * (`mergeAndSwap`), or — object-store-safe — the snapshot-manifest commit
  * (`mergeAndCommit`); on a Delta-capable catalog the same call maps to
  * `MERGE INTO` verbatim.
  *
  * Null caveat (documented, deliberate): PK equality is Spark SQL `=` — null
  * PKs never match, same as the Exasol MERGE the reference emits.
  */
object Upsert {

  val InsertTs = "INSERT_TIMESTAMP"
  val UpdateTs = "UPDATE_TIMESTAMP"

  /** Parse the reference's comma-separated PK string (`"COL1, COL2"`). */
  def parsePkColumns(pkColumns: String): Seq[String] =
    pkColumns.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** A column name not colliding with any of `taken` — bookkeeping columns
    * must never shadow a user column that happens to carry the default
    * name.
    */
  private def freshName(base: String, taken: Seq[String]): String = {
    var n = base
    while (taken.contains(n)) n += "_"
    n
  }

  /** Set-based MERGE: returns the merged table as a DataFrame.
    *
    * Matched rows take staged values for every column except `pkCols` and
    * `INSERT_TIMESTAMP`; unmatched-target rows pass through; unmatched-staged
    * rows are inserted whole.
    */
  def merge(target: DataFrame, staged: DataFrame, pkCols: Seq[String]): DataFrame = {
    require(pkCols.nonEmpty, "at least one PK column required")
    val pk = pkCols.map(_.trim)
    // presence markers make match/staged-only/target-only unambiguous even
    // when PK columns themselves contain nulls (which never match, as in the
    // reference's generated `=` MERGE condition); marker names are chosen
    // collision-free so a user column literally named __t_present survives
    val taken = target.columns.toSeq ++ staged.columns.toSeq
    val tMark = freshName("__t_present", taken)
    val sMark = freshName("__s_present", taken :+ tMark)
    val t = target.withColumn(tMark, lit(true)).alias("t")
    val s = staged.withColumn(sMark, lit(true)).alias("s")
    val joined =
      t.join(s, pk.map(c => col(s"t.`$c`") === col(s"s.`$c`")).reduce(_ && _), "full_outer")

    val matched = col(s"t.`$tMark`").isNotNull && col(s"s.`$sMark`").isNotNull
    val stagedOnly = col(s"t.`$tMark`").isNull

    val outCols: Seq[Column] = target.columns.toSeq.map { c =>
      val tc = col(s"t.`$c`")
      val stagedHas = staged.columns.contains(c)
      val sc = if (stagedHas) col(s"s.`$c`") else lit(null)
      val v =
        if (pk.contains(c) || c == InsertTs)
          // PK/INSERT_TIMESTAMP: target value wins on match; staged only on insert
          when(stagedOnly, sc).otherwise(tc)
        else if (stagedHas)
          // staged wins when present (incl. UPDATE_TIMESTAMP)
          when(stagedOnly || matched, sc).otherwise(tc)
        else
          // column absent from the staged frame (schema drift): ANSI MERGE
          // only SETs staged columns, so matched rows KEEP the target value
          // — overwriting with null would silently erase data
          tc
      v.alias(c)
    }
    joined.select(outCols: _*)
  }

  /** merge + comma-string PK convenience mirroring the reference signature. */
  def merge(target: DataFrame, staged: DataFrame, pkColumns: String): DataFrame =
    merge(target, staged, parsePkColumns(pkColumns))

  /** Diagnostic counter: co-located merges taken (specs assert the
    * declared-hint path engaged, or that a too-fat batch degraded).
    */
  private[graft] val colocatedMergeCount =
    new java.util.concurrent.atomic.AtomicLong

  /** The ONE merge-strategy gate shared by [[mergeWhere]] and
    * [[mergeWhereMoR]]: the explicit `colocated` argument (resolved by the
    * caller against the table's declared merge= hint) selects
    * [[mergeColocated]], gated on the staged row count — a batch too fat
    * to broadcast degrades LOUDLY to the shuffle [[merge]], so correctness
    * never depends on the hint. `stagedRowCount` is a thunk: the count is
    * only paid when the hint is actually on.
    */
  private def pickMergeStrategy(verb: String, wantColoc: Boolean,
      stagedRowCount: () => Long, maxColocatedRows: Long)
      : (DataFrame, DataFrame, Seq[String]) => DataFrame =
    if (!wantColoc)
      (t: DataFrame, s: DataFrame, p: Seq[String]) => merge(t, s, p)
    else {
      val n = stagedRowCount()
      if (n <= maxColocatedRows) {
        colocatedMergeCount.incrementAndGet()
        (t: DataFrame, s: DataFrame, p: Seq[String]) => mergeColocated(t, s, p)
      } else {
        graft.core.Logging.logger().warn(
          s"$verb: staged batch ($n rows) exceeds maxColocatedRows=" +
            s"$maxColocatedRows — degrading the co-located merge to the " +
            "shuffle merge for this batch")
        (t: DataFrame, s: DataFrame, p: Seq[String]) => merge(t, s, p)
      }
    }

  /** [[merge]] decomposed for a BIG target and a churn-sized staged batch:
    * identical semantics, ZERO target-side exchange. The full-outer form
    * shuffles both sides on the PK — at 100 TB the target-side Exchange is
    * the merge's dominant cost. Here the staged batch (the delta — small
    * by construction) broadcasts instead, and the target is only ever
    * scanned:
    *
    *   1. update pass — `target LEFT OUTER JOIN broadcast(staged)` on the
    *      PK: matched rows take staged values (same PK/INSERT_TIMESTAMP/
    *      drift carve-outs as [[merge]]), unmatched target rows pass
    *      through. A narrow broadcast-hash join over the target scan.
    *   2. matched keys — `target SEMI JOIN broadcast(staged keys)`,
    *      deduplicated PER PARTITION (no shuffle): the PK tuples that
    *      found a match, ≤ distinct staged keys × partitions even when
    *      the target holds duplicate PKs.
    *   3. inserts — `staged ANTI JOIN broadcast(matched keys)`: staged
    *      rows no target row matched (null-component PKs never equal, so
    *      they insert — reference parity), aligned to the target's
    *      columns with null for staged-absent ones.
    *
    * Output = pass 1 ∪ pass 3. No node in the plan is a shuffle: strictly
    * stronger than bucketing the target (which still pays one staged-side
    * Exchange into the bucket partitioning) — asserted in
    * ColocatedMergeSpec. The target is scanned twice (update + matched-key
    * pass); callers merging a pruned slice ([[mergeWhere]]) re-read only
    * churn files. CALLER CONTRACT: `staged` must fit in a broadcast —
    * [[mergeWhere]] gates on `maxColocatedRows` and degrades loudly to the
    * shuffle [[merge]] rather than risking a driver OOM.
    */
  def mergeColocated(target: DataFrame, staged: DataFrame,
      pkCols: Seq[String]): DataFrame = {
    require(pkCols.nonEmpty, "at least one PK column required")
    val pk = pkCols.map(_.trim)
    val taken = target.columns.toSeq ++ staged.columns.toSeq
    val sMark = freshName("__s_present", taken)
    val t = target.alias("t")
    val s = broadcast(staged.withColumn(sMark, lit(true))).alias("s")
    val joined = t.join(s,
      pk.map(c => col(s"t.`$c`") === col(s"s.`$c`")).reduce(_ && _),
      "left_outer")
    val matched = col(s"s.`$sMark`").isNotNull
    val updateCols: Seq[Column] = target.columns.toSeq.map { c =>
      val tc = col(s"t.`$c`")
      val stagedHas = staged.columns.contains(c)
      val v =
        if (pk.contains(c) || c == InsertTs) tc // target wins on match
        else if (stagedHas) when(matched, col(s"s.`$c`")).otherwise(tc)
        else tc // staged-absent column (drift): matched rows keep target
      v.alias(c)
    }
    val updatedOrKept = joined.select(updateCols: _*)
    val pkColsOf = (d: DataFrame) => d.select(pk.map(c => col(s"`$c`")): _*)
    val matchedRaw = pkColsOf(target).alias("tk").join(
      broadcast(pkColsOf(staged).alias("sk")),
      pk.map(c => col(s"tk.`$c`") === col(s"sk.`$c`")).reduce(_ && _),
      "left_semi")
    // PER-PARTITION dedup before the broadcast — a global distinct would
    // reintroduce a shuffle, but without ANY dedup the broadcast is
    // bounded by matched TARGET rows, not by the staged batch: a target
    // with heavily duplicated PKs (legal for the raw operator, even
    // though the snapshot MERGE family's declared invariant is pk-unique
    // snapshots) would collect every duplicate to the driver. Per-
    // partition dedup caps it at distinct-matched-keys × partitions —
    // a function of the (gated) staged key count again.
    val matchedKeys = matchedRaw.mapPartitions { it =>
      // canonical content key, NOT the Row itself: Row.equals compares
      // array contents but Row.hashCode hashes array IDENTITY, so a
      // HashSet[Row] would silently never collapse binary (Array[Byte])
      // PKs and the bound below would not hold for them
      def canon(v: Any): Any = v match {
        case a: Array[_] => a.toSeq.map(canon)
        case x => x
      }
      val seen = new java.util.HashSet[Seq[Any]]()
      it.filter(r => seen.add(r.toSeq.map(canon)))
    }(org.apache.spark.sql.Encoders.row(matchedRaw.schema))
    val inserts = staged.alias("ins").join(
      broadcast(matchedKeys.alias("mk")),
      pk.map(c => col(s"ins.`$c`") === col(s"mk.`$c`")).reduce(_ && _),
      "left_anti")
    val insertCols: Seq[Column] = target.columns.toSeq.map { c =>
      (if (staged.columns.contains(c)) col(s"ins.`$c`") else lit(null))
        .alias(c)
    }
    updatedOrKept.unionByName(inserts.select(insertCols: _*))
  }

  /** Full reference flow (`merge_tmp_into_target_tbl`): stage → merge →
    * atomic swap on a parquet path → audit count of rows updated today
    * (`utils.py:293-295`). Returns the audit count.
    */
  def mergeAndSwap(
      spark: SparkSession,
      targetPath: String,
      staged: DataFrame,
      pkCols: Seq[String]
  ): Long = {
    val target = spark.read.parquet(targetPath)
    val merged = merge(target, staged, pkCols)
    val tmpPath = targetPath.stripSuffix("/") + "__swap_tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmpPath)
    // single-writer atomic-ish swap (Delta would make this transactional)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmpPath), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(targetPath)
    // Hadoop FS ops signal failure by RETURN VALUE, not exception — an
    // ignored false from rename after a successful delete would leave the
    // live table gone with the only copy stranded at the tmp path.
    if (!fs.delete(dst, true) && fs.exists(dst))
      throw new java.io.IOException(
        s"mergeAndSwap: could not delete $targetPath; merged data is intact at $tmpPath")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmpPath), dst))
      throw new java.io.IOException(
        s"mergeAndSwap: rename $tmpPath -> $targetPath failed; " +
          s"target was removed, RECOVER the merged table from $tmpPath")
    auditUpdatedToday(spark.read.parquet(targetPath))
  }

  /** [[mergeAndSwap]] upgraded to the snapshot-manifest commit protocol
    * ([[graft.sources.SnapshotManifest]]): the merged table is written as
    * immutable data files and becomes current via ONE atomic rename of a
    * manifest — no delete-then-rename window, object-store-safe, previous
    * snapshot readable throughout (and after a crash at any point).
    * `tableRoot` is a SnapshotManifest table; bootstrap one with
    * `SnapshotManifest.commit(spark, root, initialDf)`. The rename-swap
    * variant remains for plain parquet paths.
    *
    * @return (committed version, audit count of rows updated today)
    */
  def mergeAndCommit(
      spark: SparkSession,
      tableRoot: String,
      staged: DataFrame,
      pkCols: Seq[String]
  ): (Long, Long) = {
    val target = graft.sources.SnapshotManifest.read(spark, tableRoot)
    val version = graft.sources.SnapshotManifest.commit(
      spark, tableRoot, merge(target, staged, pkCols))
    // pin the audit to the version we just committed, not to read(): a
    // concurrent commit landing in between would make the audit describe a
    // different snapshot than the returned version
    (version, auditUpdatedToday(spark.read.parquet(
      graft.sources.SnapshotManifest.snapshotFiles(spark, tableRoot, version): _*)))
  }

  /** File-pruned copy-on-write MERGE — [[mergeAndCommit]]'s fast path for
    * narrow-key staged batches, completing the snapshot-table DML triad
    * with [[graft.sources.SnapshotManifest.deleteWhere]]/`updateWhere`:
    * instead of rewriting the whole table, only the files whose manifest
    * stats ADMIT one of the staged PK values are merged and rewritten;
    * every other file's manifest line (path AND stats) carries over
    * verbatim. Staged rows matching no admitted file are pure inserts and
    * land in the rewritten output. Same [[merge]] semantics — matched rows
    * take staged values except PKs and `INSERT_TIMESTAMP`, null PKs never
    * match (pure inserts) — so `mergeWhere` ≡ `merge` over the whole
    * table, file pruning only decides which bytes are rewritten.
    *
    * The prune predicate comes from the staged batch itself: the distinct
    * non-null PK tuples are collected when there are at most
    * `maxKeySetSize` of them (churn-bounded — staged is the delta) and
    * become per-column `IN` lists (a conservative cross-product superset
    * for composite PKs — sound: a file holding a matching row admits each
    * key component independently); above the cap, one aggregation yields
    * per-column min/max and the predicate degrades to a range conjunction
    * (still sound, coarser). At 100 TB with a PK-range-clustered layout
    * ([[graft.operators.Layout]] or `repartitionByRange` at commit), a
    * narrow-key merge rewrites a handful of files and the decision is one
    * driver-side manifest read.
    *
    * Output columns are cast back to the TARGET's types: a widening staged
    * column would otherwise write parquet files whose schema diverges from
    * the verbatim-kept files and corrupt the mixed-file read (the same
    * hazard `updateWhere` documents).
    *
    * Two optional arms extend the same SINGLE atomic commit to the full
    * SQL MERGE clause family ([[graft.plans.SnapshotStatements]]):
    *   - `deletes`: matched-DELETE key tuples (`WHEN MATCHED [AND cond]
    *     THEN DELETE`) — anti-joined out of the merged rewrite; their
    *     keys join the prune predicate, so the delete arm stays
    *     churn-bounded.
    *   - `deleteUnmatched = (sourceKeys, cond)`: `WHEN NOT MATCHED BY
    *     SOURCE [AND cond] THEN DELETE` — target rows whose PK appears in
    *     no source row and satisfying `cond` (over the target row) are
    *     dropped BEFORE the merge. Every file may hold such a row, so
    *     this arm rewrites all files (inherent to full-sync semantics)
    *     and disables both the churn fast path and race disjointness
    *     proofs (concurrent commits refuse rather than rebase).
    *
    * @return the committed version (the current version unchanged when
    *         `staged` is empty — a no-op merge commits nothing)
    */
  def mergeWhere(spark: SparkSession, tableRoot: String, staged: DataFrame,
      pkCols: Seq[String], statsCols: Seq[String] = Nil,
      maxKeySetSize: Int = 100000,
      colocated: Option[Boolean] = None,
      maxColocatedRows: Long = 1L << 20,
      deletes: Option[DataFrame] = None,
      deleteUnmatched: Option[(DataFrame, Column)] = None): Long = {
    import graft.sources.{ManifestStats, SnapshotManifest}
    require(pkCols.nonEmpty, "at least one PK column required")
    require(maxKeySetSize >= 1, "maxKeySetSize must be >= 1")
    val pk = pkCols.map(_.trim)
    val v = SnapshotManifest.currentVersion(spark, tableRoot).getOrElse(
      throw new IllegalStateException(s"mergeWhere: no committed snapshot under $tableRoot"))
    // the staged frame feeds THREE actions (emptiness probe, key-set
    // collect, merge write): persist pins one evaluation — a heavy staged
    // expression prices once, and a non-deterministic source cannot hand
    // the prune and the merge different rows
    val stagedP = staged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // matched-DELETE keys: same pin (they feed the prune key-set AND the
    // anti-join); normalized to distinct non-null PK tuples (SQL IN
    // semantics — a null-component key matches nothing)
    val deletesP = deletes.map(_.select(pkCols.map(c => col(s"`$c`")): _*)
      .na.drop("any", pkCols).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    lazy val stagedRowCount = stagedP.count()
    def pickMerge(declared: Boolean)
        : (DataFrame, DataFrame, Seq[String]) => DataFrame =
      pickMergeStrategy("mergeWhere", colocated.getOrElse(declared),
        () => stagedRowCount, maxColocatedRows)
    def dropDeleted(merged: DataFrame): DataFrame = deletesP match {
      case Some(d) =>
        var kp = "__md_"
        while (pkCols.exists(c => merged.columns.contains(kp + c))) kp += "_"
        val keyed = d.select(pkCols.map(c =>
          col(s"`$c`").alias(s"$kp$c")): _*)
        merged.join(keyed, pkCols.map(c =>
          col(s"`$c`") === col(s"$kp$c")).reduce(_ && _), "left_anti")
      case None => merged
    }
    try {
      // CHURN-BOUNDED fast path: with a twin-anchored body the candidate
      // classification runs on executors, the commit publishes as edits,
      // and the driver never holds the file list — the merge's cost is
      // O(staged ∪ affected) whatever the table size. keyPred None means
      // every staged key is null (pure inserts): NOTHING is affected by
      // fiat, matching the text path's `affected = Set.empty` — the
      // classifier must not decide it (no job runs at all), because
      // stats-LESS lines may-match ANY predicate, even lit(false), and a
      // pure-insert batch into a stats-less table would otherwise
      // classify — and rewrite — the whole table.
      // The key-set prune covers BOTH arms: staged upsert keys and the
      // matched-delete keys (a file holding a doomed key must rewrite)
      val keyFrame = deletesP match {
        case Some(d) =>
          stagedP.select(pk.map(c => col(s"`$c`")): _*).unionByName(d)
        case None => stagedP
      }
      val fastKeyPred = stagedKeyPredicate(keyFrame, pk, maxKeySetSize)
      // ONE bounded collect (the key predicate's) answers the emptiness
      // probe too: a defined predicate proves a non-null key exists, so
      // the common non-empty batch skips the separate isEmpty job the old
      // shape paid first. Only the None case (no non-null key anywhere)
      // still needs isEmpty — to tell a genuinely empty batch (no-op)
      // from an all-null-key pure-insert batch (must commit). deletesP is
      // normalized to non-null distinct keys, so None also proves the
      // delete arm is empty.
      if (fastKeyPred.isEmpty && deleteUnmatched.isEmpty && stagedP.isEmpty)
        return v
      // deleteUnmatched touches every file by construction — no churn
      // fast path, the text path below rewrites the full body
      val classified = if (deleteUnmatched.isDefined) None
      else fastKeyPred match {
        case Some(p) => SnapshotManifest.classifyAffected(spark, tableRoot, v, p)
        case None => SnapshotManifest.frameWithSchema(spark, tableRoot, v)
          .map { case (m, s, f) => (m, s, f, Nil: Seq[String]) }
      }
      val fastResult = classified.map {
        case (meta, targetSchema, frame, affectedLines) =>
          pk.foreach(c => require(targetSchema.fieldNames.contains(c),
            s"mergeWhere: PK column $c not in target schema " +
              targetSchema.fieldNames.mkString(", ")))
          val targetAffected =
            if (affectedLines.isEmpty)
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                targetSchema)
            else SnapshotManifest.readEntries(spark, tableRoot,
              affectedLines.map(SnapshotManifest.parseLine), meta.schema)
          val merged = dropDeleted(
            pickMerge(meta.colocatedMerge)(targetAffected, stagedP, pk))
          val aligned = merged.select(targetSchema.fields.toSeq.map(f =>
            col(s"`${f.name}`").cast(f.dataType).alias(f.name)): _*)
          SnapshotManifest.publishVersionEditsRebased(spark,
            tableRoot, v + 1, aligned, statsCols, frame, affectedLines,
            "mergeWhere", meta,
            ManifestStats.resolvePredicate(spark, targetSchema,
              fastKeyPred.getOrElse(lit(false))))
      }
      if (fastResult.isDefined) return fastResult.get
      val (body, meta) = SnapshotManifest.manifestParts(spark, tableRoot, v)
      if (body.isEmpty) {
        // delete arms against an EMPTY table are no-ops; without staged
        // rows there is nothing to commit at all
        if (stagedP.isEmpty) return v
        // degenerate current snapshot with zero data files (everything was
        // deleted): the merge is just the staged rows — but still ALIGNED
        // to the TABLE's schema, recovered from the most recent version
        // that had files (publishing the staged frame verbatim would graft
        // its bookkeeping columns/types — e.g. a stream's ts column — into
        // the table). Only a table whose every retained version is empty
        // (unreachable through this API: the bootstrap commit requires
        // files) falls back to the staged schema.
        // one directory listing yields the retained versions — never a
        // per-version existence probe (a long-lived table can be at v≈1e5).
        // A RECORDED schema (addColumns) on the current version is the
        // table's declared shape and wins over file inference.
        val tableSchema = meta.schema
          .orElse(SnapshotManifest.listVersions(spark, tableRoot)
            .filter(_ < v).reverseIterator
            .map(SnapshotManifest.manifestBody(spark, tableRoot, _))
            .collectFirst { case b if b.nonEmpty =>
              SnapshotManifest.tableSchema(spark, tableRoot, None, b.headOption).get
            })
        val alignedStaged = tableSchema match {
          case Some(ts) =>
            ts.fieldNames.foreach(c => require(stagedP.columns.contains(c) ||
              !pk.contains(c), s"mergeWhere: PK column $c not in staged schema"))
            stagedP.select(ts.fields.toSeq.map(f =>
              (if (stagedP.columns.contains(f.name)) col(s"`${f.name}`")
               else lit(null)).cast(f.dataType).alias(f.name)): _*)
          case None => stagedP
        }
        return SnapshotManifest.publishVersion(spark, tableRoot, v + 1,
          alignedStaged, statsCols, Nil, "mergeWhere", meta)
      }
      val files = body.map(SnapshotManifest.bodyFile(tableRoot, _))
      val targetSchema = SnapshotManifest.tableSchema(spark, tableRoot, meta.schema, body.headOption).get
      pk.foreach(c => require(targetSchema.fieldNames.contains(c),
        s"mergeWhere: PK column $c not in target schema ${targetSchema.fieldNames.mkString(", ")}"))
      // NOTE on evolution: merge() itself already implements ANSI MERGE
      // schema drift — a staged frame missing a (possibly just-added)
      // target column keeps the target value on match and inserts null,
      // and staged extras are dropped by the aligned select. No staged
      // realignment is needed here; only the TARGET read must follow the
      // declared schema.
      val keyPred = fastKeyPred // computed once above; staged is pinned
      val affected =
        if (deleteUnmatched.isDefined) files.toSet // every file may hold an unmatched row
        else keyPred match {
          case Some(p) => ManifestStats.prune(files, SnapshotManifest.bodyStats(body),
            ManifestStats.resolvePredicate(spark, targetSchema, p)).toSet
          case None => Set.empty[String]
        }
      // affected files read with their deletion vectors APPLIED — a
      // MoR-deleted row must not resurrect through the merge rewrite
      val targetAffected =
        if (affected.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], targetSchema)
        else SnapshotManifest.readEntries(spark, tableRoot,
          body.map(SnapshotManifest.parseLine).zip(files)
            .collect { case (e, f) if affected(f) => e }, meta.schema)
      // NOT-MATCHED-BY-SOURCE arm: drop target rows whose PK no source
      // row carries AND that satisfy the clause condition, BEFORE the
      // merge — the merge then only sees survivors. Membership is a
      // left-join marker against the distinct source key frame (AQE
      // broadcasts it when small; never a driver collect).
      val targetForMerge = deleteUnmatched match {
        case Some((sourceKeys, cond)) =>
          val origCols = targetAffected.columns.toSeq
          var kp = "__nb_"
          while (origCols.exists(c => c.startsWith(kp))) kp += "_"
          val marker = s"${kp}m"
          val keyed = sourceKeys.select(pk.map(c => col(s"`$c`")): _*)
            .na.drop("any", pk).distinct()
            .select((pk.map(c => col(s"`$c`").alias(s"$kp$c")) :+
              lit(true).alias(marker)): _*)
          targetAffected.join(keyed, pk.map(c =>
              col(s"`$c`") === col(s"$kp$c")).reduce(_ && _), "left")
            .filter(col(marker).isNotNull || !coalesce(cond, lit(false)))
            .select(origCols.map(c => col(s"`$c`")): _*)
        case None => targetAffected
      }
      val merged = dropDeleted(
        pickMerge(meta.colocatedMerge)(targetForMerge, stagedP, pk))
      // backticked refs: a column NAME containing a dot must resolve as a
      // top-level column, not parse as a nested-field path
      val aligned = merged.select(targetSchema.fields.toSeq.map(f =>
        col(s"`${f.name}`").cast(f.dataType).alias(f.name)): _*)
      val removedLines = body.filter(line =>
        affected.contains(SnapshotManifest.bodyFile(tableRoot, line))).toSet
      // rebase-aware publish: a lost race against a writer whose files are
      // disjoint from the merge's affected set AND whose new lines provably
      // hold none of the staged PKs re-publishes the staged rewrite in one
      // manifest round-trip (keyPred None = every staged key is null — a
      // pure insert that commutes with anything, so `false` proves it).
      // deleteUnmatched inverts this: NO winner line can be proven
      // disjoint (its rows' fates depend on the source key set), so the
      // always-true predicate forces every race to refuse, never rebase.
      SnapshotManifest.publishVersionRebased(spark, tableRoot, v + 1, aligned,
        statsCols, body, removedLines, "mergeWhere", meta,
        ManifestStats.resolvePredicate(spark, targetSchema,
          if (deleteUnmatched.isDefined) lit(true)
          else keyPred.getOrElse(lit(false))))
    } finally {
      stagedP.unpersist(false)
      deletesP.foreach(_.unpersist(false))
    }
  }

  /** The staged batch's prune predicate — distinct non-null key tuples as
    * per-column IN lists when the batch is SMALL (≤ [[maxInListLiterals]],
    * a conservative cross-product superset for composite PKs), one min/max
    * aggregation and a range conjunction above that. None = no non-null
    * staged key exists (every staged row is a pure insert). Tuples with
    * ANY null component can never match under `=`, so they contribute
    * nothing.
    *
    * Why TWO tiers below `maxKeySetSize`: a literal IN list is a PLAN-SIZE
    * tax, not just a collect — every `lit()` captures a stack trace at
    * construction, the optimizer turns the list into an `InSet` whose
    * `simpleString` sorts and re-renders all N literals, and EVERY action
    * on a plan embedding it pays that render again in
    * `SQLExecution.withNewExecutionId`'s eager `explainString` (plus each
    * AQE re-plan). Measured on a 50k-key merge: ~27 s of single-threaded
    * driver time for ~6 s of actual executor work. The range conjunction
    * is a handful of literals whatever the churn; pruning stays sound
    * (only SELECTS candidate files — joins decide row fates) and the
    * race-gate use stays conservative (a superset predicate can only
    * refuse more rebases, never admit a conflicting one).
    */
  private[graft] def maxInListLiterals(spark: org.apache.spark.sql.SparkSession,
      maxKeySetSize: Int): Int = math.min(maxKeySetSize,
    spark.conf.getOption("graft.dml.maxInListLiterals")
      .map(_.toInt).getOrElse(1024))

  private def stagedKeyPredicate(staged: DataFrame, pk: Seq[String],
      maxKeySetSize: Int): Option[Column] = {
    val keyDf = staged.select(pk.map(col): _*).na.drop("any", pk).distinct()
    val inCap = maxInListLiterals(staged.sparkSession, maxKeySetSize)
    // collect at most inCap+1 rows: enough to decide the tier, never the
    // 100k-row driver haul the old single-tier shape paid
    val keyRows = keyDf.limit(inCap + 1).collect()
    if (keyRows.isEmpty) None
    else if (keyRows.length <= inCap)
      Some(pk.zipWithIndex.map { case (c, i) =>
        col(c).isin(keyRows.map(_.get(i)).distinct.toSeq: _*)
      }.reduce(_ && _))
    else {
      // one 1-row aggregate on the (persisted) key frame — min/max in the
      // ENGINE's ordering (driver-side ordering of collected values would
      // diverge from UTF8String binary order on supplementary characters,
      // and a wrong bound prunes wrong, which is a data bug)
      val aggs = pk.flatMap(c =>
        Seq(min(col(c)).alias(s"__mn_$c"), max(col(c)).alias(s"__mx_$c")))
      val b = keyDf.agg(aggs.head, aggs.tail: _*).head()
      Some(pk.zipWithIndex.map { case (c, i) =>
        col(c) >= lit(b.get(2 * i)) && col(c) <= lit(b.get(2 * i + 1))
      }.reduce(_ && _))
    }
  }

  /** MERGE-ON-READ MERGE — [[mergeWhere]]'s deferred twin on the deletion-
    * vector machinery ([[graft.sources.SnapshotManifest.deleteWhereMoR]]):
    * matched target rows are MASKED by position in a DV sidecar and the
    * merge output (matched rows with staged values + staged-only inserts)
    * is APPENDED as new files — NO data file is rewritten at all, so a
    * narrow-key upsert costs O(staged + admitted-file scan + churn), the
    * cheapest per-batch shape for continuous ingestion
    * ([[graft.streaming.StreamingUpsert]] `mor = true`). Reads pay the
    * DV anti-join (broadcast while the sidecar is small, shuffle past the
    * byte threshold) on masked files until [[graft.sources
    * .SnapshotManifest.foldDeletes]] / compaction materializes.
    * Semantics ≡ [[mergeWhere]] ≡ whole-table [[merge]]. Positions stay
    * distributed end-to-end; a merged DV past `maxDvPositions` degrades
    * loudly to [[mergeWhere]] (the CoW rewrite handles fat churn
    * correctly — masking it would tax every later read).
    */
  /** File-pruned keyed DELETE — [[mergeWhere]]'s inverse (Delta's MERGE
    * … WHEN MATCHED THEN DELETE): rows of the snapshot table whose PK
    * tuple appears in `keys` are removed; only files whose manifest
    * stats ADMIT a key are rewritten (target anti-join keys), everything
    * else carries verbatim. The prune uses the same churn-bounded keyset
    * predicate as [[mergeWhere]] — above `maxKeySetSize` it degrades to
    * a min/max range conjunction, which stays SOUND because pruning only
    * selects candidate files; the anti-join decides row fates, so
    * correctness never depends on the collected key set. SQL `IN`
    * semantics: null-component key tuples match nothing and are dropped
    * from `keys` up front. Idempotent by construction (deleting absent
    * keys is a no-op), so it composes with at-least-once delivery — the
    * delete arm of a change-feed consumer
    * ([[graft.sources.ChangeFeed]] replication).
    *
    * @return the committed version (unchanged when `keys` is empty or no
    *         file can hold a key)
    */
  def deleteKeys(spark: SparkSession, tableRoot: String, keys: DataFrame,
      pkCols: Seq[String], statsCols: Seq[String] = Nil,
      maxKeySetSize: Int = 100000): Long = {
    import graft.sources.{ManifestStats, SnapshotManifest}
    require(pkCols.nonEmpty, "at least one PK column required")
    require(maxKeySetSize >= 1, "maxKeySetSize must be >= 1")
    val pk = pkCols.map(_.trim)
    pk.foreach(c => require(keys.columns.contains(c),
      s"deleteKeys: PK column $c not in keys frame ${keys.columns.mkString(", ")}"))
    val v = SnapshotManifest.currentVersion(spark, tableRoot).getOrElse(
      throw new IllegalStateException(s"deleteKeys: no committed snapshot under $tableRoot"))
    val keysP = keys.select(pk.map(c => col(s"`$c`")): _*)
      .na.drop("any", pk).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // keysP is na-dropped + distinct, so the key predicate's bounded
      // collect doubles as the emptiness probe (None ⟺ no keys) — no
      // separate isEmpty job
      val keyPred = stagedKeyPredicate(keysP, pk, maxKeySetSize)
      if (keyPred.isEmpty) return v
      val (body, meta) = SnapshotManifest.manifestParts(spark, tableRoot, v)
      if (body.isEmpty) return v
      val files = body.map(SnapshotManifest.bodyFile(tableRoot, _))
      val targetSchema = SnapshotManifest.tableSchema(spark, tableRoot, meta.schema, body.headOption).get
      pk.foreach(c => require(targetSchema.fieldNames.contains(c),
        s"deleteKeys: PK column $c not in target schema ${targetSchema.fieldNames.mkString(", ")}"))
      val affected = keyPred match {
        case Some(p) => ManifestStats.prune(files, SnapshotManifest.bodyStats(body),
          ManifestStats.resolvePredicate(spark, targetSchema, p)).toSet
        case None => Set.empty[String]
      }
      if (affected.isEmpty) return v
      val keptLines = body.filterNot(line =>
        affected.contains(SnapshotManifest.bodyFile(tableRoot, line)))
      // DV-applied read (MoR-deleted rows must not resurrect); keys join
      // BROADCAST — the frame is churn-sized by contract, and the anti-join
      // keeps the corpus side shuffle-free
      val target = SnapshotManifest.readEntries(spark, tableRoot,
        body.map(SnapshotManifest.parseLine).zip(files)
          .collect { case (e, f) if affected(f) => e }, meta.schema)
      var kp = "__dk_"
      while (pk.exists(c => target.columns.contains(kp + c))) kp += "_"
      val keyed = broadcast(keysP.select(pk.map(c =>
        col(s"`$c`").alias(s"$kp$c")): _*))
      val survivors = target.join(keyed,
          pk.map(c => col(s"`$c`") === col(s"$kp$c")).reduce(_ && _), "left_anti")
        .select(targetSchema.fields.toSeq.map(f =>
          col(s"`${f.name}`").cast(f.dataType).alias(f.name)): _*)
      SnapshotManifest.publishVersion(spark, tableRoot, v + 1, survivors,
        statsCols, keptLines, "deleteKeys", meta)
    } finally keysP.unpersist(false)
  }

  def mergeWhereMoR(spark: SparkSession, tableRoot: String, staged: DataFrame,
      pkCols: Seq[String], statsCols: Seq[String] = Nil,
      maxKeySetSize: Int = 100000,
      maxDvPositions: Long = graft.sources.SnapshotManifest.DefaultMaxDvPositions,
      colocated: Option[Boolean] = None,
      maxColocatedRows: Long = 1L << 20)
      : Long = {
    import graft.sources.{ManifestStats, SnapshotManifest}
    require(pkCols.nonEmpty, "at least one PK column required")
    require(maxKeySetSize >= 1, "maxKeySetSize must be >= 1")
    require(maxDvPositions >= 1, "maxDvPositions must be >= 1")
    val pk = pkCols.map(_.trim)
    val v = SnapshotManifest.currentVersion(spark, tableRoot).getOrElse(
      throw new IllegalStateException(s"mergeWhereMoR: no committed snapshot under $tableRoot"))
    val stagedP = staged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lazy val stagedRowCount = stagedP.count()
    try {
      // the key predicate's bounded collect doubles as the emptiness
      // probe in the common case (a defined predicate proves rows exist);
      // only the None case still needs isEmpty, to tell an empty batch
      // (no-op) from an all-null-key pure-insert batch (must commit)
      val keyPred = stagedKeyPredicate(stagedP, pk, maxKeySetSize)
      if (keyPred.isEmpty && stagedP.isEmpty) return v
      val (body, meta) = SnapshotManifest.manifestParts(spark, tableRoot, v)
      if (body.isEmpty)
        // nothing to mask — identical to the copy-on-write form
        return mergeWhere(spark, tableRoot, stagedP, pk, statsCols,
          maxKeySetSize, colocated, maxColocatedRows)
      val entries = body.map(SnapshotManifest.parseLine)
      val files = body.map(SnapshotManifest.bodyFile(tableRoot, _))
      val targetSchema = SnapshotManifest.tableSchema(spark, tableRoot, meta.schema, body.headOption).get
      pk.foreach(c => require(targetSchema.fieldNames.contains(c),
        s"mergeWhereMoR: PK column $c not in target schema ${targetSchema.fieldNames.mkString(", ")}"))
      // staged realignment is NOT needed for evolution — merge() handles
      // staged-narrower-than-target natively (see mergeWhere)
      // the rebase conflict predicate: winner lines that may hold a staged
      // key are conflicts; `false` (no non-null staged key) conflicts with
      // nothing — a pure insert commutes like an append
      val resolvedKey = ManifestStats.resolvePredicate(spark, targetSchema,
        keyPred.getOrElse(lit(false)))
      val affected = keyPred match {
        case Some(_) => ManifestStats.prune(files,
          SnapshotManifest.bodyStats(body), resolvedKey).toSet
        case None => Set.empty[String]
      }
      val affectedEntries = entries.zip(files).collect { case (e, f) if affected(f) => e }
      def aligned(df: DataFrame): DataFrame =
        df.select(targetSchema.fields.toSeq.map(f =>
          col(s"`${f.name}`").cast(f.dataType).alias(f.name)): _*)
      val emptyTarget = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], targetSchema)
      if (affectedEntries.isEmpty)
        // no file can hold a staged key: every staged row is an insert
        return SnapshotManifest.publishRetaggedRebased(spark, tableRoot,
          "mergeWhereMoR", v, body, meta, Map.empty,
          Some(aligned(merge(emptyTarget, stagedP, pk))), statsCols,
          resolvedKey)
      val oldDv =
        SnapshotManifest.entryDvPositionsDf(spark, tableRoot, affectedEntries)
          .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val (alive, fCol, rCol) = SnapshotManifest.readEntriesWithPositions(
        spark, tableRoot, affectedEntries, oldDv, meta.schema)
      // staged-key aliases chosen collision-free against the target's
      // columns (same adversarial-name guard as the position columns)
      var kp = "__k_"
      while (pk.exists(c => alive.columns.contains(kp + c))) kp += "_"
      val matchedTarget = alive.join(
          broadcast(stagedP.select(pk.map(c => col(c).alias(s"$kp$c")): _*).distinct()),
          pk.map(c => col(c) === col(s"$kp$c")).reduce(_ && _), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // positions stay DISTRIBUTED: old and new are disjoint by
        // construction (`alive` anti-joined the old sidecars away), so
        // the merged size is the exact sum — the cap decides before any
        // union work, the union needs no distinct shuffle, and the
        // sidecar is written by a Spark job; the driver sees only counts
        // and the sidecar-mentioned basename set (same pipeline as
        // SnapshotManifest.deleteWhereMoR)
        if (matchedTarget.isEmpty)
          return SnapshotManifest.publishRetaggedRebased(spark, tableRoot,
            "mergeWhereMoR", v, body, meta, Map.empty,
            Some(aligned(merge(emptyTarget, stagedP, pk))), statsCols,
            resolvedKey)
        val newPositions = matchedTarget
          .select(col(fCol).alias("file_name"), col(rCol).alias("row_index"))
        val nNew = newPositions.count()
        val nOld = oldDv.map(_.count()).getOrElse(0L)
        if (nNew + nOld > maxDvPositions) {
          graft.core.Logging.logger().warn(
            s"mergeWhereMoR: merged deletion vector would hold ${nNew + nOld} " +
              s"positions (> maxDvPositions=$maxDvPositions) — degrading " +
              "to the copy-on-write merge (mergeWhere)")
          return mergeWhere(spark, tableRoot, stagedP, pk, statsCols,
            maxKeySetSize, colocated, maxColocatedRows)
        }
        val dvDf = oldDv.map(newPositions.unionByName(_)).getOrElse(newPositions)
        // the matched slice is already churn-sized (it came off a
        // broadcast semi join), but with the hint declared its merge join
        // still decomposes — zero exchanges instead of two small ones
        val mergedAppend = pickMergeStrategy("mergeWhereMoR",
          colocated.getOrElse(meta.colocatedMerge), () => stagedRowCount,
          maxColocatedRows)(matchedTarget.drop(fCol, rCol), stagedP, pk)
        val dvFileNames = dvDf.select(col("file_name")).distinct()
          .collect().map(_.getString(0)).toSet // affected ∪ sidecar-sharing files
        val dvFile = SnapshotManifest.writeDvSidecar(spark, tableRoot, v + 1, dvDf)
        SnapshotManifest.publishRetaggedRebased(spark, tableRoot,
          "mergeWhereMoR", v, body, meta,
          SnapshotManifest.retagMap(body, entries.zip(files), affected,
            dvFileNames, dvFile),
          Some(aligned(mergedAppend)), statsCols, resolvedKey)
      } finally {
        matchedTarget.unpersist(false)
        oldDv.foreach(_.unpersist(false))
      }
    } finally stagedP.unpersist(false)
  }

  /** Write `df` as a PK-bucketed catalog table — the 100-TB merge lever
    * SCALE.md names for q06: with the target bucketed (and sorted) by its
    * PK, every subsequent [[mergeBucketedTarget]] reads the target
    * pre-partitioned on the join key, so the merge's full-outer join
    * shuffles ONLY the (much smaller) staged side; the target-side
    * Exchange — the dominant cost, since the target is the big table —
    * disappears (asserted in BucketingSpec).
    */
  def bucketTarget(df: DataFrame, table: String, pkCols: Seq[String],
      buckets: Int): Unit = {
    require(pkCols.nonEmpty, "at least one PK column required")
    df.write.bucketBy(buckets, pkCols.head, pkCols.tail: _*)
      .sortBy(pkCols.head, pkCols.tail: _*)
      .mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** [[merge]] against a PK-bucketed catalog table ([[bucketTarget]]): same
    * semantics, shuffle-free on the target side. The staged side still
    * shuffles — into the target's bucket partitioning — which is the
    * correct asymmetry: staged is a delta, the target is the corpus.
    */
  def mergeBucketedTarget(spark: SparkSession, targetTable: String,
      staged: DataFrame, pkCols: Seq[String]): DataFrame =
    merge(spark.table(targetTable), staged, pkCols)

  /** Post-merge audit (`utils.py:293-295`): rows whose UPDATE_TIMESTAMP is
    * today. Filter + count — pushed to the scan where stats allow.
    */
  def auditUpdatedToday(merged: DataFrame): Long =
    merged.filter(to_date(col(UpdateTs)) === current_date()).count()

  /** Printable twin (`print_merge_query`, `utils.py:456-493`): the ANSI MERGE
    * this operator is equivalent to — for humans and for Delta catalogs.
    */
  def mergeSql(
      targetTable: String,
      stagedTable: String,
      pkCols: Seq[String],
      allCols: Seq[String]
  ): String = {
    val pk = pkCols.map(_.trim)
    val on = pk.map(c => s"""t."$c" = s."$c"""").mkString(" AND ")
    val updatable = allCols.filterNot(c => pk.contains(c) || c == InsertTs)
    val sets = updatable.map(c => s"""t."$c" = s."$c"""").mkString(", ")
    val insertCols = allCols.map(c => s""""$c"""").mkString(", ")
    val insertVals = allCols.map(c => s"""s."$c"""").mkString(", ")
    s"""MERGE INTO $targetTable t USING $stagedTable s ON ($on)
       |WHEN MATCHED THEN UPDATE SET $sets
       |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin
  }
}
