package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StructType
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
    // different snapshot than the returned version. readVersion takes the
    // recorded (or footer) schema, so the audit infers none with a job
    (version, auditUpdatedToday(
      graft.sources.SnapshotManifest.readVersion(spark, tableRoot, version)))
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
    * The staged batch is evaluated once ([[pin]]): a batch of at most
    * [[MaxInListLiterals]] rows becomes a local relation of its rows, a
    * larger one is persisted. The prune predicate comes from the batch
    * itself ([[keyPredicate]]; read on the driver for a pinned batch): the
    * distinct non-null PK tuples become per-column `IN` lists when there
    * are at most `maxKeySetSize` of them (churn-bounded — staged is the
    * delta; a conservative cross-product superset for composite PKs —
    * sound: a file holding a matching row admits each key component
    * independently); above the cap, per-column min/max bound a range
    * conjunction (still sound, coarser). At 100 TB with a
    * PK-range-clustered layout
    * ([[graft.operators.Layout]] or `repartitionByRange` at commit), a
    * narrow-key merge rewrites a handful of files and the decision is one
    * driver-side manifest read.
    *
    * The affected slice merges through the one shuffle [[merge]] plan:
    * one full-outer join on the PK, over the pruned target slice only.
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
      deletes: Option[DataFrame] = None,
      deleteUnmatched: Option[(DataFrame, Column)] = None): Long = {
    import graft.sources.{ManifestStats, SnapshotManifest}
    require(pkCols.nonEmpty, "at least one PK column required")
    require(maxKeySetSize >= 1, "maxKeySetSize must be >= 1")
    val pk = pkCols.map(_.trim)
    val v = SnapshotManifest.currentVersion(spark, tableRoot).getOrElse(
      throw new IllegalStateException(s"mergeWhere: no committed snapshot under $tableRoot"))
    // the staged frame feeds the key set, the emptiness probe and the
    // merge write: pinning evaluates it once — a heavy staged expression
    // prices once, and a non-deterministic source cannot hand the prune
    // and the merge different rows. A churn-sized batch is pinned as
    // driver rows, which the key set reads without a job; a larger one is
    // persisted.
    val (stagedP, stagedPersisted) = pin(staged)
    // matched-DELETE keys: same pin (they feed the prune key-set AND the
    // anti-join); normalized to distinct non-null PK tuples (SQL IN
    // semantics — a null-component key matches nothing)
    val deletesP = deletes.map(d => pin(d.select(pkCols.map(c => col(s"`$c`")): _*)
      .na.drop("any", pkCols).distinct()))
    def dropDeleted(merged: DataFrame): DataFrame = deletesP match {
      case Some((d, _)) =>
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
      val pkRefs = pk.map(c => col(s"`$c`"))
      val keyFrame = deletesP match {
        case Some((d, _)) => stagedP.select(pkRefs: _*).unionByName(d)
        case None => stagedP.select(pkRefs: _*)
      }
      val fastKeyPred = keyPredicate(pkRefs, keyFrame, maxKeySetSize)
      // the key set answers the emptiness probe too: a defined predicate
      // proves a non-null key exists. Only the None case (no non-null key
      // anywhere) still needs isEmpty — to tell a genuinely empty batch
      // (no-op) from an all-null-key pure-insert batch (must commit); on a
      // pinned batch it runs no job. deletesP is normalized to non-null
      // distinct keys, so None also proves the delete arm is empty.
      if (fastKeyPred.isEmpty && deleteUnmatched.isEmpty && stagedP.isEmpty)
        return v
      // deleteUnmatched touches every file by construction — no churn
      // fast path, the driver body below rewrites all of it
      val classified = if (deleteUnmatched.isDefined) None
      else fastKeyPred match {
        case Some(p) => SnapshotManifest.classifyAffected(spark, tableRoot, v, p)
        case None => SnapshotManifest.frameWithSchema(spark, tableRoot, v)
          .map { case (m, s, f) => (m, s, f, Nil: Seq[String]) }
      }
      def targetOk(schema: StructType): StructType = {
        pk.foreach(c => require(schema.fieldNames.contains(c),
          s"mergeWhere: PK column $c not in target schema " +
            schema.fieldNames.mkString(", ")))
        schema
      }
      // the candidate lines: classified on executors off the twin frame,
      // else pruned from ONE driver manifest read
      val (meta, targetSchema, base, affected) = classified match {
        case Some((meta, schema, frame, affected)) =>
          (meta, targetOk(schema), Right(frame): Either[Seq[String], DataFrame],
            affected)
        case None =>
          val (body, meta) = SnapshotManifest.manifestParts(spark, tableRoot, v)
          if (body.isEmpty) {
            // delete arms against an EMPTY table are no-ops; without staged
            // rows there is nothing to commit at all
            if (stagedP.isEmpty) return v
            // degenerate current snapshot with zero data files (everything
            // was deleted): the merge is just the staged rows — but still
            // ALIGNED to the TABLE's schema, recovered from the most recent
            // version that had files (publishing the staged frame verbatim
            // would graft its bookkeeping columns/types — e.g. a stream's
            // ts column — into the table). Only a table whose every
            // retained version is empty (unreachable through this API: the
            // bootstrap commit requires files) falls back to the staged
            // schema. One directory listing yields the retained versions —
            // never a per-version existence probe (a long-lived table can
            // be at v≈1e5). A RECORDED schema (addColumns) on the current
            // version is the table's declared shape and wins over file
            // inference.
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
            // every winner line is a conflict (the always-true gate): the
            // inserts were aligned against an empty table
            return SnapshotManifest.publishCommit(spark, tableRoot, "mergeWhere",
              v, Left(body), meta, SnapshotManifest.StagedCommit(added =
                SnapshotManifest.stageLines(spark, tableRoot, v + 1,
                  Some(alignedStaged), statsCols, meta)),
              Some(Literal.TrueLiteral), emptySchema = Some(alignedStaged.schema))
          }
          val files = SnapshotManifest.bodyFiles(tableRoot, body)
          val targetSchema = targetOk(SnapshotManifest.tableSchema(spark,
            tableRoot, meta.schema, body.headOption).get)
          // NOTE on evolution: merge() itself already implements ANSI MERGE
          // schema drift — a staged frame missing a (possibly just-added)
          // target column keeps the target value on match and inserts
          // null, and staged extras are dropped by the aligned select. No
          // staged realignment is needed here; only the TARGET read must
          // follow the declared schema.
          val hit =
            if (deleteUnmatched.isDefined) files.toSet // every file may hold an unmatched row
            else fastKeyPred match {
              case Some(p) => ManifestStats.prune(files,
                SnapshotManifest.bodyStats(body),
                ManifestStats.resolvePredicate(spark, targetSchema, p)).toSet
              case None => Set.empty[String]
            }
          (meta, targetSchema, Left(body),
            body.zip(files).collect { case (l, f) if hit(f) => l })
      }
      // affected files read with their deletion vectors APPLIED — a
      // MoR-deleted row must not resurrect through the merge rewrite
      val targetAffected =
        if (affected.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], targetSchema)
        else SnapshotManifest.readEntries(spark, tableRoot,
          affected.map(SnapshotManifest.parseLine), meta.schema)
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
      val merged = dropDeleted(merge(targetForMerge, stagedP, pk))
      // backticked refs: a column NAME containing a dot must resolve as a
      // top-level column, not parse as a nested-field path
      val aligned = merged.select(targetSchema.fields.toSeq.map(f =>
        col(s"`${f.name}`").cast(f.dataType).alias(f.name)): _*)
      // rebase-aware publish: a lost race against a writer whose files are
      // disjoint from the merge's affected set AND whose new lines provably
      // hold none of the staged PKs re-publishes the staged rewrite in one
      // manifest round-trip (keyPred None = every staged key is null — a
      // pure insert that commutes with anything, so `false` proves it).
      // deleteUnmatched inverts this: NO winner line can be proven
      // disjoint (its rows' fates depend on the source key set), so the
      // always-true predicate forces every race to refuse, never rebase.
      SnapshotManifest.publishCommit(spark, tableRoot, "mergeWhere", v, base,
        meta, SnapshotManifest.StagedCommit(removed = affected,
          added = SnapshotManifest.stageLines(spark, tableRoot, v + 1,
            Some(aligned), statsCols, meta)),
        Some(ManifestStats.resolvePredicate(spark, targetSchema,
          if (deleteUnmatched.isDefined) lit(true)
          else fastKeyPred.getOrElse(lit(false)))),
        emptySchema = Some(aligned.schema))
    } finally {
      release(stagedP, stagedPersisted)
      deletesP.foreach { case (d, persisted) => release(d, persisted) }
    }
  }

  /** The largest key set that becomes per-column IN lists, and the
    * largest staged batch a merge pins as driver rows ([[pin]]).
    *
    * Why the IN tier is capped below `maxKeySetSize`: a literal IN list is
    * a PLAN-SIZE tax, not just a collect — the optimizer turns the list
    * into an `InSet` whose `simpleString` sorts and re-renders all N
    * literals, and EVERY action on a plan embedding it pays that render
    * again in `SQLExecution.withNewExecutionId`'s eager `explainString`
    * (plus each AQE re-plan). Measured on a 50k-key merge: ~27 s of
    * single-threaded driver time for ~6 s of actual executor work. The
    * range conjunction is a handful of literals whatever the churn;
    * pruning stays sound (only SELECTS candidate files — joins decide row
    * fates) and the race-gate use stays conservative (a superset predicate
    * can only refuse more rebases, never admit a conflicting one).
    */
  private[graft] val MaxInListLiterals = 1024

  /** `df` pinned for the length of one verb, and whether it was persisted:
    * at most [[MaxInListLiterals]] rows become a local relation of their
    * rows (one bounded collect, none for a local plan); a larger frame is
    * persisted, as before. Either way every later action sees one
    * evaluation. Release with [[release]].
    */
  private[graft] def pin(df: DataFrame): (DataFrame, Boolean) =
    org.apache.spark.sql.graftbridge.ColumnBridge.pinned(df, MaxInListLiterals) match {
      case Some((local, _)) => (local, false)
      case None => (df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), true)
    }

  private[graft] def release(df: DataFrame, persisted: Boolean): Unit =
    if (persisted) df.unpersist(false)

  /** The prune predicate of a churn-sized key set: `keys` holds key tuples
    * whose columns pair positionally with `keyCols`. Its distinct non-null
    * tuples become per-column IN lists when there are at most
    * min(`maxKeySetSize`, [[MaxInListLiterals]]) of them (a conservative
    * cross-product superset for composite keys: a file holding a matching
    * row admits each key component independently); above that, per-column
    * min/max in the ENGINE's ordering bound a range conjunction (a
    * driver-side ordering of external values would diverge from
    * UTF8String binary order on supplementary characters, and a wrong
    * bound prunes wrong, which is a data bug). None = no non-null tuple
    * (every staged row is a pure insert). A tuple with ANY null component
    * can never match under `=`, so it contributes nothing.
    *
    * A pinned `keys` frame (see [[pin]]) is read on the driver with no job.
    * Any other costs one bounded collect of its distinct tuples, plus one
    * 1-row aggregate in the range tier. Values stay Catalyst internal
    * values end to end.
    */
  private[graft] def keyPredicate(keyCols: Seq[Column], keys: DataFrame,
      maxKeySetSize: Int): Option[Column] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val inCap = math.min(maxKeySetSize, MaxInListLiterals)
    val types = keys.schema.fields.toSeq.map(_.dataType)
    def tuple(r: InternalRow): Seq[Any] = types.indices.map(i => r.get(i, types(i)))
    def lit(i: Int, v: Any): Column = ColumnBridge.column(Literal(v, types(i)))
    val nonNull = keys.na.drop("any")
    val tuples = ColumnBridge.localRows(keys) match {
      case Some(rows) => Some(rows.map(tuple).filterNot(_.contains(null)).distinct)
      case None => ColumnBridge.pinned(nonNull.distinct(), inCap).map(_._2.map(tuple))
    }
    def range(bounds: Seq[(Any, Any)]): Column = keyCols.zip(bounds).zipWithIndex.map {
      case ((c, (mn, mx)), i) => c >= lit(i, mn) && c <= lit(i, mx)
    }.reduce(_ && _)
    tuples match {
      case Some(ts) if ts.isEmpty => None
      case Some(ts) if ts.length <= inCap =>
        Some(keyCols.zipWithIndex.map { case (c, i) =>
          c.isin(ts.map(_(i)).distinct.map(lit(i, _)): _*)
        }.reduce(_ && _))
      case Some(ts) => Some(range(types.indices.map { i =>
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(types(i))
        val vs = ts.map(_(i))
        (vs.min(ord), vs.max(ord))
      }))
      case None =>
        val aggs = keys.columns.toSeq.flatMap(c =>
          Seq(min(col(s"`$c`")), max(col(s"`$c`"))))
        val b = ColumnBridge.pinned(nonNull.agg(aggs.head, aggs.tail: _*), 1).get._2.head
        Some(range(types.indices.map(i =>
          (b.get(2 * i, types(i)), b.get(2 * i + 1, types(i))))))
    }
  }

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
    val pkRefs = pk.map(c => col(s"`$c`"))
    val (keysP, keysPersisted) = pin(keys.select(pkRefs: _*))
    try {
      // the key predicate doubles as the emptiness probe (None ⟺ no
      // non-null key) — no separate isEmpty job
      val keyPred = keyPredicate(pkRefs, keysP, maxKeySetSize)
      if (keyPred.isEmpty) return v
      val (body, meta) = SnapshotManifest.manifestParts(spark, tableRoot, v)
      if (body.isEmpty) return v
      val files = SnapshotManifest.bodyFiles(tableRoot, body)
      val targetSchema = SnapshotManifest.tableSchema(spark, tableRoot, meta.schema, body.headOption).get
      pk.foreach(c => require(targetSchema.fieldNames.contains(c),
        s"deleteKeys: PK column $c not in target schema ${targetSchema.fieldNames.mkString(", ")}"))
      // the key predicate prunes the files AND gates a lost race exactly
      // as mergeWhere's: a winner line that may hold a doomed key refuses
      val resolvedKey = ManifestStats.resolvePredicate(spark, targetSchema,
        keyPred.get)
      val hit = ManifestStats.prune(files, SnapshotManifest.bodyStats(body),
        resolvedKey).toSet
      val affected = body.zip(files).collect { case (l, f) if hit(f) => l }
      if (affected.isEmpty) return v
      // DV-applied read (MoR-deleted rows must not resurrect); keys join
      // BROADCAST — the frame is churn-sized by contract, and the anti-join
      // keeps the corpus side shuffle-free
      val target = SnapshotManifest.readEntries(spark, tableRoot,
        affected.map(SnapshotManifest.parseLine), meta.schema)
      var kp = "__dk_"
      while (pk.exists(c => target.columns.contains(kp + c))) kp += "_"
      val keyed = broadcast(keysP.select(pk.map(c =>
        col(s"`$c`").alias(s"$kp$c")): _*))
      val survivors = target.join(keyed,
          pk.map(c => col(s"`$c`") === col(s"$kp$c")).reduce(_ && _), "left_anti")
        .select(targetSchema.fields.toSeq.map(f =>
          col(s"`${f.name}`").cast(f.dataType).alias(f.name)): _*)
      SnapshotManifest.publishCommit(spark, tableRoot, "deleteKeys", v,
        Left(body), meta, SnapshotManifest.StagedCommit(removed = affected,
          added = SnapshotManifest.stageLines(spark, tableRoot, v + 1,
            Some(survivors), statsCols, meta)),
        Some(resolvedKey), emptySchema = Some(survivors.schema))
    } finally release(keysP, keysPersisted)
  }

  /** MERGE-ON-READ MERGE — [[mergeWhere]]'s deferred twin on the deletion-
    * vector machinery ([[graft.sources.SnapshotManifest.deleteWhereMoR]]):
    * matched target rows are MASKED by position in a DV sidecar and the
    * merge output (matched rows with staged values + staged-only inserts)
    * is APPENDED as new files — NO data file is rewritten at all, so a
    * narrow-key upsert costs O(staged + admitted-file scan + churn), the
    * cheapest per-batch shape for continuous ingestion
    * ([[graft.streaming.StreamingUpsert]] `mor = true`). Reads pay the
    * DV mask on masked files until [[graft.sources
    * .SnapshotManifest.foldDeletes]] / compaction materializes.
    * Semantics ≡ [[mergeWhere]] ≡ whole-table [[merge]]. The staged batch
    * is pinned as in [[mergeWhere]], and the matched positions go through
    * [[graft.sources.SnapshotManifest.maskMatched]] as in `deleteWhereMoR`:
    * churn-sized sets stay on the driver, larger ones distributed. A
    * merged DV past `maxDvPositions` degrades loudly to [[mergeWhere]]
    * (the CoW rewrite handles fat churn correctly — masking it would tax
    * every later read). The matched slice merges with the same shuffle
    * [[merge]] plan as every other merge verb.
    */
  def mergeWhereMoR(spark: SparkSession, tableRoot: String, staged: DataFrame,
      pkCols: Seq[String], statsCols: Seq[String] = Nil,
      maxKeySetSize: Int = 100000,
      maxDvPositions: Long = graft.sources.SnapshotManifest.DefaultMaxDvPositions)
      : Long = {
    import graft.sources.{ManifestStats, SnapshotManifest}
    require(pkCols.nonEmpty, "at least one PK column required")
    require(maxKeySetSize >= 1, "maxKeySetSize must be >= 1")
    require(maxDvPositions >= 1, "maxDvPositions must be >= 1")
    val pk = pkCols.map(_.trim)
    val v = SnapshotManifest.currentVersion(spark, tableRoot).getOrElse(
      throw new IllegalStateException(s"mergeWhereMoR: no committed snapshot under $tableRoot"))
    val (stagedP, stagedPersisted) = pin(staged)
    try {
      // the key predicate doubles as the emptiness probe in the common
      // case (a defined predicate proves rows exist); only the None case
      // still needs isEmpty, to tell an empty batch (no-op) from an
      // all-null-key pure-insert batch (must commit)
      val keyPred = keyPredicate(pk.map(c => col(s"`$c`")),
        stagedP.select(pk.map(c => col(s"`$c`")): _*), maxKeySetSize)
      if (keyPred.isEmpty && stagedP.isEmpty) return v
      val (body, meta) = SnapshotManifest.manifestParts(spark, tableRoot, v)
      if (body.isEmpty)
        // nothing to mask — identical to the copy-on-write form
        return mergeWhere(spark, tableRoot, stagedP, pk, statsCols,
          maxKeySetSize)
      val entriesWithFiles = SnapshotManifest.bodyEntries(body)
        .zip(SnapshotManifest.bodyFiles(tableRoot, body))
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
        case Some(_) => ManifestStats.prune(entriesWithFiles.map(_._2),
          SnapshotManifest.bodyStats(body), resolvedKey).toSet
        case None => Set.empty[String]
      }
      val affectedEntries = entriesWithFiles.collect { case (e, f) if affected(f) => e }
      // the merge output appends as new files; `retag` masks the matched
      // rows of the affected files
      def publish(appended: DataFrame, retag: Map[String, String]): Long = {
        val aligned = appended.select(targetSchema.fields.toSeq.map(f =>
          col(s"`${f.name}`").cast(f.dataType).alias(f.name)): _*)
        SnapshotManifest.publishCommit(spark, tableRoot, "mergeWhereMoR", v,
          Left(body), meta, SnapshotManifest.StagedCommit(retag = retag,
            added = SnapshotManifest.stageLines(spark, tableRoot, v + 1,
              Some(aligned), statsCols, meta)),
          Some(resolvedKey), emptySchema = Some(aligned.schema))
      }
      def insertsOnly: Long = publish(merge(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], targetSchema),
        stagedP, pk), Map.empty)
      // no file can hold a staged key: every staged row is an insert
      if (affectedEntries.isEmpty) return insertsOnly
      val oldDv = SnapshotManifest.priorDv(spark, tableRoot, affectedEntries)
        .map(_.map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      try {
        val (alive, fCol, rCol) = SnapshotManifest.readEntriesWithPositions(
          spark, tableRoot, affectedEntries, oldDv, meta.schema)
        // staged-key aliases chosen collision-free against the target's
        // columns (same adversarial-name guard as the position columns)
        var kp = "__k_"
        while (pk.exists(c => alive.columns.contains(kp + c))) kp += "_"
        val matchedTarget = alive.join(
          broadcast(stagedP.select(pk.map(c => col(s"`$c`").alias(s"$kp$c")): _*)),
          pk.map(c => col(s"`$c`") === col(s"$kp$c")).reduce(_ && _), "left_semi")
        // the matched target rows: positions to mask, and the rows the
        // merge output re-appends with staged values
        SnapshotManifest.maskMatched(spark, tableRoot, "mergeWhereMoR", v, body,
          entriesWithFiles, affected, oldDv, matchedTarget, fCol, rCol, maxDvPositions)(
          mergeWhere(spark, tableRoot, stagedP, pk, statsCols, maxKeySetSize)) {
          (matched, retag) => publish(merge(matched, stagedP, pk), retag)
        }.getOrElse(insertsOnly)
      } finally oldDv.foreach(_.foreach(_.unpersist(false)))
    } finally release(stagedP, stagedPersisted)
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
