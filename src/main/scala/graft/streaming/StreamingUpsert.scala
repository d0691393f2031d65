package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Upsert
import graft.sources.SnapshotManifest

/** Streaming upsert into a [[SnapshotManifest]] table — the continuous form
  * of the reference's incremental-load contract (SURVEY §2.11: watermark
  * overlap + PK-idempotent MERGE, `ct_utils.py:24-29` / `utils.py:265`),
  * landing each micro-batch through [[Upsert.mergeWhere]]'s file-pruned
  * copy-on-write MERGE instead of a whole-target rewrite.
  *
  * Why this exists next to [[IncrementalLoad.runAvailableNow]]: that sink
  * rewrites the ENTIRE merged target every micro-batch — correct, durable,
  * and the right shape for a small state table, but O(table) work per batch.
  * Here each batch costs O(staged keys + admitted files): the staged batch's
  * own PK set prunes the rewrite to the files whose manifest stats admit a
  * key, everything else carries verbatim, and the manifest rename commits
  * atomically (object-store-safe, readers never disturbed). At 100 TB with a
  * PK-range-clustered table, a narrow-key batch touches a handful of files —
  * per-batch cost tracks CHURN, the same contract as
  * [[graft.operators.IncrementalRollup]].
  *
  * Effectively-once WITHOUT markers: foreachBatch is at-least-once, and that
  * is enough here because the whole batch application is idempotent —
  * within-batch dedup ([[graft.operators.AlertGate.latestPerKeyAgg]]: keeps
  * the freshest row per PK with a DETERMINISTIC total-order tiebreak) makes
  * the staged frame a pure function of the batch, and MERGE by PK applied
  * twice equals MERGE applied once. A replayed batch recommits the same
  * row state as a new version (content-identical; versions are cheap
  * manifest lines) and the table converges to the no-crash state. Contrast
  * [[StreamingDedup]], whose index APPEND is not idempotent and therefore
  * needs (txnAppId, batchId) markers. The contract inherits merge's
  * determinism requirement: staged columns must be deterministic (no
  * `current_timestamp()` in the stream — stamp event time upstream).
  *
  * Concurrent writers: each batch lands via [[Upsert.mergeWhere]] under
  * [[SnapshotManifest.retryOnConflict]],
  * so this stream can share a table with other committers (other streams on
  * DISJOINT key ranges, maintenance compaction) and lost manifest races
  * retry against the winner's snapshot. Two streams upserting the SAME key
  * converge to whichever batch committed last — the usual last-writer-wins
  * of independent MERGE pipelines.
  *
  * Maintenance composes: [[SnapshotManifest.compactSnapshot]] folds the
  * accumulated per-batch files (stats preserved), [[SnapshotManifest.vacuum]]
  * reclaims superseded versions, and [[SnapshotManifest.changesBetween]] /
  * [[graft.operators.IncrementalRollup.refresh]] consume the table's churn
  * downstream — the streaming DML loop closes end to end.
  */
object StreamingUpsert {

  /** Run `stream` to completion (AvailableNow) against `tableRoot`,
    * merging each micro-batch file-pruned and idempotently; returns the
    * final table state. The table must have a committed snapshot
    * (bootstrap with `SnapshotManifest.commit` — an empty frame of the
    * right schema works via a one-row-then-delete bootstrap, or commit the
    * historical backfill). Restart with the SAME `checkpointDir` resumes
    * exactly where the offset log left off; replayed batches re-merge
    * idempotently.
    *
    * `statsCols` should include the PK columns (and any other prune axis)
    * so later batches keep pruning against the files this stream writes.
    */
  def runAvailableNow(
      spark: SparkSession,
      stream: DataFrame,
      tableRoot: String,
      pkCols: Seq[String],
      tsCol: String,
      checkpointDir: String,
      statsCols: Seq[String] = Nil,
      maxKeySetSize: Int = 100000,
      mor: Boolean = false
  ): DataFrame = {
    require(pkCols.nonEmpty, "at least one PK column required")
    require(SnapshotManifest.currentVersion(spark, tableRoot).isDefined,
      s"StreamingUpsert: no committed snapshot under $tableRoot — bootstrap " +
        "the table with SnapshotManifest.commit before streaming into it")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // at-least-once delivery → idempotent application: dedup to the
        // freshest row per PK (deterministic tiebreak), then keyed MERGE.
        // mor = true lands each batch MERGE-ON-READ (positions masked,
        // merge output appended — zero file rewrites per batch, the
        // cheapest continuous-ingest shape; run foldDeletes/compaction at
        // maintenance cadence); mor = false rewrites the admitted files
        // copy-on-write per batch
        val freshest = graft.operators.AlertGate.latestPerKeyAgg(batch, pkCols, tsCol)
        SnapshotManifest.retryOnConflict() {
          if (mor)
            Upsert.mergeWhereMoR(spark, tableRoot, freshest, pkCols,
              statsCols, maxKeySetSize)
          else
            Upsert.mergeWhere(spark, tableRoot, freshest, pkCols,
              statsCols, maxKeySetSize)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    SnapshotManifest.read(spark, tableRoot)
  }
}
