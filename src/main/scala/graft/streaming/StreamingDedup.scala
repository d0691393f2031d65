package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Dedup

/** Streaming incremental dedup — the continuous-ingest loop end to end:
  * each micro-batch of new documents is matched against a DURABLE MinHash
  * signature index ([[Dedup.signatureIndex]] / [[Dedup
  * .incrementalNearDuplicates]]); documents that match nothing become new
  * corpus members and their signatures are appended to the index, which
  * then serves every later batch. Corpus text is never re-read — the index
  * is ~100 bytes/document regardless of document size.
  *
  * Index layout: an append-only log of parquet dirs plus one commit-marker
  * FILE per delta,
  * {{{
  *   index/base/                      // bootstrap corpus signatures
  *   index/delta-00000000/            // batch 0's new-member signatures
  *   index/delta-00000000.committed   // batch 0's commit marker
  * }}}
  * Readers list MARKERS, never raw dirs, so partially-written data from a
  * crashed attempt is invisible by construction. The marker is one small
  * FILE published atomically ([[graft.sources.CommitProtocol]] — which is
  * also why the marker, not the data dir, is the commit: a directory has
  * no atomic-publish equivalent on object stores). foreachBatch is
  * at-least-once; a replayed batch finds its marker and skips, so the
  * index grows EXACTLY-ONCE across restarts. A replayed batch whose
  * marker is absent deletes the stale dir and rewrites it before
  * committing. Matches commit the same way, BEFORE the index delta: a
  * crash between the two re-runs the batch against the identical
  * pre-batch index (deterministic pipeline → same matches, skipped via
  * their marker) and then commits the delta — converging to the no-crash
  * state.
  *
  * RESTART CONTRACT: markers are keyed (txnAppId, batchId) — the same
  * keying Delta's idempotent `txnAppId`/`txnVersion` sinks use. batchId is
  * stable only for the SAME checkpoint, so restart with the original
  * checkpointDir and the guarantee is unconditional. Every DISTINCT stream
  * feeding one index must pass its own `txnAppId`, or its batch 0 aliases
  * an earlier stream's batch 0 marker and is silently skipped. Starting
  * over with a FRESH checkpoint under the same txnAppId is safe only if
  * the source re-delivers identical batch boundaries; a source that
  * re-batches differently would alias a processed batchId and skip unseen
  * documents.
  *
  * Within a batch, exact duplicates (canonical text) collapse to the
  * min-id representative before the index probe; near-duplicates arriving
  * in the SAME batch are admitted as separate members (the standard batch-
  * boundary granularity — a batch is one crawl slice, small next to the
  * corpus).
  *
  * 100 TB shape: per batch, one index scan (columnar, signatures only) +
  * the banded equi-join of [[Dedup.incrementalNearDuplicates]] — linear in
  * the batch, never all-pairs against the corpus. The delta population
  * grows by one small dir per batch; [[compactIndex]] folds the log back
  * into a single generation-numbered base under the same marker protocol
  * (stream stopped, single-writer — the same maintenance cadence as
  * [[graft.sources.PartitionedSink.compact]]).
  */
object StreamingDedup {
  import MarkerLog.{appIdOf, keyedName, validateAppId}

  // commit machinery lives in MarkerLog (shared with StreamingAnnIngest) —
  // markers are keyed (txnAppId, batchId) like Delta's idempotent txn
  // sinks, so two DIFFERENT streams feeding one index (each with its own
  // checkpoint, each starting at batchId 0) can never alias each other's
  // commits
  private val MatchesMarkerRe = MarkerLog.markerRe("matches")

  /** Materialize the bootstrap corpus index at `indexDir/base`.
    * `numHashes` MUST equal the `bands * rowsPerBand` later passed to
    * [[runAvailableNow]] (default 12 = 4·3 there); the run validates this
    * against the stored signatures and fails fast on mismatch.
    */
  def bootstrapIndex(spark: SparkSession, corpus: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 12): Unit =
    Dedup.signatureIndex(corpus, idCol, textCol, numHashes)
      .write.parquet(new Path(indexDir, "base").toString)

  /** The committed index: the current base generation + every delta whose
    * commit marker exists and that the base has NOT folded in — see
    * [[MarkerLog.currentPaths]] for why listing is marker-driven.
    */
  def currentIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(MarkerLog.currentPaths(fs, root, "delta").map(_.toString): _*)
  }

  /** Fold the current base + committed deltas into a single new
    * generation-numbered base, under the SAME atomic-publish protocol as
    * every commit here: write `base-<gen+1>/`, publish
    * `base-<gen+1>.committed` (content = CUMULATIVE superseded dir names —
    * this generation's folds plus every earlier generation's) via
    * single-file rename — THE commit point. Superseded DATA dirs are swept
    * DEFERRED: each compaction's start-of-call sweep reclaims the dirs the
    * PREVIOUS generation superseded, so an in-flight reader of the old
    * generation gets a full compaction interval to finish (new readers
    * never see superseded dirs — the marker list hides them immediately).
    * A crash before the publish leaves the old index fully current (the
    * new dir is invisible garbage the next compaction clears); a crash
    * after it changes nothing — the sweep was deferred anyway.
    *
    * Folded deltas' commit markers are KEPT as tombstones (empty files,
    * one per historical batch): a batch whose delta was committed and then
    * folded — but whose Spark offset-log entry never landed (the crash
    * window between the two) — is REPLAYED on restart, and only its
    * marker's existence stops it from re-appending its signatures on top
    * of the compacted base. The cumulative superseded list is what keeps
    * those tombstoned names invisible to readers across generations.
    *
    * Single-writer maintenance op: run with the stream STOPPED (like every
    * table format's compaction).
    *
    * @return the new base dir name, or None if there was nothing to fold
    *         (leftover garbage from a crashed prior compaction is still
    *         swept)
    */
  def compactIndex(spark: SparkSession, indexDir: String): Option[String] =
    MarkerLog.compact(spark, new Path(indexDir), "delta")

  /** Remove folded deltas' replay tombstones for batch ids `<= upToBatchId`.
    *
    * Tombstones accumulate one empty file per historical batch — bounded
    * but real listing cost at long horizons (a year of minute-batches is
    * ~500k files). A tombstone is only needed while its batch can still
    * REPLAY, i.e. while the stream's checkpoint might not have committed
    * it: once the caller knows the checkpoint's offset log has committed
    * past `upToBatchId` (the contract this op's caller asserts — same
    * trust model as every checkpoint-retention knob), those batches can
    * never re-run under the original checkpoint and their tombstones are
    * dead weight. Only markers the current base has FOLDED are touched;
    * live deltas' markers are load-bearing commits, never pruned. The
    * base marker's superseded list keeps the pruned names — a list entry
    * with no marker behind it is harmless to readers and to later sweeps.
    *
    * @return the pruned marker names
    */
  def pruneTombstones(spark: SparkSession, indexDir: String,
      upToBatchId: Long, txnAppId: String = ""): Seq[String] =
    MarkerLog.pruneTombstones(spark, new Path(indexDir), "delta", upToBatchId, txnAppId)

  /** Run the ingest stream to completion (AvailableNow) and return the
    * accumulated matches `(new_id, corpus_id, jaccard_est, batch_id)` —
    * empty (correct schema) if the stream delivered nothing. `corpus_id`
    * is an index member, or — for within-batch exact duplicates — the
    * batch's min-id representative (jaccard_est 1.0). Restart-safe: re-run
    * with the same checkpoint (or replay the source wholesale with a fresh
    * one) and committed batches are skipped via their markers.
    */
  def runAvailableNow(
      spark: SparkSession,
      stream: DataFrame,
      indexDir: String,
      matchesDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7,
      bands: Int = 4,
      rowsPerBand: Int = 3,
      maxBucketSize: Int = 1000,
      txnAppId: String = ""
  ): DataFrame = {
    // markers are keyed (txnAppId, batchId): batchId alone is stable only
    // within ONE checkpoint, so every DISTINCT stream feeding this index
    // must pass its own txnAppId — otherwise its batch 0 aliases an earlier
    // stream's batch 0 marker and is silently skipped (the same contract as
    // Delta's txnAppId/txnVersion idempotent writes)
    validateAppId(txnAppId)
    val indexRoot = new Path(indexDir)
    val fs = indexRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(MarkerLog.resolveBase(fs, indexRoot)._1))
      throw new IllegalStateException(
        s"StreamingDedup: no bootstrap index at $indexDir — call bootstrapIndex first")
    // fail fast on a signature-length mismatch ANYWHERE in the index: a
    // single sampled row would pass on a MIXED index (base built with one
    // numHashes, a later delta with another) and then silently drop bands
    // for the mismatched subset. Audit the DISTINCT lengths instead — a
    // map-side-combined agg over the signature column only, and limit(3)
    // bounds the driver collect even on a pathological index.
    val sigLens = currentIndex(spark, indexDir)
      .select(size(col("__sig")).alias("n")).filter(col("n").isNotNull)
      .distinct().limit(3).collect().map(_.getInt(0)).toSeq.sorted
    require(sigLens.isEmpty || sigLens == Seq(bands * rowsPerBand),
      s"StreamingDedup: index signature lengths $sigLens != expected " +
        s"bands*rowsPerBand = ${bands * rowsPerBand}; rebuild the index with " +
        s"bootstrapIndex(..., numHashes = ${bands * rowsPerBand})")
    val query = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val deltaMarker = new Path(indexRoot,
          keyedName("delta", txnAppId, batchId) + ".committed")
        if (!fs.exists(deltaMarker)) { // exactly-once: marker absent → process
          val rows = batch.select(col(idCol), col(textCol)).localCheckpoint(true)
          // within-batch exact dedup: min-id representative per canonical
          // text. Null canonical text (fetch failures) gets NO grouping —
          // the window would otherwise collapse all null-text docs into
          // "duplicates" of one arbitrary unrelated doc; each stays its own
          // representative (and, having no shingles, never index-matches)
          val fp = md5(Dedup.canonical(col(textCol)))
          val withRep = rows
            .withColumn("__fp", fp)
            .withColumn("__rep",
              when(col("__fp").isNull, col(idCol))
                .otherwise(min(col(idCol)).over(Window.partitionBy(col("__fp")))))
          val reps = withRep.filter(col(idCol) === col("__rep"))
            .select(col(idCol), col(textCol))
          val innerMatches = withRep.filter(col(idCol) =!= col("__rep"))
            .select(col(idCol).alias("new_id"), col("__rep").alias("corpus_id"),
              lit(1.0).alias("jaccard_est"))
          // representatives vs the committed index (base + earlier deltas)
          val index = currentIndex(spark, indexDir)
          val idxMatches = Dedup.incrementalNearDuplicates(reps, index, idCol, textCol,
            threshold, bands, rowsPerBand, maxBucketSize).localCheckpoint(true)
          val matches = idxMatches.unionByName(innerMatches)
            .withColumn("batch_id", lit(batchId))
          // matches BEFORE the delta: the delta marker is the batch's commit,
          // so a crash between the two replays into a skip + delta commit
          MarkerLog.commitDir(matches, new Path(matchesDir, keyedName("matches", txnAppId, batchId)), fs)
          val newMembers = reps.join(
            idxMatches.select(col("new_id").alias(idCol)).distinct(),
            Seq(idCol), "left_anti")
          MarkerLog.commitDir(Dedup.signatureIndex(newMembers, idCol, textCol, bands * rowsPerBand),
            new Path(indexRoot, keyedName("delta", txnAppId, batchId)), fs)
        }
        ()
      }
      .start()
    query.awaitTermination()
    // THIS app's matches only: several txnAppIds may share one matchesDir
    // (they already share the index), and batch_id alone collides across
    // apps — returning another stream's rows would double-process them
    val matchDirs = MarkerLog.committedDirs(fs, new Path(matchesDir), MatchesMarkerRe)
      .filter(p => appIdOf(p.getName) == txnAppId)
    if (matchDirs.nonEmpty) spark.read.parquet(matchDirs.map(_.toString): _*)
    else {
      val idType = stream.schema(idCol).dataType
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("new_id", idType),
          org.apache.spark.sql.types.StructField("corpus_id", idType),
          org.apache.spark.sql.types.StructField("jaccard_est",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType))))
    }
  }
}
