package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Catalyst-integrated scan of one snapshot version — the `FileIndex`
  * behind [[SnapshotManifest.table]]. Where `read()` resolves the file
  * list eagerly (a later `.filter` can only drop ROWS),
  * `table(...).filter(...)` hands the query's own pushed data filters to
  * [[listFiles]] during PLANNING, which evaluates them against the
  * manifest's per-file stats ([[ManifestStats.prune]]) — files whose
  * ranges cannot match never enter the scan, with zero API surface: the
  * same declarative plan Delta/Iceberg users write. Everything downstream
  * is Spark's native parquet scan (vectorized reader, row-group pushdown
  * via the same predicates, column pruning).
  *
  * A snapshot version is IMMUTABLE, so [[refresh]] is a no-op and every
  * resolution (statuses, sizes) caches: the index answers planning
  * questions from one `listStatus` per data directory (directory count is
  * commit-bounded), never one round-trip per file. Data directories are
  * SHARED across versions — the listing is filtered back to exactly this
  * version's files, and a file the manifest references but the store
  * lacks fails loudly (the `read()` contract).
  *
  * Pruning here is planning-time and conservative (stats-less files
  * always survive — [[ManifestStats.mayMatch]]); correctness never
  * depends on it because the pushed predicates are ALSO evaluated by the
  * parquet reader and the post-scan `Filter`.
  */
private[graft] final class SnapshotFileIndex(
    spark: SparkSession, root: String, version: Long,
    entries: Seq[SnapshotManifest.ManifestEntry],
    stats: Map[String, ManifestStats.FileStats],
    dataSchema: StructType) extends FileIndex {

  private val rootPath = new Path(root)
  private val absPaths: Seq[String] =
    SnapshotManifest.bodyFiles(root, entries.map(_.rel))

  // one listStatus per data dir, keyed by qualified path; shared dirs are
  // filtered back to this version's files at lookup
  private lazy val statusByPath: Map[String, FileStatus] = {
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    absPaths.map(p => new Path(p).getParent).distinct
      .flatMap(d => fs.listStatus(d))
      .map(st => st.getPath.toString -> st).toMap
  }

  private def statusOf(abs: String): FileStatus = {
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    statusByPath.getOrElse(fs.makeQualified(new Path(abs)).toString,
      throw new IllegalStateException(
        s"SnapshotFileIndex: version $version of $root references $abs " +
          "but the store lacks it (vacuumed under a time-travel reader?)"))
  }

  override def rootPaths: Seq[Path] = Seq(rootPath)

  override def partitionSchema: StructType = new StructType()

  private val counters = SnapshotFileIndex.countersFor(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    counters.calls.incrementAndGet()
    val survivors = dataFilters.reduceOption(And) match {
      case Some(pred) =>
        val kept = ManifestStats.prune(absPaths, stats, pred)
        counters.prunes.incrementAndGet()
        counters.lastPrune.set((absPaths.size.toLong << 32) | kept.size.toLong)
        kept
      case None => absPaths
    }
    Seq(PartitionDirectory(InternalRow.empty, survivors.map(statusOf).toArray))
  }

  override def inputFiles: Array[String] = absPaths.toArray

  /** Every file status of this version, manifest order — the DSv2 wrapper
    * ([[SnapshotTableV2]]) feeds these to `PartitioningAwareFileIndex`'s
    * leaf maps; resolution shares [[statusByPath]]'s one-listStatus-per-dir
    * cache.
    */
  private[graft] def allStatuses: Seq[FileStatus] = absPaths.map(statusOf)

  override def refresh(): Unit = () // a snapshot version is immutable

  override lazy val sizeInBytes: Long = absPaths.map(statusOf(_).getLen).sum
}

private[graft] object SnapshotFileIndex {

  /** Diagnostic counters for ONE table root: filtered-scan plannings that
    * ran manifest-stats pruning, and the last (considered << 32 | kept)
    * pair — specs and the q155/q156 gates assert the planning-time prune
    * actually fired and dropped files. PER-ROOT, not JVM-global: a gate
    * reads the counters of the relation it built, so a concurrent query
    * over another snapshot table (or a second scan elsewhere in the same
    * plan) cannot make the gate assert on the wrong scan's numbers.
    */
  final class PruneCounters {
    val prunes = new java.util.concurrent.atomic.AtomicLong
    val calls = new java.util.concurrent.atomic.AtomicLong
    val lastPrune = new java.util.concurrent.atomic.AtomicLong(-1L)
    def lastConsidered: Long = lastPrune.get() >>> 32
    def lastKept: Long = lastPrune.get() & 0xffffffffL
  }

  // counters live and are looked up per root (all versions of a root
  // share one object — gates use distinct temp roots). Entries are a few
  // AtomicLongs; the clear() guard bounds a pathological
  // many-tables-one-JVM run — these are diagnostics, not state.
  private val byRoot =
    new java.util.concurrent.ConcurrentHashMap[String, PruneCounters]
  private val MaxTracked = 4096

  def countersFor(root: String): PruneCounters = {
    if (byRoot.size > MaxTracked) byRoot.clear()
    byRoot.computeIfAbsent(normalize(root), _ => new PruneCounters)
  }

  // the same table root arrives both bare ("/tmp/t") and scheme-qualified
  // ("file:/tmp/t" — catalog LOCATIONs); key on authority + path so a gate
  // reads the counters its relation wrote whichever spelling it used
  private def normalize(root: String): String = {
    val uri = new Path(root).toUri
    Option(uri.getAuthority).getOrElse("") + uri.getPath
  }
}
