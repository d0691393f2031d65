package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for scan locality — the write-side half of the
  * 100 TB story. Parquet scans prune with per-file (and per-row-group)
  * min/max statistics; those statistics only help when the write CLUSTERS
  * correlated values into the same files. Sorting by one column gives
  * perfect pruning on that column and none on any other; a Z-ORDER
  * (Morton) sort interleaves the bit patterns of several columns so every
  * participating column's values stay locally clustered — the standard
  * multi-dimensional layout (Delta OPTIMIZE ZORDER, Iceberg sort orders).
  *
  * Everything here is row-local arithmetic over built-in expressions (the
  * interleave unrolls to a static bit-op tree — codegen'd, engine-portable)
  * plus ONE `repartitionByRange` on the z-value: Spark's range partitioner
  * samples boundaries, so output files are balanced even when the z-space
  * is skewed. No window functions, no driver materialization beyond the
  * 2-number bounds row per column.
  */
object Layout {

  /** Bucket id in [0, 2^bits) for an INTEGRAL column with known inclusive
    * bounds: `(c - min) >> s` where `s = max(0, ceilLog2(max-min+1) - bits)`
    * — equal POWER-OF-TWO-width buckets, pure shift/subtract on BIGINT, so
    * any engine reproduces it bit-for-bit (no division, no float rounding;
    * the DuckDB twin derives s as `greatest(0, length(bin(max-min)) - bits)`).
    * Values outside [min,max] clamp to the edge buckets. When the domain
    * width is not a power of two the top buckets go unused — harmless for
    * layout: cell GEOMETRY matters, not cell-id density.
    */
  def bucketLong(c: Column, min: Long, max: Long, bits: Int): Column = {
    require(bits >= 1 && bits <= 20, s"bits must be in [1,20], got $bits")
    require(max >= min, s"empty domain [$min,$max]")
    val width = max - min + 1
    val s =
      if (width <= 1L) 0
      else math.max(0, (64 - java.lang.Long.numberOfLeadingZeros(width - 1)) - bits)
    val clamped = least(greatest(c.cast("long"), lit(min)), lit(max))
    shiftright(clamped - min, s)
  }

  /** Morton/Z interleave of two bucket ids (each in [0, 2^bits)): bit i of
    * `a` lands at position 2i, bit i of `b` at 2i+1. Statically unrolled —
    * one codegen'd expression, no lambda, no loop at runtime.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 20, s"bits must be in [1,20], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Morton/Z interleave of N bucket ids (each in [0, 2^bits)): bit i of
    * column j lands at position `i·n + j` — the k-dimensional
    * generalization of [[zValue]], still a statically-unrolled codegen'd
    * bit-op tree. `n·bits` must fit a signed long (≤ 63 bits).
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"zValueN needs >= 2 columns, got ${cols.size}")
    require(bits >= 1 && bits <= 20, s"bits must be in [1,20], got $bits")
    require(cols.size * bits <= 63,
      s"${cols.size} cols x $bits bits exceeds a signed long")
    val n = cols.size
    cols.zipWithIndex.foldLeft(lit(0L)) { case (acc0, (c, j)) =>
      (0 until bits).foldLeft(acc0) { (acc, i) =>
        acc.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** N-column [[zOrderBy]]: bucket every column over its actual min/max
    * (ONE aggregation for all bounds), interleave with [[zValueN]], then
    * range-repartition and sort. Two columns delegate to the same math as
    * [[zOrderBy]]; more columns trade per-column resolution for breadth
    * exactly as Delta's multi-column ZORDER does.
    */
  def zOrderByN(df: DataFrame, zCols: Seq[String], bits: Int = 8,
      numFiles: Int = 64): DataFrame =
    df.withColumn("__graft_z", zValueFor(df, zCols, bits))
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")

  /** The z-value EXPRESSION for `df` over `zCols` (bounds resolved by one
    * 2N-number aggregation over the actual data) — the reusable half of
    * [[zOrderByN]], for callers that must arrange the clustering
    * themselves (a partition-declared table sorts by this WITHIN its
    * partition clustering rather than range-partitioning the whole frame).
    */
  def zValueFor(df: DataFrame, zCols: Seq[String], bits: Int = 8): Column = {
    require(zCols.nonEmpty, "zValueFor needs at least 1 column")
    require(zCols.distinct.size == zCols.size, s"duplicate z-order column in $zCols")
    // backticked refs: a z-column NAME containing a dot must resolve as a
    // top-level column, not parse as a nested-field path
    val aggs = zCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(s"`$c`").cast("long")).alias(s"__mn$i"),
        max(col(s"`$c`").cast("long")).alias(s"__mx$i"))
    }
    val Array(row) = df.agg(aggs.head, aggs.tail: _*).collect() // 2N numbers
    val buckets = zCols.zipWithIndex.map { case (c, i) =>
      require(!row.isNullAt(2 * i), s"zValueFor: empty input or all-null $c")
      bucketLong(col(s"`$c`"), row.getLong(2 * i), row.getLong(2 * i + 1), bits)
    }
    // one column has nothing to interleave: the RAW value is the exact
    // range sort (Delta's single-column ZORDER) — strictly tighter
    // row-group stats than any bucket quantization. The bounds
    // aggregation above still ran: it is also the loud all-null/empty
    // guard (a constant-null sort key would silently collapse the layout)
    if (zCols.size == 1) col(s"`${zCols.head}`").cast("long")
    else zValueN(buckets, bits)
  }

  /** Cluster `df` for scans that filter on BOTH `colA` and `colB`: bucket
    * each column over its actual min/max (computed in one tiny aggregation,
    * broadcast back as a 1-row bounds dimension — the plan stays fully
    * distributed), interleave to a z-value, then range-repartition and
    * sort by it. Writing the result produces `numFiles`-balanced files
    * whose per-file min/max boxes tile the (A,B) plane — a predicate on
    * either column prunes most files, which a single-column sort cannot do
    * for the second column. Returns the clustered frame with the z column
    * dropped.
    */
  def zOrderBy(df: DataFrame, colA: String, colB: String,
      bits: Int = 8, numFiles: Int = 64): DataFrame =
    zOrderByN(df, Seq(colA, colB), bits, numFiles)

  /** OPTIMIZE ZORDER for a [[graft.sources.SnapshotManifest]] table — the
    * Delta/Iceberg maintenance verb on this engine's commit protocol:
    * rewrite the CURRENT snapshot clustered by [[zOrderBy]] over
    * `(colA, colB)` and commit it atomically as a new version, with
    * manifest stats re-collected for the z-order columns (plus whatever
    * the table already recorded), so [[graft.sources.SnapshotManifest
    * .readWhere]] prunes on BOTH axes afterward. Readers of the old
    * snapshot are never disturbed; [[graft.sources.SnapshotManifest
    * .vacuum]] reclaims it later. Data is byte-identical up to row order
    * — and [[graft.sources.SnapshotManifest.changesBetween]] across the
    * optimize therefore emits NOTHING beyond file moves (its unchanged-
    * row detection drops rewritten-but-identical rows).
    *
    * The rewrite prices one full table scan + one range shuffle on the
    * z-value — the standard OPTIMIZE cost, run at maintenance cadence;
    * every later narrow scan on either column repays it.
    *
    * @return the committed version
    */
  def optimizeSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
      zCols: Seq[String], bits: Int = 8, numFiles: Int = 64,
      extraStatsCols: Seq[String] = Nil): Long = {
    import graft.sources.SnapshotManifest
    val v = SnapshotManifest.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"optimizeSnapshot: no committed snapshot under $root"))
    // ONE manifest read answers stats, entries, and the declared schema
    val (body, meta) = SnapshotManifest.manifestParts(spark, root, v)
    val entries = SnapshotManifest.bodyEntries(body)
    val inherited = SnapshotManifest.bodyStats(body)
      .values.flatMap(_.cols.keys).toSeq
    val statsCols = (inherited ++ zCols ++ extraStatsCols).distinct.sorted
    val base = SnapshotManifest.readEntries(spark, root, entries, meta.schema)
    // PARTITION-DECLARED tables keep their partition clustering (the file
    // split IS the first pruning axis); the z-order applies WITHIN each
    // partition via the reserved sort marker, so row groups inside a
    // partition's file stay tightly boxed on the z columns. Unpartitioned
    // tables range-partition the whole frame by z-value as before.
    val frame =
      if (meta.partitionCols.isEmpty) zOrderByN(base, zCols, bits, numFiles)
      else base.select(col("*"),
        SnapshotManifest.clusterSortMarker(zValueFor(base, zCols, bits)))
    // MAINTENANCE commit: every table property (bloom, pk, partitioning,
    // txn records) survives OPTIMIZE like stats do, the rewrite retires a
    // recorded schema it materialized, and a concurrent append rebases on
    // instead of failing the re-layout
    SnapshotManifest.publishCommit(spark, root, "optimizeSnapshot", v,
      Left(body), meta, SnapshotManifest.StagedCommit(removed = body,
        added = SnapshotManifest.stageLines(spark, root, v + 1, Some(frame),
          statsCols, meta)),
      gate = None, emptySchema = meta.schema.orElse(Some(base.schema)),
      retireSchema = true)
  }
}
