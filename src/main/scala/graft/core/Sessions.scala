package graft.core

import org.apache.spark.sql.SparkSession

/** Session bootstrap (SURVEY §2.12 C7: the reference builds its Exasol
  * connection from env vars, `utils.py:299-309`; here the "connection" is the
  * SparkSession itself).
  *
  * Scale notes: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), UTC session timezone for deterministic timestamp semantics,
  * shuffle partitions sized for the local harness but overridable — on a real
  * cluster this would be `spark.sql.shuffle.partitions ≈ 2-3× total cores`
  * plus AQE coalescing. A global sort over a small input takes ONE range
  * partition from the start ([[graft.plans.SmallRangeSort]], injected by
  * [[graft.GraftExtensions]]): when the measured input is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default), the size coalescing always merges into one partition, and
  * the range partitioner then runs no sampling job.
  *
  * The codegen cache size is a STATIC conf: Spark reads it once per JVM,
  * when the first query compiles generated code, so it cannot be set on a
  * running session. A caller that builds its own session instead of
  * [[builder]] should set `spark.sql.codegen.cache.maxEntries` to
  * [[CodegenCacheMaxEntries]] itself, or warm engine calls keep
  * recompiling the classes Spark's 100-entry default evicts.
  */
object Sessions {
  /** Entries of Spark's generated-class cache (LRU; default 100). A cache
    * key is (context classloader, generated source), and each class is
    * compiled once under the driver's loader and once under the executor
    * task's, so every distinct source takes two entries. Measured working
    * sets (local[4], compile counts from Spark's `CodegenMetrics`):
    *   - one call of every engine verb family on a 200-row table
    *     (CodegenBudgetSpec's warm-up deck) compiles 98 classes, about the
    *     whole default cache; a benchmark's deck of verified writes needs
    *     more;
    *   - the 165-query `graft.Bench` warm-up pass at sf0.001 compiles 2273
    *     classes, and its three timed passes another 669 whose source
    *     changes per run. At 2000 entries each cyclic pass evicted what
    *     the next one needed: the timed passes recompiled 2294 classes in
    *     161 queries. At 4096 they recompiled 672, in 43 queries (669 in
    *     42 at 8192): only the per-run classes.
    * A cached class costs its loaded bytecode.
    */
  val CodegenCacheMaxEntries = 4096

  def builder(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .withExtensions(new graft.GraftExtensions) // SQL-callable native fns
      // session-catalog extension: SQL time travel (VERSION/TIMESTAMP AS
      // OF) for snapshot tables; everything else delegates verbatim
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.GraftCatalog")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // object-hash agg (TypedImperativeAggregate: topk, collect_*) falls
      // back to SORT-based aggregation after this many in-memory keys —
      // the default 128 turns any high-cardinality topk into a full sort.
      // Buffers are ≤ k elements, so thousands of entries are cheap.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      // plain (un-adjusted) parquet timestamps read as TIMESTAMP, not
      // TIMESTAMP_NTZ: the engine's temporal operators (unix_micros as-of
      // arithmetic, RANGE frames) are defined over the instant type, and
      // with a UTC session the wall-clock values are identical either way
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // NOTE on timestamps: the INT96 write default stays for GENERAL
      // writes — downstream consumers (the oracle harness reads result
      // dumps through DuckDB/pandas) type INT64-micros-adjustedToUTC as
      // TIMESTAMPTZ, which changes their rendered values. Engine-INTERNAL
      // snapshot data files (only ever read back by this engine) are
      // written as INT64 micros instead — see SnapshotManifest
      // .writeDataFiles — because INT96 chunks carry no footer statistics
      // and Spark disables parquet predicate pushdown on INT96 entirely.
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)

  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
