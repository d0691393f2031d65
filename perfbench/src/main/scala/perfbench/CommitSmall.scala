package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sources.{ChangeFeed, SnapshotManifest}

/** `commit_small`: one snapshot table seeded from 15k generated orders
  * (8 range files, stats on `o_orderkey` and `o_custkey`, primary key
  * `o_orderkey`), then decks of tiny writes, each followed by a point
  * `readWhere` of a key it wrote. After the writes, a deck publishes their
  * change feed, reads it back, compacts the small files the writes left and
  * vacuums, as an ETL job does after a load. Data work is near zero, so the
  * fixed per-commit cost (jobs, driver gap, manifest replay and publish) is
  * the whole latency.
  *
  * Every write is applied to an in-memory model too; each point read must
  * equal the model, each deck's feed must hold exactly its writes' changes,
  * and the table must equal the model at the end.
  */
final class CommitSmall(val ctx: Ctx) extends Workload {
  import CommitSmall._
  private val spark = ctx.spark
  private val rng = new scala.util.Random(ctx.seed)
  private val root = s"${ctx.workDir}/tables/orders"
  private val model = mutable.HashMap.empty[Long, Order]
  private val live = new java.util.TreeSet[java.lang.Long]()
  private var nextKey = 0L
  // the deck's expected feed rows: (key, change), updates as post-images
  private val changes = mutable.ArrayBuffer.empty[(Long, String)]
  // traced only: (table version, latency ms) of the point reads, for the
  // log-growth slope; files kept by pruning / live files per point read;
  // files an API merge replaced
  private val growth = mutable.ArrayBuffer.empty[(Double, Double)]
  private val pruneRatios = mutable.ArrayBuffer.empty[Double]
  private val rewritten = mutable.ArrayBuffer.empty[Double]

  /** Creates the table from scratch; a repeated seeding replaces it. */
  def seed(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    TableFiles.delete(root)
    model.clear(); live.clear()
    val src = spark.read.parquet(s"${ctx.dataDir}/orders.parquet").select(Cols.map(col): _*)
    SnapshotManifest.commit(spark, root,
      src.repartitionByRange(8, col("o_orderkey")), StatsCols)
    SnapshotManifest.setPrimaryKey(spark, root, Pk)
    spark.sql(s"CREATE TABLE $Table USING `graft-snapshot` LOCATION '$root'")
    src.collect().foreach { r => val (k, o) = fromRow(r); put(k, o) }
    nextKey = live.last + 1
  }

  def warm(): Unit = deck(Deck)

  /** One deck, its writes in a seed-dependent order. */
  def unit(): Unit = deck(rng.shuffle(Deck))

  private def deck(kinds: Seq[String]): Unit = {
    val v0 = version()
    changes.clear()
    kinds.foreach(step)
    publish(v0)
    maintain()
  }

  private def version(): Long = SnapshotManifest.currentVersion(spark, root).get

  /** One cycle: a write of `kind` and the point read that verifies it. */
  private def step(kind: String): Unit = ctx.rec.cycle("commit_small.cycle") {
    val probe: Long = kind match {
      case "append" =>
        val k = newKey(); val o = randomOrder()
        attempt("snapshot.appendRows", "snapshot") {
          SnapshotManifest.appendRows(spark, root, frame(Seq(k -> o)), StatsCols)
        }
        put(k, o); changes += (k -> "insert"); k
      case MergeKind(sql, n) =>
        val rows = mergeBatch(n.toInt)
        val staged = frame(rows)
        if (sql.isEmpty) {
          val before = if (ctx.rec.tracing) liveFiles() else Set.empty[String]
          attempt("upsert.mergeWhere", "upsert") {
            Upsert.mergeWhere(spark, root, staged, Pk, StatsCols)
          }
          if (ctx.rec.tracing) rewritten += (before -- liveFiles()).size
        } else attempt("sql.merge", "sql") {
          staged.createOrReplaceTempView("perfbench_src")
          spark.sql(s"""MERGE INTO $Table t USING perfbench_src s
                       |ON t.o_orderkey = s.o_orderkey
                       |WHEN MATCHED THEN UPDATE SET *
                       |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        }
        rows.foreach { case (k, o) =>
          changes += (k -> (if (model.contains(k)) "update_postimage" else "insert"))
          put(k, o)
        }
        rows.head._1
      case "delete" | "delete_mor" | "sql_delete" =>
        val k = oldKey()
        val p = col("o_orderkey") === k
        kind match {
          case "delete" => attempt("snapshot.deleteWhere", "snapshot") {
            SnapshotManifest.deleteWhere(spark, root, p, StatsCols) }
          case "delete_mor" => attempt("snapshot.deleteWhereMoR", "snapshot") {
            SnapshotManifest.deleteWhereMoR(spark, root, p) }
          case _ => attempt("sql.delete", "sql") {
            spark.sql(s"DELETE FROM $Table WHERE o_orderkey = $k") }
        }
        model.remove(k); live.remove(k); changes += (k -> "delete"); k
      case "update" =>
        val k = oldKey()
        attempt("snapshot.updateWhere", "snapshot") {
          SnapshotManifest.updateWhere(spark, root, col("o_orderkey") === k,
            Map("o_orderstatus" -> lit("U"), "o_totalprice" -> (col("o_totalprice") + 1.0)),
            StatsCols)
        }
        val o = model(k)
        model(k) = o.copy(status = "U", price = o.price + 1.0)
        changes += (k -> "update_postimage"); k
    }
    verify(probe)
  }

  private def verify(k: Long): Unit = {
    val p = col("o_orderkey") === k
    val v = if (ctx.rec.tracing) version() else 0L
    val t0 = System.nanoTime()
    attempt("snapshot.readWhere", "snapshot") {
      val got = SnapshotManifest.readWhere(spark, root, p)
        .select(Cols.map(col): _*).collect().map(fromRow).toSeq
      val want = model.get(k).map(k -> _).toSeq
      if (got != want) fail(s"point read of key $k: got $got, want $want")
    }
    if (ctx.rec.tracing) {
      growth += ((v.toDouble, (System.nanoTime() - t0) / 1e6))
      pruneRatios += SnapshotManifest.prunedFiles(spark, root, v, p).size.toDouble /
        SnapshotManifest.snapshotFiles(spark, root, v).size
    }
  }

  /** Publishes the feed of the deck's commits and reads it back: its
    * inserts, update post-images and deletes must be exactly the deck's.
    */
  private def publish(v0: Long): Unit = {
    attempt("changefeed.materializeNew", "changefeed") {
      ChangeFeed.materializeNew(spark, root, Pk)
    }
    attempt("changefeed.feed", "changefeed") {
      val got = ChangeFeed.feed(spark, root, Some(v0))
        .filter(col("_change") =!= "update_preimage")
        .select(col("o_orderkey"), col("_change")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
      val want = changes.toSeq.sorted
      if (got != want) fail(s"deck feed since v$v0 holds ${got.size} changes " +
        s"${got.diff(want).take(3)} not written, misses ${want.diff(got).take(3)}")
    }
  }

  /** Folds the files under `SmallBytes` (1-row appends, small merge
    * outputs; the seeded range files are far larger) into one, then drops
    * all but the last two versions.
    */
  private def maintain(): Unit = {
    attempt("snapshot.compactSmallFiles", "snapshot") {
      SnapshotManifest.compactSmallFiles(spark, root, smallBytes = SmallBytes,
        targetBytes = 1024L * 1024)
    }
    attempt("snapshot.vacuum", "snapshot") { SnapshotManifest.vacuum(spark, root, keep = 2) }
  }

  private def liveFiles(): Set[String] =
    SnapshotManifest.snapshotFiles(spark, root, version()).toSet

  def check(): Unit = {
    val got = SnapshotManifest.read(spark, root).select(Cols.map(col): _*)
      .collect().map(fromRow)
    val gotMap = got.toMap
    if (got.length != gotMap.size) fail(s"table holds duplicate keys")
    if (gotMap != model) {
      val diff = (gotMap.keySet ++ model.keySet).filter(k => gotMap.get(k) != model.get(k))
      fail(s"table differs from the model on ${diff.size} keys, e.g. " +
        diff.take(3).map(k => s"$k: ${gotMap.get(k)} vs ${model.get(k)}").mkString("; "))
    }
  }

  def layerMetrics(traced: Seq[Span], jobs: Map[Long, Seq[JobListener#Job]])
      : Map[String, Double] = {
    import Workload.{verb, verbMetrics}
    val (sqlMerge, _) = verb(traced, jobs, "sql.merge")
    val (sqlDelete, _) = verb(traced, jobs, "sql.delete")
    val (apiMerge, _) = verb(traced, jobs, "upsert.mergeWhere")
    val (apiDelete, _) = verb(traced, jobs, "snapshot.deleteWhere")
    val files = TableFiles(spark, root)
    verbMetrics("snapshot.append", traced, jobs, "snapshot.appendRows") ++
      verbMetrics("snapshot.delete", traced, jobs, "snapshot.deleteWhere") ++
      verbMetrics("snapshot.update", traced, jobs, "snapshot.updateWhere") ++
      verbMetrics("snapshot.delete_mor", traced, jobs, "snapshot.deleteWhereMoR") ++
      verbMetrics("snapshot.read_where", traced, jobs, "snapshot.readWhere") ++
      verbMetrics("upsert.merge_small", traced, jobs, "upsert.mergeWhere") ++
      verbMetrics("changefeed.materialize", traced, jobs, "changefeed.materializeNew") ++
      Map(
        "changefeed.feed_read_ms" -> verb(traced, jobs, "changefeed.feed")._1,
        "snapshot.compact_ms" -> verb(traced, jobs, "snapshot.compactSmallFiles")._1,
        "snapshot.vacuum_ms" -> verb(traced, jobs, "snapshot.vacuum")._1,
        "snapshot.prune_ratio" -> Stats.p50OrZero(pruneRatios.toSeq),
        "upsert.files_rewritten_per_merge" -> Stats.p50OrZero(rewritten.toSeq),
        "sql.merge_ms" -> sqlMerge, "sql.delete_ms" -> sqlDelete,
        "sql.overhead_ms" -> ((sqlMerge - apiMerge) + (sqlDelete - apiDelete)) / 2,
        "snapshot.log_bytes_per_commit" -> files.logBytes.toDouble / files.versions,
        "snapshot.latency_slope_ms_per_100_versions" -> 100 * Stats.slope(growth.toSeq),
        "snapshot.live_files" -> files.liveFiles.toDouble,
        "snapshot.storage_amp" -> files.storageAmp(s"${ctx.workDir}/plain"))
  }

  private def put(k: Long, o: Order): Unit = { model(k) = o; live.add(k) }
  private def newKey(): Long = { nextKey += 1; nextKey - 1 }

  /** A live key from the newest tenth of the key range, where ETL writes
    * land; a fixed share keeps the files a write touches alike across seeds.
    */
  private def oldKey(): Long = {
    val lo = (nextKey * 0.9).toLong
    val k = lo + (rng.nextDouble() * (nextKey - lo)).toLong
    Option(live.ceiling(k)).orElse(Option(live.floor(k))).get
  }

  /** `n` rows: one new key and `n - 1` updates of distinct live keys. */
  private def mergeBatch(n: Int): Seq[(Long, Order)] = {
    val upd = Iterator.continually(oldKey()).distinct.take(n - 1).toSeq
    (newKey() +: upd).map(_ -> randomOrder())
  }

  private def randomOrder(): Order = Order(
    cust = rng.nextInt(1500).toLong,
    status = Seq("F", "O", "P")(rng.nextInt(3)),
    price = (100000 + rng.nextInt(49900000)) / 100.0,
    dateUs = Epoch1995Us + rng.nextInt(2404) * DayUs,
    prio = Priorities(rng.nextInt(5)))

  private def frame(rows: Seq[(Long, Order)]): DataFrame = {
    val data = rows.map { case (k, o) =>
      val ts = new Timestamp(o.dateUs / 1000)
      Row(k, o.cust, o.status, o.price, ts, o.prio)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), Schema)
  }
}

object CommitSmall {
  final case class Order(cust: Long, status: String, price: Double, dateUs: Long,
      prio: String)

  val Table = "perfbench_orders"
  val Pk = Seq("o_orderkey")
  val SmallBytes = 16L * 1024
  val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val StatsCols = Seq("o_orderkey", "o_custkey")
  val Schema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val DayUs = 86400000000L
  val Epoch1995Us = 788918400000000L

  /** One deck of writes: every kind once, merges (the most common ETL
    * write) twice, at the small and the large end of 1-8 keys.
    */
  val Deck = Seq("append", "merge:2", "merge:8", "delete", "update", "delete_mor",
    "sql_merge:4", "sql_delete")
  private val MergeKind = "(sql_|)merge:(\\d)".r

  def fromRow(r: Row): (Long, Order) = {
    val ts = r.getTimestamp(4)
    (r.getLong(0), Order(r.getLong(1), r.getString(2), r.getDouble(3),
      ts.getTime / 1000 * 1000000 + ts.getNanos / 1000, r.getString(5)))
  }
}
