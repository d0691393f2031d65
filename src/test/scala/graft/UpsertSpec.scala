package graft

import org.apache.spark.sql.functions._
import graft.operators.Upsert

/** SURVEY §2.9 — MERGE semantics (`utils.py:237-296`). */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1L, "t1", "2024-01-01", "2024-01-01", 10.0),
    (2L, "t2", "2024-01-02", "2024-01-02", 20.0)
  ).toDF("pk", "payload", Upsert.InsertTs, Upsert.UpdateTs, "amount")

  private def staged = Seq(
    (2L, "s2", "2024-02-01", "2024-02-01", 99.0), // matched
    (3L, "s3", "2024-02-01", "2024-02-01", 30.0)  // new
  ).toDF("pk", "payload", Upsert.InsertTs, Upsert.UpdateTs, "amount")

  test("J4 matched rows: staged values except PK and INSERT_TIMESTAMP (utils.py:270-280)") {
    val out = Upsert.merge(target, staged, Seq("pk")).orderBy("pk").collect()
    assert(out.length == 3)
    val row2 = out(1)
    assert(row2.getAs[String]("payload") == "s2")
    assert(row2.getAs[String](Upsert.InsertTs) == "2024-01-02") // target wins
    assert(row2.getAs[String](Upsert.UpdateTs) == "2024-02-01") // staged wins
    assert(row2.getAs[Double]("amount") == 99.0)
  }

  test("J4 schema drift: target column absent from staged keeps its value on match") {
    val driftedStaged = staged.drop("amount") // batch page lost a column
    val out = Upsert.merge(target, driftedStaged, Seq("pk")).orderBy("pk").collect()
    assert(out(1).getAs[String]("payload") == "s2")   // present column: staged wins
    assert(out(1).getAs[Double]("amount") == 20.0)    // absent column: target KEPT
    assert(out(2).isNullAt(out(2).fieldIndex("amount"))) // inserted row: null is correct
  }

  test("J4 unmatched target rows pass through; staged-only rows inserted whole (utils.py:283-290)") {
    val out = Upsert.merge(target, staged, Seq("pk")).orderBy("pk").collect()
    assert(out(0).getAs[String]("payload") == "t1")
    assert(out(2).getAs[String]("payload") == "s3")
    assert(out(2).getAs[String](Upsert.InsertTs) == "2024-02-01") // staged insert_ts kept on insert
  }

  test("J4 merge is idempotent: merge(merge(t,s),s) == merge(t,s)") {
    val once = Upsert.merge(target, staged, Seq("pk"))
    val twice = Upsert.merge(once, staged, Seq("pk"))
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("J4 composite PK + comma-string parsing (utils.py:264-269)") {
    assert(Upsert.parsePkColumns(" a , b,c ") == Seq("a", "b", "c"))
    val t2 = target.withColumn("pk2", lit("x"))
    val s2 = staged.withColumn("pk2", lit("x"))
    val out = Upsert.merge(t2, s2, "pk, pk2").orderBy("pk").collect()
    assert(out.length == 3 && out(1).getAs[String]("payload") == "s2")
  }

  test("J4 null PKs never match (Exasol `=` MERGE parity)") {
    val t = Seq((Option.empty[Long], "tn"), (Some(1L), "t1"))
      .toDF("pk", "payload")
    val s = Seq((Option.empty[Long], "sn"), (Some(1L), "s1"))
      .toDF("pk", "payload")
    val out = Upsert.merge(t, s, Seq("pk"))
    // null-PK target row passes through, null-PK staged row inserted: 3 rows
    assert(out.count() == 3)
    assert(out.filter(col("payload").isin("tn", "sn")).count() == 2)
  }

  test("§2.9 mergeSql printable twin shape (utils.py:456-493)") {
    val sql = Upsert.mergeSql("sch.tbl", "sch_tmp.tbl", Seq("PK"),
      Seq("PK", Upsert.InsertTs, Upsert.UpdateTs, "V"))
    assert(sql.contains("""MERGE INTO sch.tbl t USING sch_tmp.tbl s ON (t."PK" = s."PK")"""))
    assert(sql.contains("""UPDATE SET t."UPDATE_TIMESTAMP" = s."UPDATE_TIMESTAMP", t."V" = s."V""""))
    assert(!sql.contains("""t."INSERT_TIMESTAMP" = s."""))
    assert(sql.contains("WHEN NOT MATCHED THEN INSERT"))
  }

  test("§2.9 mergeAndSwap: durable parquet target updated atomically, audit returned") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("upsert_swap").toString + "/target"
    target
      .withColumn(Upsert.InsertTs, col(Upsert.InsertTs).cast("timestamp"))
      .withColumn(Upsert.UpdateTs, col(Upsert.UpdateTs).cast("timestamp"))
      .write.parquet(dir)
    val stagedTs = staged
      .withColumn(Upsert.InsertTs, col(Upsert.InsertTs).cast("timestamp"))
      .withColumn(Upsert.UpdateTs, current_timestamp()) // "loaded now"
    val audited = Upsert.mergeAndSwap(spark, dir, stagedTs, Seq("pk"))
    val after = spark.read.parquet(dir).orderBy("pk").collect()
    assert(after.length == 3)
    assert(after(1).getAs[String]("payload") == "s2")
    assert(after(2).getAs[String]("payload") == "s3")
    assert(audited == 2L) // the two staged rows carry today's UPDATE_TIMESTAMP
  }

  test("A2 audit counts rows updated today (utils.py:293-295)") {
    val merged = Seq(("2024-01-01")).toDF(Upsert.UpdateTs)
      .withColumn(Upsert.UpdateTs, col(Upsert.UpdateTs).cast("timestamp"))
      .unionByName(Seq(1).toDF("x").select(current_timestamp().alias(Upsert.UpdateTs)))
    assert(Upsert.auditUpdatedToday(merged) == 1L)
  }

  // -----------------------------------------------------------------------
  // mergeWhere: file-pruned copy-on-write MERGE on a snapshot table
  // -----------------------------------------------------------------------

  import graft.sources.SnapshotManifest

  /** 0..199 range-clustered into 8 files with id stats — each file covers a
    * disjoint 25-key range, so a narrow staged batch admits few files.
    */
  private def rangeTable(): String = {
    val root = java.nio.file.Files.createTempDirectory("mergewhere").toString
    val df = spark.range(0, 200).toDF("id")
      .withColumn("grp", (col("id") % 4).cast("int"))
      .withColumn("v", (col("id") * 10).cast("long"))
      .repartitionByRange(8, col("id"))
    SnapshotManifest.commit(spark, root, df, Seq("id"))
    root
  }

  test("mergeWhere rewrites only stats-admitted files; kept manifest lines verbatim") {
    val root = rangeTable()
    val bodyBefore = SnapshotManifest.manifestBody(spark, root, 0L)
    val staged = Seq((10L, 7, -1L), (12L, 7, -2L), (500L, 9, -3L))
      .toDF("id", "grp", "v") // two updates in one key range + one new key
    val v1 = Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"))
    assert(v1 == 1L)
    val bodyAfter = SnapshotManifest.manifestBody(spark, root, 1L)
    val keptVerbatim = bodyBefore.toSet intersect bodyAfter.toSet
    // 8 near-equal ranges over 0..199: ids 10 and 12 live in ONE file; 500
    // is outside every range. Exactly one old file rewritten, 7 verbatim.
    assert(keptVerbatim.size == 7, s"expected 7 verbatim lines, got ${keptVerbatim.size}")
    // result ≡ whole-table merge
    val expect = Upsert.merge(
      spark.read.parquet(SnapshotManifest.snapshotFiles(spark, root, 0L): _*),
      staged, Seq("id"))
    val got = SnapshotManifest.read(spark, root)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    assert(got.filter(col("id") === 10L).head().getAs[Long]("v") == -1L)
    assert(got.filter(col("id") === 500L).count() == 1L)
    assert(got.count() == 201L)
  }

  test("mergeWhere over-cap key set degrades to the min/max range predicate, same result") {
    val root = rangeTable()
    val staged = Seq((10L, 7, -1L), (12L, 7, -2L)).toDF("id", "grp", "v")
    val v1 = Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"),
      maxKeySetSize = 1) // force the fallback
    assert(v1 == 1L)
    // keys 10 and 12 are 2 apart — the [10,12] range still admits one file
    val keptVerbatim = SnapshotManifest.manifestBody(spark, root, 0L).toSet intersect
      SnapshotManifest.manifestBody(spark, root, 1L).toSet
    assert(keptVerbatim.size == 7)
    assert(SnapshotManifest.read(spark, root).filter(col("id") === 12L)
      .head().getAs[Long]("v") == -2L)
  }

  test("mergeWhere null-PK staged rows are pure inserts (no file rewritten)") {
    val root = rangeTable()
    val staged = Seq((null.asInstanceOf[java.lang.Long], 7, -1L))
      .toDF("id", "grp", "v")
    val v1 = Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"))
    assert(v1 == 1L)
    // every old line carried verbatim; the insert landed in a new file
    val keptVerbatim = SnapshotManifest.manifestBody(spark, root, 0L).toSet intersect
      SnapshotManifest.manifestBody(spark, root, 1L).toSet
    assert(keptVerbatim.size == 8)
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 201L)
    assert(got.filter(col("id").isNull).count() == 1L)
  }

  test("mergeWhere empty staged batch is a no-op commit") {
    val root = rangeTable()
    val staged = spark.range(0).toDF("id")
      .withColumn("grp", lit(0)).withColumn("v", lit(0L))
    assert(Upsert.mergeWhere(spark, root, staged, Seq("id")) == 0L)
    assert(SnapshotManifest.currentVersion(spark, root).contains(0L))
  }

  test("mergeWhere widening staged column is cast back to the target type (mixed-file schema)") {
    val root = rangeTable()
    // v arrives as int (narrower) — output must stay long to match kept files
    val staged = Seq((10L, 7, 42)).toDF("id", "grp", "v")
    Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"))
    val got = SnapshotManifest.read(spark, root)
    assert(got.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(got.filter(col("id") === 10L).head().getAs[Long]("v") == 42L)
  }

  test("mergeWhere into an emptied table keeps the TABLE schema (no staged-column graft)") {
    val root = rangeTable()
    // empty the table: the current snapshot has zero data files
    SnapshotManifest.deleteWhere(spark, root, lit(true), Seq("id"))
    assert(SnapshotManifest.read(spark, root).count() == 0L)
    // staged carries a stream-style bookkeeping column and a narrower type
    val staged = Seq((10L, 7, 42, 99L)).toDF("id", "grp", "v", "ts")
    Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"))
    val got = SnapshotManifest.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "grp", "v"), "ts must not graft into the table")
    assert(got.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(got.head().getAs[Long]("v") == 42L)
  }

  test("mergeWhere composite PK prunes on the per-column IN conjunction") {
    val root = java.nio.file.Files.createTempDirectory("mergewhere_ck").toString
    val df = spark.range(0, 100).toDF("id")
      .withColumn("k2", (col("id") % 10).cast("int"))
      .withColumn("v", col("id") * 2)
      .repartitionByRange(4, col("id"))
    SnapshotManifest.commit(spark, root, df, Seq("id", "k2"))
    val staged = Seq((7L, 7, -7L), (93L, 3, -93L)).toDF("id", "k2", "v")
    Upsert.mergeWhere(spark, root, staged, Seq("id", "k2"), Seq("id", "k2"))
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 100L)
    assert(got.filter(col("id") === 7L).head().getAs[Long]("v") == -7L)
    assert(got.filter(col("id") === 93L).head().getAs[Long]("v") == -93L)
    // two staged keys in two different quarter-ranges: 2 files rewritten
    val keptVerbatim = SnapshotManifest.manifestBody(spark, root, 0L).toSet intersect
      SnapshotManifest.manifestBody(spark, root, 1L).toSet
    assert(keptVerbatim.size == 2)
  }

  test("mergeWhereWithRetry: two racing mergers both land, table integrates both") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = rangeTable()
    val s1 = Seq((10L, 7, -1L)).toDF("id", "grp", "v")
    val s2 = Seq((150L, 7, -2L)).toDF("id", "grp", "v")
    // launched together: each attempt re-reads the current version on
    // entry, so whichever loses the manifest race retries against the
    // winner's snapshot (MERGE is idempotent-by-key, so the replay is safe)
    val done = Await.result(Future.sequence(Seq(
      Future(SnapshotManifest.retryOnConflict(sleep = _ => ())(
        Upsert.mergeWhere(spark, root, s1, Seq("id"), Seq("id")))),
      Future(SnapshotManifest.retryOnConflict(sleep = _ => ())(
        Upsert.mergeWhere(spark, root, s2, Seq("id"), Seq("id")))))), 120.seconds)
    assert(done.toSet == Set(1L, 2L), done.toString)
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 200L)
    assert(got.filter(col("id") === 10L).head().getAs[Long]("v") == -1L)
    assert(got.filter(col("id") === 150L).head().getAs[Long]("v") == -2L)
  }
}
