package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{SnapshotFileIndex, SnapshotManifest}

/** DSv2 + SQL surface of the snapshot format (round-13 VERDICT asks):
  * catalog DDL (`CREATE TABLE … USING graft-snapshot`), SQL reads that
  * plan through the manifest-stats-pruning relation, `INSERT [OVERWRITE]`,
  * SQL `DELETE`/`UPDATE`/`MERGE` via [[graft.plans.SnapshotStatements]],
  * DV-live versions served (not refused) through the named reader, and
  * micro-batch streaming with exactly-once commit consumption.
  */
class SnapshotSqlSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = java.nio.file.Files.createTempDirectory("snapsql").toString

  private def bootstrap(root: String, n: Long = 1000L, parts: Int = 8): Unit = {
    SnapshotManifest.commit(spark, root,
      spark.range(0, n).toDF("id").withColumn("v", col("id") * 10L)
        .repartitionByRange(parts, col("id")), Seq("id"))
    ()
  }

  /** Fresh session over the shared context with GraftExtensions (the
    * repo-wide pattern, see ExpressionSpec); restores the shared session
    * afterwards so later suites are unaffected.
    */
  private def withExtSession[A](f: SparkSession => A): A = {
    val shared = spark // force-init the plain shared session FIRST (see SqlTimeTravelSpec)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // mirror graft.core.Sessions exactly (extensions + catalog) so
        // these tests exercise the same resolution paths as Verify/Bench
        .config("spark.sql.catalog.spark_catalog", "graft.sources.GraftCatalog")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(ext)
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("CREATE TABLE USING graft-snapshot: SQL SELECT plans through the pruning relation; INSERT INTO/OVERWRITE map to commit verbs") {
    val root = newRoot()
    bootstrap(root)
    spark.sql(s"CREATE TABLE snap_sql_t USING `graft-snapshot` LOCATION '$root'")
    try {
      val ctr = SnapshotFileIndex.countersFor(root)
      val p0 = ctr.prunes.get()
      val rows = spark.sql(
        "SELECT sum(v) AS s, count(*) AS n FROM snap_sql_t WHERE id BETWEEN 100 AND 120")
        .head()
      assert(rows.getLong(0) == (100L to 120L).map(_ * 10).sum && rows.getLong(1) == 21L)
      assert(ctr.prunes.get() > p0,
        "a catalog SQL read must run manifest-stats pruning during planning")
      assert(ctr.lastKept < ctr.lastConsidered,
        s"a narrow key range over a range-clustered 8-file table must drop " +
          s"files (considered ${ctr.lastConsidered}, kept ${ctr.lastKept})")

      // INSERT INTO appends a new version through the commit protocol
      spark.sql("INSERT INTO snap_sql_t VALUES (2000, 20000), (2001, 20010)")
      assert(spark.sql("SELECT count(*) FROM snap_sql_t").head().getLong(0) == 1002L)
      assert(SnapshotManifest.currentVersion(spark, root).contains(1L))
      assert(SnapshotManifest.read(spark, root).filter(col("id") === 2000L)
        .select("v").as[Long].head() == 20000L)

      // INSERT OVERWRITE is a full-replacement commit
      spark.sql("INSERT OVERWRITE snap_sql_t SELECT id, id * 3 AS v FROM range(5)")
      assert(spark.sql("SELECT sum(v) FROM snap_sql_t").head().getLong(0) == 30L)
      assert(SnapshotManifest.read(spark, root).count() == 5L)
    } finally spark.sql("DROP TABLE IF EXISTS snap_sql_t")
  }

  test("named reader serves DV-live versions (MoR fallback instead of refusal) and reports which path served") {
    val root = newRoot()
    bootstrap(root, n = 200L, parts = 4)
    SnapshotManifest.deleteWhereMoR(spark, root, col("id").between(10L, 19L))
    val df = spark.read.format("graft-snapshot").load(root)
    assert(df.as[(Long, Long)].collect().toSet ==
      (0L until 200L).filterNot(i => i >= 10 && i <= 19)
        .map(i => i -> i * 10L).toSet)
    // which path: the DV'd version serves through the V1 FrameRelation
    // (materialized MoR read), not a pure file scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FrameRelation"),
      s"a DV-live version must serve through the MoR fallback relation:\n$plan")
    // fold the DVs → the same reader returns to the pruning file scan
    SnapshotManifest.foldDeletes(spark, root, Some(Seq("id")))
    val folded = spark.read.format("graft-snapshot").load(root)
    assert(folded.count() == 190L)
    val plan2 = folded.queryExecution.executedPlan.toString
    assert(!plan2.contains("FrameRelation") && plan2.contains("graft-snapshot"),
      s"a folded version must serve through the file scan:\n$plan2")
  }

  test("SQL DELETE and UPDATE on a catalog snapshot table run the engine's verbs") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 100).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      ext.sql(s"CREATE TABLE snap_dml_t USING `graft-snapshot` LOCATION '$root'")
      try {
        ext.sql("DELETE FROM snap_dml_t WHERE id >= 90")
        assert(ext.sql("SELECT count(*) FROM snap_dml_t").head().getLong(0) == 90L)
        // no-WHERE variants and expressions over the row
        ext.sql("UPDATE snap_dml_t SET v = v + 1 WHERE id < 3")
        val got = ext.sql(
          "SELECT id, v FROM snap_dml_t WHERE id < 5 ORDER BY id")
          .as[(Long, Long)].collect().toSeq
        assert(got == Seq(0L -> 1L, 1L -> 11L, 2L -> 21L, 3L -> 30L, 4L -> 40L))
        // the verbs committed real versions
        assert(SnapshotManifest.currentVersion(ext, root).contains(2L))
      } finally ext.sql("DROP TABLE IF EXISTS snap_dml_t")
    }
  }

  test("SQL MERGE INTO: upsert, delete-matched, insert-if-absent; unsupported shapes refuse loudly") {
    withExtSession { ext =>
      import ext.implicits._
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 50).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      ext.sql(s"CREATE TABLE snap_mrg_t USING `graft-snapshot` LOCATION '$root'")
      try {
        Seq((40L, -1L), (41L, -2L), (60L, -3L)).toDF("id", "v")
          .createOrReplaceTempView("mrg_src")
        // upsert (UPDATE SET * / INSERT *)
        ext.sql(
          """MERGE INTO snap_mrg_t t USING mrg_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val after = SnapshotManifest.read(ext, root)
        assert(after.count() == 51L)
        assert(after.filter(col("id").isin(40L, 41L, 60L)).select("v")
          .as[Long].collect().toSet == Set(-1L, -2L, -3L))
        // delete-matched
        Seq(Tuple1(60L)).toDF("id").createOrReplaceTempView("mrg_del")
        ext.sql(
          """MERGE INTO snap_mrg_t t USING mrg_del s ON t.id = s.id
            |WHEN MATCHED THEN DELETE""".stripMargin)
        assert(SnapshotManifest.read(ext, root).count() == 50L)
        // insert-if-absent: existing keys untouched
        Seq((41L, 777L), (70L, 700L)).toDF("id", "v")
          .createOrReplaceTempView("mrg_ins")
        ext.sql(
          """MERGE INTO snap_mrg_t t USING mrg_ins s ON t.id = s.id
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val fin = SnapshotManifest.read(ext, root)
        assert(fin.count() == 51L)
        assert(fin.filter(col("id") === 41L).select("v").as[Long].head() == -2L)
        assert(fin.filter(col("id") === 70L).select("v").as[Long].head() == 700L)
        // the reference's canonical EXPLICIT-LIST shape: UPDATE SET
        // excludes the ON key, INSERT includes it (utils.py:265-292) —
        // must be accepted, keys filled from the ON pairs
        Seq((70L, 7000L), (80L, 800L)).toDF("id", "v")
          .createOrReplaceTempView("mrg_exp")
        ext.sql(
          """MERGE INTO snap_mrg_t t USING mrg_exp s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
        val exp = SnapshotManifest.read(ext, root)
        assert(exp.count() == 52L)
        assert(exp.filter(col("id") === 70L).select("v").as[Long].head() == 7000L)
        assert(exp.filter(col("id") === 80L).select("v").as[Long].head() == 800L)
        // unsupported shapes refuse loudly: an UNCONDITIONAL matched
        // clause followed by another (unreachable — clauses act
        // first-match-wins), a key-changing assignment, and NOT MATCHED
        // BY SOURCE with an action other than DELETE
        Seq(
          """MERGE INTO snap_mrg_t t USING mrg_ins s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN MATCHED THEN DELETE""".stripMargin,
          """MERGE INTO snap_mrg_t t USING mrg_ins s ON t.id = s.id
            |WHEN MATCHED AND s.v > 0 THEN UPDATE SET id = s.id + 1, v = s.v
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
          """MERGE INTO snap_mrg_t t USING mrg_ins s ON t.id = s.id
            |WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1""".stripMargin)
          .foreach { stmt =>
            val e = intercept[Exception](ext.sql(stmt))
            // the unreachable-clause rule is enforced by Spark's PARSER
            // (NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION) before our rule
            // sees the plan; engine-level shapes refuse with our message
            assert(e.getMessage.contains("graft-snapshot SQL does not support") ||
              e.getMessage.contains("NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION"),
              s"expected a loud unsupported-shape refusal, got: ${e.getMessage}")
          }
      } finally ext.sql("DROP TABLE IF EXISTS snap_mrg_t")
    }
  }

  test("catalog SELECT of a DV-live table serves through the resolution rule") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 100).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      SnapshotManifest.deleteWhereMoR(ext, root, col("id") < 10L)
      ext.sql(s"CREATE TABLE snap_dv_t USING `graft-snapshot` LOCATION '$root'")
      try {
        assert(ext.sql("SELECT count(*) AS n, sum(v) AS s FROM snap_dv_t")
          .head().getLong(0) == 90L)
        assert(ext.sql("SELECT sum(v) FROM snap_dv_t").head().getLong(0) ==
          (10L until 100L).map(_ * 10).sum)
      } finally ext.sql("DROP TABLE IF EXISTS snap_dv_t")
    }
  }

  test("readStream tails commits exactly-once (AvailableNow, restart-safe); destructive windows refuse without ignoreChanges") {
    val root = newRoot()
    val ckpt = newRoot() + "/ckpt"
    bootstrap(root, n = 100L, parts = 2)

    // a FILE sink (the memory sink doesn't recover from checkpoints):
    // the restart below resumes from the SAME checkpoint, the real
    // exactly-once contract
    val outDir = newRoot() + "/out"
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 100L,
      "first run must emit the full initial snapshot")

    SnapshotManifest.appendRows(spark, root,
      spark.range(100, 150).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
    SnapshotManifest.appendRows(spark, root,
      spark.range(150, 175).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))

    runOnce()
    val after = spark.read.parquet(outDir).as[(Long, Long)].collect()
    assert(after.length == 175 && after.map(_._1).toSet == (0L until 175L).toSet,
      "the restarted stream must consume EXACTLY the two new commits, no " +
        s"re-emits (got ${after.length} rows)")

    // a destructive commit (delete) cannot be an append diff
    SnapshotManifest.deleteWhere(spark, root, col("id") < 5L, Seq("id"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-snapshot").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    assert(e.getMessage.contains("rewrite or delete") ||
      Option(e.getCause).exists(_.getMessage.contains("rewrite or delete")))
  }

  test("readStream with readChangeFeed tails the materialized row-level feed") {
    val root = newRoot()
    val ckpt = newRoot() + "/ckpt"
    // a declared PK materializes the feed at every commit
    SnapshotManifest.commit(spark, root,
      spark.range(0, 20).toDF("id").withColumn("v", col("id") * 10L),
      Seq("id"), Nil, Nil)
    SnapshotManifest.setPrimaryKey(spark, root, Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((5L, -5L), (100L, 1000L)).toDF("id", "v"), Seq("id"), Seq("id"))
    // producer contract: the feed is materialized before consumers tail it
    // (idempotent when the commits already did)
    graft.sources.ChangeFeed.materializeNew(spark, root)

    val q = spark.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("memory").queryName("snap_cdf_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val feed = spark.table("snap_cdf_stream")
    assert(feed.columns.contains("_change") && feed.columns.contains("id"))
    val changes = feed.groupBy(col("_change")).count()
      .as[(String, Long)].collect().toMap
    val ranges = graft.sources.ChangeFeed.materializedRanges(spark, root)
    assert(changes.getOrElse("insert", 0L) >= 1L,
      s"the feed stream must carry the merge's insert ($changes; ranges $ranges)")
    assert(changes.contains("update_postimage"),
      s"the feed stream must carry the update post-image ($changes; ranges $ranges)")
  }

  test("CREATE TABLE with declared columns, then INSERT: catalog-first bootstrap") {
    withExtSession { ext =>
      val root = newRoot() + "/t"
      ext.sql(s"CREATE TABLE snap_boot (id BIGINT, v BIGINT) " +
        s"USING `graft-snapshot` LOCATION '$root'")
      try {
        // no snapshot yet: the declared schema carries the table until
        // the first INSERT bootstraps it
        ext.sql("INSERT INTO snap_boot VALUES (1, 10), (2, 20)")
        assert(ext.sql("SELECT sum(v) FROM snap_boot").head().getLong(0) == 30L)
        assert(SnapshotManifest.read(ext, root).count() == 2L)
        // and the manifest is authoritative from then on
        ext.sql("INSERT INTO snap_boot VALUES (3, 30)")
        assert(ext.sql("SELECT count(*) FROM snap_boot").head().getLong(0) == 3L)
      } finally ext.sql("DROP TABLE IF EXISTS snap_boot")
    }
  }

  test("readStream ignoreChanges=true re-emits rewritten files instead of refusing") {
    val root = newRoot()
    val ckpt = newRoot() + "/ckpt"
    val outDir = newRoot() + "/out"
    bootstrap(root, n = 40L, parts = 2)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("ignoreChanges", "true").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 40L)
    // a destructive window: CoW delete rewrites a file
    SnapshotManifest.deleteWhere(spark, root, col("id") < 5L, Seq("id"))
    runOnce() // no refusal; the REWRITTEN file's survivors re-emit
    val out = spark.read.parquet(outDir).as[(Long, Long)].collect()
    // at-least-once on rewrites (Delta's ignoreChanges contract): every
    // current row present, re-emitted survivors may duplicate
    assert(out.map(_._1).toSet == (0L until 40L).toSet,
      "every pre-delete row was already emitted; survivors may re-emit")
    assert(out.length >= 40 && out.length <= 40 + 35,
      s"re-emits are bounded by the rewritten file's rows (${out.length})")
  }

  test("DataFrameWriterV2: writeTo(t).append() and .overwrite(cond) drive the commit verbs") {
    val root = newRoot()
    bootstrap(root, n = 100L, parts = 4)
    spark.sql(s"CREATE TABLE snap_wt2 USING `graft-snapshot` LOCATION '$root'")
    try {
      // append (by-name resolution)
      spark.range(100, 130).toDF("id").withColumn("v", col("id") * 10L)
        .writeTo("snap_wt2").append()
      assert(SnapshotManifest.read(spark, root).count() == 130L)
      assert(SnapshotManifest.currentVersion(spark, root).contains(1L))
      // filtered overwrite = replaceWhere: ONE atomic commit of
      // survivors ∪ new rows
      spark.range(500, 510).toDF("id").withColumn("v", lit(-1L))
        .writeTo("snap_wt2").overwrite(col("id") >= 100L)
      val after = SnapshotManifest.read(spark, root).as[(Long, Long)].collect()
      assert(after.count(_._1 < 100L) == 100 &&
        after.count(_._2 == -1L) == 10 && after.length == 110,
        s"replaceWhere must drop the matching range and land the new rows " +
          s"(got ${after.length})")
      // truncate overwrite
      spark.range(0, 7).toDF("id").withColumn("v", col("id"))
        .writeTo("snap_wt2").overwrite(lit(true))
      assert(SnapshotManifest.read(spark, root).count() == 7L)
    } finally spark.sql("DROP TABLE IF EXISTS snap_wt2")
  }

  test("readStream maxVersionsPerTrigger bounds each batch; AvailableNow still drains to the pinned target") {
    val root = newRoot()
    val ckpt = newRoot() + "/ckpt"
    val outDir = newRoot() + "/out"
    bootstrap(root, n = 10L, parts = 1)
    SnapshotManifest.appendRows(spark, root,
      spark.range(10, 20).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
    SnapshotManifest.appendRows(spark, root,
      spark.range(20, 30).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
    val q = spark.readStream.format("graft-snapshot")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(outDir).count() == 30L,
      "AvailableNow must drain every commit despite the per-trigger cap")
    // one version per batch: at least 3 committed micro-batches
    val batches = new java.io.File(ckpt + "/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 3,
      s"maxVersionsPerTrigger=1 over 3 versions must take >= 3 batches ($batches)")
  }

  test("writeStream sink: snapshot→snapshot replication, exactly-once across restarts and batch replays") {
    val src = newRoot()
    val dst = newRoot() + "/dst"
    val ckpt = newRoot() + "/ckpt"
    bootstrap(src, n = 80L, parts = 2)

    // the WHOLE pipeline is standard Structured Streaming: tail one
    // snapshot table, land in another — both ends this format
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    assert(SnapshotManifest.read(spark, dst).count() == 80L)
    SnapshotManifest.appendRows(spark, src,
      spark.range(80, 120).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
    runOnce() // restart: exactly the new commit, no re-appends
    val out = SnapshotManifest.read(spark, dst).as[(Long, Long)].collect()
    assert(out.length == 120 && out.map(_._1).toSet == (0L until 120L).toSet,
      s"restart must land the new commit exactly once (got ${out.length})")

    // a REPLAYED batch (same txn identity + batch id) lands nothing:
    // re-running the same AvailableNow window is a no-op
    val vBefore = SnapshotManifest.currentVersion(spark, dst)
    runOnce()
    assert(SnapshotManifest.read(spark, dst).count() == 120L &&
      SnapshotManifest.currentVersion(spark, dst) == vBefore,
      "an already-landed window must not append or commit again")

    // update/complete modes refuse loudly
    val e = intercept[Exception] {
      spark.readStream.format("graft-snapshot").load(src)
        .groupBy(col("v")).count()
        .writeStream.format("graft-snapshot")
        .outputMode("complete")
        .option("checkpointLocation", newRoot() + "/ck2")
        .trigger(Trigger.AvailableNow()).start(newRoot() + "/d2")
    }
    assert(e.getMessage.contains("Append output mode") ||
      Option(e.getCause).exists(_.getMessage.contains("Append output mode")),
      s"unexpected refusal: ${e.getMessage}")
  }

  test("ALTER TABLE ADD COLUMNS widens the manifest; other change kinds refuse loudly") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 20).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(2, col("id")), Seq("id"))
      ext.sql(s"CREATE TABLE snap_alter_t USING `graft-snapshot` LOCATION '$root'")
      try {
        // SQL ALTER → metadata-only addColumns publish (no data rewritten)
        val filesBefore = SnapshotManifest.snapshotFiles(ext, root, 0L).toSet
        ext.sql("ALTER TABLE snap_alter_t ADD COLUMNS (tag STRING, score DOUBLE)")
        assert(SnapshotManifest.currentVersion(ext, root).contains(1L))
        assert(SnapshotManifest.snapshotFiles(ext, root, 1L).toSet == filesBefore,
          "ADD COLUMNS must be metadata-only — same data files")
        val widened = ext.sql("SELECT id, v, tag, score FROM snap_alter_t")
        assert(widened.columns.toSeq == Seq("id", "v", "tag", "score"))
        assert(widened.count() == 20L &&
          widened.filter(col("tag").isNull).count() == 20L,
          "existing rows read the added columns as null")
        // the next SQL MERGE populates the added column
        ext.range(0, 5).toDF("id")
          .withColumn("v", col("id")).withColumn("tag", lit("m"))
          .withColumn("score", col("id").cast("double"))
          .createOrReplaceTempView("alter_src")
        ext.sql(
          """MERGE INTO snap_alter_t t USING alter_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        assert(ext.sql(
          "SELECT count(*) FROM snap_alter_t WHERE tag = 'm'")
          .head().getLong(0) == 5L)
        // refusal shapes: drops, renames, type changes, NOT NULL adds
        Seq(
          "ALTER TABLE snap_alter_t DROP COLUMN v",
          "ALTER TABLE snap_alter_t RENAME COLUMN v TO w",
          "ALTER TABLE snap_alter_t ALTER COLUMN v TYPE STRING",
          "ALTER TABLE snap_alter_t ADD COLUMNS (nn STRING NOT NULL)")
          .foreach { stmt =>
            val e = intercept[Exception](ext.sql(stmt))
            assert(e.getMessage.contains("graft-snapshot ALTER TABLE does not support"),
              s"$stmt must refuse loudly, got: ${e.getMessage}")
          }
      } finally ext.sql("DROP TABLE IF EXISTS snap_alter_t")
    }
  }

  test("SET TBLPROPERTIES of manifest-backed properties runs the declare verbs") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 20).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
      ext.sql(s"CREATE TABLE snap_prop_t USING `graft-snapshot` LOCATION '$root'")
      try {
        ext.sql("ALTER TABLE snap_prop_t SET TBLPROPERTIES" +
          "('bloomCols'='id', 'primaryKey'='id')")
        val v = SnapshotManifest.currentVersion(ext, root).get
        assert(v == 1L,
          "a multi-property SET must apply as ONE atomic manifest publish")
        assert(SnapshotManifest.bloomCols(ext, root, v) == Seq("id"))
        assert(SnapshotManifest.primaryKey(ext, root, v) == Seq("id"))
        ext.sql("ALTER TABLE snap_prop_t UNSET TBLPROPERTIES ('bloomCols')")
        val v2 = SnapshotManifest.currentVersion(ext, root).get
        assert(SnapshotManifest.bloomCols(ext, root, v2).isEmpty)
        assert(SnapshotManifest.primaryKey(ext, root, v2) == Seq("id"),
          "unsetting one property must not clear the others")
      } finally ext.sql("DROP TABLE IF EXISTS snap_prop_t")
    }
  }

  test("DDL-declared TBLPROPERTIES govern INSERT writes: statsCols recorded, bloom/partition landed at bootstrap") {
    withExtSession { ext =>
      val root = newRoot() + "/t"
      // declared schema + properties, NO committed snapshot yet: the first
      // INSERT bootstraps with the full declared property set
      ext.sql(
        s"""CREATE TABLE snap_ddl_t (id BIGINT, p STRING, v BIGINT)
           |USING `graft-snapshot` LOCATION '$root'
           |TBLPROPERTIES('statsCols'='id,v', 'bloomCols'='id',
           |              'partitionCols'='p', 'primaryKey'='id')""".stripMargin)
      try {
        ext.sql(
          """INSERT INTO snap_ddl_t
            |SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id * 10
            |FROM range(1000)""".stripMargin)
        assert(SnapshotManifest.currentVersion(ext, root).isDefined)
        val v = SnapshotManifest.currentVersion(ext, root).get
        // the ADVICE gate: an INSERT into an OPTIONS/TBLPROPERTIES table
        // must record per-file stats — losing them loses pruning forever
        val stats = SnapshotManifest.snapshotFileStats(ext, root, v)
        assert(stats.nonEmpty && stats.values.forall(s =>
          s.cols.contains("id") && s.cols.contains("v")),
          s"INSERT must record the declared statsCols (got ${stats.values.headOption})")
        assert(SnapshotManifest.bloomCols(ext, root, v) == Seq("id"))
        assert(SnapshotManifest.partitionColumns(ext, root, v) == Seq("p"))
        assert(SnapshotManifest.primaryKey(ext, root, v) == Seq("id"))
        // partition-declared layout: a partition predicate prunes files
        val ctr = SnapshotFileIndex.countersFor(root)
        assert(ext.sql("SELECT count(*) FROM snap_ddl_t WHERE p = 'a'")
          .head().getLong(0) == 500L)
        assert(ctr.lastKept < ctr.lastConsidered,
          s"partition predicate must prune (considered ${ctr.lastConsidered}, " +
            s"kept ${ctr.lastKept})")
      } finally ext.sql("DROP TABLE IF EXISTS snap_ddl_t")
    }
  }

  test("CTAS with PARTITIONED BY + TBLPROPERTIES bootstraps a partitioned, indexed table") {
    withExtSession { ext =>
      val root = newRoot() + "/t"
      ext.sql(
        s"""CREATE TABLE snap_ctas_t
           |USING `graft-snapshot`
           |PARTITIONED BY (p)
           |LOCATION '$root'
           |TBLPROPERTIES('bloomCols'='id', 'statsCols'='id')
           |AS SELECT id, CAST(id % 4 AS STRING) AS p, id * 10 AS v
           |   FROM range(2000)""".stripMargin)
      try {
        val v = SnapshotManifest.currentVersion(ext, root).get
        assert(SnapshotManifest.partitionColumns(ext, root, v) == Seq("p"),
          "PARTITIONED BY must land as the table's partition property")
        assert(SnapshotManifest.bloomCols(ext, root, v) == Seq("id"))
        assert(SnapshotManifest.snapshotFileStats(ext, root, v).nonEmpty)
        val ctr = SnapshotFileIndex.countersFor(root)
        assert(ext.sql("SELECT count(*) FROM snap_ctas_t WHERE p = '1'")
          .head().getLong(0) == 500L)
        assert(ctr.lastKept < ctr.lastConsidered,
          s"partition predicate must prune CTAS files (considered " +
            s"${ctr.lastConsidered}, kept ${ctr.lastKept})")
      } finally ext.sql("DROP TABLE IF EXISTS snap_ctas_t")
    }
  }

  test("CALL graft.<verb>: history, restore_version, vacuum run the maintenance verbs from SQL") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 100).toDF("id").withColumn("v", col("id")), Seq("id"))
      SnapshotManifest.appendRows(ext, root,
        ext.range(100, 150).toDF("id").withColumn("v", col("id")), Seq("id"))
      ext.sql(s"CREATE TABLE snap_call_t USING `graft-snapshot` LOCATION '$root'")
      try {
        // history: one row per retained version, versioned and counted
        val hist = ext.sql("CALL graft.history('snap_call_t')").collect()
        assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
        assert(hist.forall(_.getLong(2) > 0L), "data_files must be counted")
        // restore: back to v0 content as a NEW version
        val restored = ext.sql(
          "CALL graft.restore_version('snap_call_t', 0)").head().getLong(0)
        assert(restored == 2L)
        assert(ext.sql("SELECT count(*) FROM snap_call_t").head().getLong(0) == 100L)
        // vacuum (keep 1): versions 0 and 1 reclaimed, content intact
        val removed = ext.sql(
          "CALL graft.vacuum('snap_call_t', keep => 1)").collect()
        assert(removed.map(_.getLong(0)).toSet == Set(0L, 1L),
          s"vacuum must report the reclaimed versions (${removed.toSeq})")
        assert(ext.sql("SELECT count(*) FROM snap_call_t").head().getLong(0) == 100L)
        // a raw-path table argument works too; unknown procedures refuse
        assert(ext.sql(s"CALL graft.history('$root')").collect().length == 1)
        val e = intercept[Exception](ext.sql("CALL graft.nope('x')"))
        assert(e.getMessage.contains("no procedure") ||
          e.getMessage.contains("Failed to load routine"),
          s"unknown procedure must refuse loudly: ${e.getMessage}")
      } finally ext.sql("DROP TABLE IF EXISTS snap_call_t")
    }
  }

  test("CALL graft.optimize / compact_small_files / analyze_table commit maintenance versions") {
    withExtSession { ext =>
      val root = newRoot()
      // many small files, NO stats recorded at commit time
      SnapshotManifest.commit(ext, root,
        ext.range(0, 2000).toDF("id").withColumn("v", col("id") * 3L)
          .repartition(16))
      ext.sql(s"CREATE TABLE snap_mnt_t USING `graft-snapshot` LOCATION '$root'")
      try {
        // analyze: retrofit per-file stats without rewriting data
        val v1 = ext.sql(
          "CALL graft.analyze_table('snap_mnt_t', 'id')").head().getLong(0)
        val stats = SnapshotManifest.snapshotFileStats(ext, root, v1)
        assert(stats.nonEmpty && stats.values.forall(_.cols.contains("id")))
        // compact: 16 small files coalesce
        val v2 = ext.sql(
          "CALL graft.compact_small_files('snap_mnt_t', min_small_files => 2)")
          .head().getLong(0)
        assert(SnapshotManifest.snapshotFiles(ext, root, v2).size <
          SnapshotManifest.snapshotFiles(ext, root, 0L).size)
        // optimize: z-order rewrite, rows unchanged
        val v3 = ext.sql(
          "CALL graft.optimize('snap_mnt_t', zorder_by => 'id,v', num_files => 4)")
          .head().getLong(0)
        assert(v3 == v2 + 1)
        assert(ext.sql("SELECT count(*), sum(v) FROM snap_mnt_t").head()
          .getLong(0) == 2000L)
      } finally ext.sql("DROP TABLE IF EXISTS snap_mnt_t")
    }
  }

  test("CALL graft.fold_deletes / materialize_feed / clone run the lifecycle verbs from SQL") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 100).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      SnapshotManifest.retryOnConflict()(
        SnapshotManifest.setPrimaryKey(ext, root, Seq("id")))
      ext.sql(s"CREATE TABLE snap_lc_t USING `graft-snapshot` LOCATION '$root'")
      try {
        // feed catch-up covers the bootstrap + pk declare commits
        val ranges = ext.sql("CALL graft.materialize_feed('snap_lc_t')").collect()
        assert(ranges.nonEmpty && ranges.last.getLong(1) ==
          SnapshotManifest.currentVersion(ext, root).get)
        // MoR delete leaves live DVs; fold returns the table to a pure
        // file set (and the named reader to the file scan)
        SnapshotManifest.deleteWhereMoR(ext, root, col("id") < 10L)
        ext.sql("CALL graft.materialize_feed('snap_lc_t')") // keep feed covered
        val vFold = ext.sql("CALL graft.fold_deletes('snap_lc_t')")
          .head().getLong(0)
        assert(SnapshotManifest.snapshotFileStats(ext, root, vFold) != null)
        val plan = ext.read.format("graft-snapshot").load(root)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("FrameRelation"),
          s"after fold the named reader must use the file scan:\n$plan")
        assert(ext.sql("SELECT count(*) FROM snap_lc_t").head().getLong(0) == 90L)
        // shallow clone to a fresh root: metadata-only, same rows
        val dst = newRoot() + "/clone"
        val v0 = ext.sql(s"CALL graft.clone('snap_lc_t', '$dst')")
          .head().getLong(0)
        assert(v0 == 0L)
        assert(SnapshotManifest.read(ext, dst).count() == 90L)
      } finally ext.sql("DROP TABLE IF EXISTS snap_lc_t")
    }
  }

  test("readStream ignoreChanges: a file committed and DV-tagged within one window still delivers its rows") {
    val root = newRoot()
    val ckpt = newRoot() + "/ckpt"
    val outDir = newRoot() + "/out"
    bootstrap(root, n = 40L, parts = 2)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("ignoreChanges", "true").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 40L)
    // ONE offset window: append a brand-new file, then MoR-delete rows in
    // BOTH the new file and an old one (DV sidecars, no rewrite)
    SnapshotManifest.appendRows(spark, root,
      spark.range(100, 110).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
    SnapshotManifest.deleteWhereMoR(spark, root,
      col("id") === 105L || col("id") < 3L)
    runOnce()
    val ids = spark.read.parquet(outDir).select("id").as[Long].collect()
    // the new file's rows must ALL be delivered (silent loss was the bug);
    // deletes don't propagate through an append tail — the DV'd rows
    // re-emit as pre-deletion content (at-least-once, Delta's contract)
    assert((100L until 110L).forall(ids.contains),
      s"a file added and DV-tagged within one window lost rows: " +
        s"${(100L until 110L).filterNot(ids.contains)}")
    assert((0L until 40L).forall(ids.contains))

    // the BOOTSTRAP batch is different: a FRESH stream over the now
    // DV-live version must refuse even with ignoreChanges — raw files
    // would emit rows that were never part of the stream's content
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-snapshot")
        .option("ignoreChanges", "true").load(root)
        .writeStream.format("parquet").option("path", newRoot() + "/out2")
        .option("checkpointLocation", newRoot() + "/ck2")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("initial snapshot")),
      s"a DV-live bootstrap must refuse loudly: ${e.getMessage}")
  }

  test("writeStream sink bootstrap declares the full property set (bloom/partition/pk/stats)") {
    val src = newRoot()
    val dst = newRoot() + "/dst"
    val ckpt = newRoot() + "/ckpt"
    SnapshotManifest.commit(spark, src,
      spark.range(0, 60).toDF("id").withColumn("p", (col("id") % 3).cast("string"))
        .withColumn("v", col("id") * 10L), Seq("id"))
    val q = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("statsCols", "id")
      .option("bloomCols", "id")
      .option("partitionCols", "p")
      .option("primaryKey", "id")
      .trigger(Trigger.AvailableNow()).start(dst)
    q.awaitTermination(120000)
    val v = SnapshotManifest.currentVersion(spark, dst).get
    assert(SnapshotManifest.bloomCols(spark, dst, v) == Seq("id"),
      "a stream-bootstrapped table must carry its declared bloom index")
    assert(SnapshotManifest.partitionColumns(spark, dst, v) == Seq("p"))
    assert(SnapshotManifest.primaryKey(spark, dst, v) == Seq("id"))
    assert(SnapshotManifest.snapshotFileStats(spark, dst, v).nonEmpty,
      "streamed batches must record the declared stats")
    assert(SnapshotManifest.read(spark, dst).count() == 60L)
  }

  test("TRUNCATE TABLE commits an empty snapshot; schema and properties carry; history stays travelable") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 50).toDF("id").withColumn("v", col("id") * 10L),
        Seq("id"), Seq("id"))
      SnapshotManifest.retryOnConflict()(
        SnapshotManifest.setPrimaryKey(ext, root, Seq("id")))
      ext.sql(s"CREATE TABLE snap_trunc_t USING `graft-snapshot` LOCATION '$root'")
      try {
        ext.sql("TRUNCATE TABLE snap_trunc_t")
        val v = SnapshotManifest.currentVersion(ext, root).get
        assert(ext.sql("SELECT count(*) FROM snap_trunc_t").head().getLong(0) == 0L)
        assert(SnapshotManifest.bloomCols(ext, root, v) == Seq("id"),
          "TRUNCATE must carry the declared properties")
        assert(SnapshotManifest.primaryKey(ext, root, v) == Seq("id"))
        // history preserved; an INSERT lands on the empty table
        assert(ext.sql(s"SELECT count(*) FROM snap_trunc_t VERSION AS OF 1")
          .head().getLong(0) == 50L)
        ext.sql("INSERT INTO snap_trunc_t VALUES (7, 70)")
        assert(ext.sql("SELECT id, v FROM snap_trunc_t").collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1))) == Seq(7L -> 70L))
      } finally ext.sql("DROP TABLE IF EXISTS snap_trunc_t")
    }
  }

  test("SHOW TBLPROPERTIES reports the manifest's declared properties, DDL-declared or not") {
    withExtSession { ext =>
      val root = newRoot()
      // properties declared through the API, with no DDL mention at all
      SnapshotManifest.commit(ext, root,
        ext.range(0, 30).toDF("id").withColumn("v", col("id")),
        Seq("id"), Seq("id"))
      SnapshotManifest.retryOnConflict()(
        SnapshotManifest.setPrimaryKey(ext, root, Seq("id")))
      ext.sql(s"CREATE TABLE snap_show_t USING `graft-snapshot` LOCATION '$root'")
      try {
        val props = ext.sql("SHOW TBLPROPERTIES snap_show_t").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(props.get("bloomCols").contains("id"),
          s"SHOW TBLPROPERTIES must surface the manifest bloom index ($props)")
        assert(props.get("primaryKey").contains("id"))
        // the other direction: a property CLEARED through the API must
        // stop being reported, even if DDL once declared it
        SnapshotManifest.retryOnConflict()(
          SnapshotManifest.setBloomCols(ext, root, Nil))
        val cleared = ext.sql("SHOW TBLPROPERTIES snap_show_t").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(!cleared.contains("bloomCols"),
          s"a cleared property must not report a stale value ($cleared)")
        assert(cleared.get("primaryKey").contains("id"))
      } finally ext.sql("DROP TABLE IF EXISTS snap_show_t")
    }
  }

  test("SHOW PROCEDURES lists the maintenance verbs; DESCRIBE PROCEDURE resolves one") {
    withExtSession { ext =>
      val listed = ext.sql("SHOW PROCEDURES").collect().map(_.mkString("|"))
      Seq("vacuum", "optimize", "compact_small_files", "restore_version",
        "analyze_table", "history").foreach(p =>
        assert(listed.exists(_.contains(p)), s"SHOW PROCEDURES must list $p " +
          s"(got ${listed.mkString("; ")})"))
      val desc = ext.sql("DESCRIBE PROCEDURE graft.vacuum").collect()
        .map(_.mkString("|")).mkString("\n")
      assert(desc.contains("vacuum"), s"unexpected DESCRIBE output: $desc")
    }
  }

  test("writeTo(...).create() with partitionedBy + tableProperty bootstraps the declared table") {
    withExtSession { ext =>
      val root = newRoot() + "/t"
      ext.range(0, 300).toDF("id")
        .withColumn("p", (col("id") % 3).cast("string"))
        .withColumn("v", col("id") * 2L)
        .writeTo("snap_wtc_t").using("graft-snapshot")
        .partitionedBy(col("p"))
        .tableProperty("location", root)
        .tableProperty("bloomCols", "id")
        .tableProperty("statsCols", "id")
        .create()
      try {
        val v = SnapshotManifest.currentVersion(ext, root).get
        assert(SnapshotManifest.partitionColumns(ext, root, v) == Seq("p"),
          "partitionedBy must land as the partition property")
        assert(SnapshotManifest.bloomCols(ext, root, v) == Seq("id"))
        assert(SnapshotManifest.snapshotFileStats(ext, root, v).nonEmpty)
        assert(ext.sql("SELECT count(*) FROM snap_wtc_t WHERE p = '1'")
          .head().getLong(0) == 100L)
      } finally ext.sql("DROP TABLE IF EXISTS snap_wtc_t")
    }
  }

  test("SQL INSERT into a committed table follows the MANIFEST property carry, not stale DDL") {
    withExtSession { ext =>
      val root = newRoot() + "/t"
      ext.sql(
        s"""CREATE TABLE snap_carry_t (id BIGINT, v BIGINT)
           |USING `graft-snapshot` LOCATION '$root'
           |TBLPROPERTIES('bloomCols'='id', 'statsCols'='id')""".stripMargin)
      try {
        ext.sql("INSERT INTO snap_carry_t SELECT id, id * 10 FROM range(0, 40)")
        val v0 = SnapshotManifest.currentVersion(ext, root).get
        assert(SnapshotManifest.bloomCols(ext, root, v0) == Seq("id"),
          "bootstrap must apply the DDL-declared bloom index")
        // the property is LATER changed through the API: the catalog's DDL
        // record is now stale — the next SQL INSERT must follow the
        // manifest's carry rule, not silently revert to the DDL value
        SnapshotManifest.retryOnConflict()(
          SnapshotManifest.setBloomCols(ext, root, Seq("v")))
        ext.sql("INSERT INTO snap_carry_t SELECT id, id * 10 FROM range(40, 80)")
        val v2 = SnapshotManifest.currentVersion(ext, root).get
        assert(SnapshotManifest.bloomCols(ext, root, v2) == Seq("v"),
          "an INSERT must not revert an API-declared property to stale DDL")
        // a cleared property stays cleared through SQL writes too
        SnapshotManifest.retryOnConflict()(
          SnapshotManifest.setBloomCols(ext, root, Nil))
        ext.sql("INSERT INTO snap_carry_t SELECT id, id * 10 FROM range(80, 90)")
        val v4 = SnapshotManifest.currentVersion(ext, root).get
        assert(SnapshotManifest.bloomCols(ext, root, v4).isEmpty,
          "an INSERT must not resurrect a cleared property from DDL")
        // a PER-STATEMENT writer option is a deliberate override and wins
        // (on a commit — appends land files under the carried properties)
        SnapshotManifest.read(ext, root)
          .unionByName(ext.range(90, 95).toDF("id")
            .withColumn("v", col("id") * 10L))
          .write.format("graft-snapshot").mode(SaveMode.Overwrite)
          .option("bloomCols", "id").save(root)
        val v5 = SnapshotManifest.currentVersion(ext, root).get
        assert(SnapshotManifest.bloomCols(ext, root, v5) == Seq("id"),
          "an explicit per-statement option must still override")
        assert(ext.sql("SELECT count(*) FROM snap_carry_t").head().getLong(0) == 95L)
      } finally ext.sql("DROP TABLE IF EXISTS snap_carry_t")
    }
  }

  test("a table property spelled like a read option must not flip read semantics") {
    withExtSession { ext =>
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 25).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
      SnapshotManifest.commit(ext, root,
        ext.range(0, 30).toDF("id").withColumn("v", col("id") * 10L), Seq("id"))
      ext.sql(
        s"""CREATE TABLE snap_ropt_t USING `graft-snapshot` LOCATION '$root'
           |TBLPROPERTIES('readChangeFeed'='true', 'versionAsOf'='0',
           |              'comment'='carried fine')""".stripMargin)
      try {
        // both keys stripped from the carried options: the read serves the
        // CURRENT version's plain rows, not the feed and not version 0
        assert(ext.sql("SELECT count(*) FROM snap_ropt_t").head().getLong(0) == 30L,
          "a readChangeFeed/versionAsOf TBLPROPERTY must not flip semantics")
        val cols = ext.sql("SELECT * FROM snap_ropt_t").columns.toSeq
        assert(cols == Seq("id", "v"), s"feed columns leaked into the read: $cols")
      } finally ext.sql("DROP TABLE IF EXISTS snap_ropt_t")
    }
  }

  test("materialized serve refuses case-colliding served columns loudly") {
    withExtSession { ext =>
      val prev = ext.conf.get("spark.sql.caseSensitive", "false")
      ext.conf.set("spark.sql.caseSensitive", "true")
      val root = newRoot()
      try {
        // two columns legal under caseSensitive that collide in a
        // lowercase lookup; a live DV forces the materialized serve path
        SnapshotManifest.commit(ext, root,
          ext.range(0, 20).toDF("id")
            .withColumn("V", col("id") * 10L).withColumn("v", col("id") + 1L),
          Nil)
        SnapshotManifest.deleteWhereMoR(ext, root, col("id") === 3L)
        ext.sql(s"CREATE TABLE snap_case_t USING `graft-snapshot` LOCATION '$root'")
        try {
          val e = intercept[Exception] {
            ext.sql("SELECT * FROM snap_case_t").collect()
          }
          def msgs(t: Throwable): Seq[String] =
            Option(t).toSeq.flatMap(x =>
              Option(x.getMessage).toSeq ++ msgs(x.getCause))
          assert(msgs(e).exists(_.contains("case-colliding")),
            s"the serve must fail loudly, not mis-serve a column: ${e.getMessage}")
        } finally ext.sql("DROP TABLE IF EXISTS snap_case_t")
      } finally ext.conf.set("spark.sql.caseSensitive", prev)
    }
  }

  test("CALL with a PATH argument refuses a directory that is not a snapshot table") {
    withExtSession { ext =>
      val dir = newRoot() // exists, but holds no committed manifest
      val e = intercept[Exception] {
        ext.sql(s"CALL graft.vacuum('$dir')").collect()
      }
      assert(Option(e.getMessage).exists(_.contains("non-snapshot")),
        s"a destructive verb on a raw path must prove a manifest first: ${e.getMessage}")
    }
  }

  test("V2 batch read equals V1: versionAsOf through the scan; write path SaveModes unchanged") {
    val root = newRoot() + "/t"
    def frame(lo: Long, hi: Long) =
      spark.range(lo, hi).toDF("id").withColumn("v", col("id") * 10L)
    frame(0, 100).write.format("graft-snapshot").option("statsCols", "id").save(root)
    frame(100, 150).write.format("graft-snapshot").mode(SaveMode.Append)
      .option("statsCols", "id").save(root)
    assert(spark.read.format("graft-snapshot").load(root).count() == 150L)
    assert(spark.read.format("graft-snapshot").option("versionAsOf", "0")
      .load(root).count() == 100L)
    // a batch V2 read plans as a BatchScan (DSv2), not the V1 relation
    val plan = spark.read.format("graft-snapshot").load(root)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && !plan.contains("FrameRelation"),
      s"non-DV versions must serve through the DSv2 file scan:\n$plan")
  }

  test("DELETE/UPDATE with IN-subquery conditions: join-decided membership, NOT IN null semantics, EXISTS gates, correlated refusal") {
    withExtSession { ext =>
      import ext.implicits._
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 100).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      ext.sql(s"CREATE TABLE snap_sub_t USING `graft-snapshot` LOCATION '$root'")
      try {
        Seq(Some(5L), Some(6L), Some(7L), None).toDF("k")
          .createOrReplaceTempView("sub_keys")
        // IN (SELECT …): nulls in the subquery never match under IN
        ext.sql(
          "DELETE FROM snap_sub_t WHERE id IN (SELECT k FROM sub_keys)")
        assert(ext.sql("SELECT count(*) FROM snap_sub_t").head().getLong(0) == 97L)
        assert(ext.sql("SELECT count(*) FROM snap_sub_t WHERE id IN (5,6,7)")
          .head().getLong(0) == 0L)
        // IN combined with a plain conjunct: only the intersection deletes
        Seq(10L, 11L, 12L, 13L).toDF("k").createOrReplaceTempView("sub_k2")
        ext.sql(
          """DELETE FROM snap_sub_t
            |WHERE id IN (SELECT k FROM sub_k2) AND v >= 120""".stripMargin)
        assert(ext.sql("SELECT id FROM snap_sub_t WHERE id BETWEEN 10 AND 13 ORDER BY id")
          .as[Long].collect().toSeq == Seq(10L, 11L))
        // NOT IN with a NULL in the subquery: SQL three-valued logic —
        // the condition is never TRUE, the statement is a provable no-op
        val before = ext.sql("SELECT count(*) FROM snap_sub_t").head().getLong(0)
        ext.sql(
          "DELETE FROM snap_sub_t WHERE id NOT IN (SELECT k FROM sub_keys)")
        assert(ext.sql("SELECT count(*) FROM snap_sub_t").head().getLong(0) == before,
          "NOT IN over a null-bearing subquery must delete NOTHING")
        // NOT IN without nulls: everything outside the key set goes
        ext.sql(
          """DELETE FROM snap_sub_t
            |WHERE id NOT IN (SELECT k FROM sub_k2) AND id >= 90""".stripMargin)
        assert(ext.sql("SELECT count(*) FROM snap_sub_t WHERE id >= 90")
          .head().getLong(0) == 0L)
        // UPDATE with IN-subquery + scalar subquery in SET
        ext.sql(
          """UPDATE snap_sub_t
            |SET v = (SELECT min(k) FROM sub_k2) WHERE id IN (SELECT k FROM sub_k2)""".stripMargin)
        assert(ext.sql("SELECT v FROM snap_sub_t WHERE id IN (10, 11)")
          .as[Long].collect().toSeq == Seq(10L, 10L))
        // EXISTS gate true ⇒ plain conjunct applies; NOT EXISTS false ⇒ no-op
        ext.sql(
          """UPDATE snap_sub_t SET v = -1
            |WHERE EXISTS (SELECT 1 FROM sub_k2 WHERE k > 12) AND id = 0""".stripMargin)
        assert(ext.sql("SELECT v FROM snap_sub_t WHERE id = 0").as[Long].head() == -1L)
        val b2 = ext.sql("SELECT count(*) FROM snap_sub_t").head().getLong(0)
        ext.sql(
          "DELETE FROM snap_sub_t WHERE NOT EXISTS (SELECT 1 FROM sub_k2)")
        assert(ext.sql("SELECT count(*) FROM snap_sub_t").head().getLong(0) == b2,
          "NOT EXISTS over a non-empty subquery must gate the DELETE off")
        // refusals: correlated subquery, IN under OR, multi-column NOT IN
        Seq(
          """DELETE FROM snap_sub_t t
            |WHERE EXISTS (SELECT 1 FROM sub_k2 s WHERE s.k = t.id)""".stripMargin,
          """DELETE FROM snap_sub_t
            |WHERE id IN (SELECT k FROM sub_k2) OR v < 0""".stripMargin,
          """DELETE FROM snap_sub_t
            |WHERE (id, v) NOT IN (SELECT k, k FROM sub_k2)""".stripMargin)
          .foreach { stmt =>
            val e = intercept[Exception](ext.sql(stmt))
            assert(e.getMessage.contains("graft-snapshot SQL does not support"),
              s"expected a loud refusal for:\n$stmt\ngot: ${e.getMessage}")
          }
      } finally ext.sql("DROP TABLE IF EXISTS snap_sub_t")
    }
  }

  test("general MERGE: conditional multi-action matched clauses, conditional insert, divergent mappings, NOT MATCHED BY SOURCE, cardinality") {
    withExtSession { ext =>
      import ext.implicits._
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 50).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      ext.sql(s"CREATE TABLE snap_gm_t USING `graft-snapshot` LOCATION '$root'")
      try {
        // conditional + multi-action matched, conditional insert — the
        // op-code CDC shape every Delta/Iceberg migrator writes
        Seq((1L, 101L, "U"), (2L, 102L, "D"), (3L, 103L, "U"),
            (4L, 104L, "X"), (60L, 600L, "I"), (61L, -5L, "I"),
            (62L, 620L, "X"))
          .toDF("id", "v", "op").createOrReplaceTempView("gm_src")
        ext.sql(
          """MERGE INTO snap_gm_t t USING gm_src s ON t.id = s.id
            |WHEN MATCHED AND s.op = 'D' THEN DELETE
            |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v + t.v
            |WHEN NOT MATCHED AND s.v > 0 THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
        // ONE atomic version for the whole clause family
        assert(SnapshotManifest.currentVersion(ext, root).contains(1L),
          "the general MERGE must commit exactly one version")
        val after = SnapshotManifest.read(ext, root)
        assert(after.count() == 51L) // 50 - 1 deleted + 2 inserted
        val m = after.filter(col("id").isin(1L, 3L, 4L, 60L, 62L))
          .select("id", "v").as[(Long, Long)].collect().toMap
        assert(m == Map(1L -> 111L, 3L -> 133L, 4L -> 40L,
          60L -> 600L, 62L -> 620L),
          s"first-match-wins action resolution diverged: $m")
        assert(after.filter(col("id").isin(2L, 61L)).isEmpty,
          "matched-DELETE and false insert condition must both hold")
        // divergent UPDATE/INSERT mappings (previously refused) act
        // independently per clause
        Seq((4L, 1000L), (70L, 700L)).toDF("id", "v")
          .createOrReplaceTempView("gm_div")
        ext.sql(
          """MERGE INTO snap_gm_t t USING gm_div s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v + 1)""".stripMargin)
        val div = SnapshotManifest.read(ext, root)
          .filter(col("id").isin(4L, 70L)).select("id", "v")
          .as[(Long, Long)].collect().toMap
        assert(div == Map(4L -> 1000L, 70L -> 701L),
          s"divergent mappings must act per clause: $div")
        // cardinality rule: two source rows acting on one target row throw
        Seq((4L, 1L, "U"), (4L, 2L, "U")).toDF("id", "v", "op")
          .createOrReplaceTempView("gm_dup")
        val e = intercept[Exception](ext.sql(
          """MERGE INTO snap_gm_t t USING gm_dup s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
        assert(e.getMessage != null &&
          e.getMessage.contains("more than one source row"),
          s"MERGE cardinality violation must throw, got: ${e.getMessage}")
      } finally ext.sql("DROP TABLE IF EXISTS snap_gm_t")
    }
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE: conditional keep, and the unconditional full-sync equals the source") {
    withExtSession { ext =>
      import ext.implicits._
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 20).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      ext.sql(s"CREATE TABLE snap_bs_t USING `graft-snapshot` LOCATION '$root'")
      try {
        (5L to 9L).map(i => (i, i * 1000L)).toDF("id", "v")
          .createOrReplaceTempView("bs_src")
        // CONDITIONAL by-source delete: unmatched target rows below the
        // cutoff survive
        ext.sql(
          """MERGE INTO snap_bs_t t USING bs_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE AND t.id >= 10 THEN DELETE""".stripMargin)
        assert(SnapshotManifest.currentVersion(ext, root).contains(1L),
          "all three arms must land in ONE version")
        val after = SnapshotManifest.read(ext, root)
          .select("id", "v").as[(Long, Long)].collect().toMap
        val want = (0L to 4L).map(i => i -> i * 10L).toMap ++
          (5L to 9L).map(i => i -> i * 1000L).toMap
        assert(after == want, s"conditional by-source sync diverged: $after")
        // UNCONDITIONAL by-source delete = full sync: post-state IS the
        // source (the replicateAvailableNow end-state, as one statement)
        (0L to 3L).map(i => (i * 2, i * 7L)).toDF("id", "v")
          .createOrReplaceTempView("bs_full")
        ext.sql(
          """MERGE INTO snap_bs_t t USING bs_full s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        val synced = SnapshotManifest.read(ext, root)
          .select("id", "v").as[(Long, Long)].collect().toMap
        assert(synced == (0L to 3L).map(i => (i * 2) -> (i * 7L)).toMap,
          s"unconditional by-source MERGE must equal the source: $synced")
      } finally ext.sql("DROP TABLE IF EXISTS snap_bs_t")
    }
  }

  test("table_changes TVF: SQL-only windowed CDF, inclusive versions, vacuumed-window refusal, argument gates") {
    withExtSession { ext =>
      import ext.implicits._
      import graft.sources.ChangeFeed
      val root = newRoot()
      SnapshotManifest.commit(ext, root,
        ext.range(0, 100).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(4, col("id")), Seq("id"))
      SnapshotManifest.updateWhere(ext, root, col("id") < 10,
        Map("v" -> (col("v") + 1L)), Seq("id"))                    // v1
      SnapshotManifest.deleteWhere(ext, root, col("id") >= 90, Seq("id")) // v2
      ChangeFeed.materializeNew(ext, root, Seq("id"))
      ext.sql(s"CREATE TABLE snap_tvf_t USING `graft-snapshot` LOCATION '$root'")
      try {
        // full window [1, 2]: 10 pre + 10 post images + 10 deletes
        val full = ext.sql(
          """SELECT id, v, _change, _commit_version
            |FROM table_changes('snap_tvf_t', 1, 2)
            |ORDER BY _commit_version, id, _change""".stripMargin).collect()
        assert(full.length == 30, s"expected 30 change rows, got ${full.length}")
        assert(full.count(_.getString(2) == "delete") == 10)
        assert(full.count(_.getString(2) == "update_postimage") == 10)
        // 2-arg variant reads to the head; a raw-path argument resolves too
        assert(ext.sql(s"SELECT count(*) FROM table_changes('$root', 2)")
          .head().getLong(0) == 10L)
        // inclusive-from: [2, 2] is just the delete commit
        val del = ext.sql(
          "SELECT id FROM table_changes('snap_tvf_t', 2, 2) ORDER BY id")
          .as[Long].collect().toSeq
        assert(del == (90L until 100L).toSeq)
        // argument gates: version 0 (bootstrap), non-literal table name,
        // a non-snapshot path
        intercept[Exception](ext.sql(
          "SELECT * FROM table_changes('snap_tvf_t', 0, 2)"))
        intercept[Exception](ext.sql(
          "SELECT * FROM table_changes(concat('a','b'), 1)"))
        intercept[Exception](ext.sql(
          s"SELECT * FROM table_changes('${newRoot()}', 1)"))
        // vacuumed window refuses at PLAN time, never partial changes
        ChangeFeed.vacuumFeed(ext, root, beforeVersion = 1L)
        val e = intercept[Exception](ext.sql(
          "SELECT * FROM table_changes('snap_tvf_t', 1, 2)"))
        assert(e.getMessage.contains("incomplete"),
          s"a reclaimed range must refuse the window: ${e.getMessage}")
        // the surviving tail still serves
        assert(ext.sql("SELECT count(*) FROM table_changes('snap_tvf_t', 2, 2)")
          .head().getLong(0) == 10L)
      } finally ext.sql("DROP TABLE IF EXISTS snap_tvf_t")
    }
  }
}
