package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{ChangeFeed, SnapshotManifest}

/** Materialized change-data feed: per-commit catch-up, idempotence,
  * empty-commit markers, bounded batch reads, the streaming tail, and
  * feed retention.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("cdf").toString

  private def fsOf(root: String) = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    (rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration), rootPath)
  }

  /** Collected feed rows as a comparable set (id, x, change, version). */
  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long)] =
    df.select(col("id"), col("x"), col("_change"), col("_commit_version"))
      .as[(Long, String, String, Long)].collect().toSet

  /** A table with four commits: bootstrap, update, delete, insert-merge. */
  private def build4(root: String): Unit = {
    SnapshotManifest.commit(spark, root,
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "x"), Seq("id"))
    SnapshotManifest.updateWhere(spark, root, col("id") === 3L,
      Map("x" -> lit("patched")), Seq("id"))
    SnapshotManifest.deleteWhere(spark, root, col("id") >= 18L, Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((100L, "new")).toDF("id", "x"), Seq("id"), Seq("id"))
  }

  test("CDF streaming is O(churn) on the driver: zero manifest-body parses across a cold-cache tail") {
    // the scaladoc claim under test: at the 10⁵-file regime the CDF mode's
    // per-trigger cost is one _cdf listing + the churned ranges — never a
    // body resolve. A schema-RECORDED table (addColumns) answers the
    // stream-start schema from the header, so the whole lifecycle must
    // touch no manifest body on the driver.
    val src = newRoot() + "/t"
    SnapshotManifest.commit(spark, src,
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "x"), Seq("id"))
    SnapshotManifest.addColumns(spark, src, Seq(
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType, nullable = true)))
    SnapshotManifest.updateWhere(spark, src, col("id") === 3L,
      Map("x" -> lit("patched")), Seq("id"))
    SnapshotManifest.deleteWhere(spark, src, col("id") >= 18L, Seq("id"))
    ChangeFeed.materializeNew(spark, src, Seq("id"))
    // cache-cold twin of the whole root: PartsCache keys by root path, so
    // the copy proves the stream NEVER NEEDS a body, not that one was
    // cached earlier
    val dst = newRoot() + "/t2"
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(sp).forEach { p =>
      val t = dp.resolve(sp.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
      ()
    }
    val outDir = newRoot() + "/out"
    SnapshotManifest.manifestReadCount.set(0L)
    val q = spark.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load(dst)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", newRoot() + "/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(SnapshotManifest.manifestReadCount.get() == 0L,
      "a CDF stream must never materialize a manifest body on the driver " +
        "— its per-trigger cost is the _cdf listing plus churned ranges")
    // and it emitted exactly the materialized feed
    val got = spark.read.parquet(outDir)
      .select(col("id"), col("_change"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSet
    val want = ChangeFeed.feed(spark, src, None, None)
      .select(col("id"), col("_change"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == want, s"CDF tail diverged: extra=${(got -- want).take(3)} " +
      s"missing=${(want -- got).take(3)}")
  }

  test("materializeNew covers every commit boundary; feed equals the per-commit diffs") {
    val root = newRoot()
    build4(root)
    val done = ChangeFeed.materializeNew(spark, root, Seq("id"))
    assert(done == Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    val expected = done.flatMap { case (f, t) =>
      rows(SnapshotManifest.changesBetween(spark, root, f, t, Seq("id"))
        .withColumn("_commit_version", lit(t)))
    }.toSet
    assert(rows(ChangeFeed.feed(spark, root)) == expected)
    // the feed carries exactly the churn: 1 update (2 images) + 2 deletes + 1 insert
    assert(expected.toSeq.map(_._3).groupBy(identity).view.mapValues(_.size).toMap ==
      Map("update_preimage" -> 1, "update_postimage" -> 1,
        "delete" -> 2, "insert" -> 1))
  }

  /** Feed rows as sorted strings over `cols`, null-safe (a NULL key
    * included).
    */
  private def rowStrings(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String] = Seq("id", "x", "_change", "_commit_version")): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** The per-step diffs of `steps`, as the feed would carry them. */
  private def perStep(root: String, steps: Seq[(Long, Long)]): Seq[String] =
    steps.flatMap { case (f, t) =>
      rowStrings(SnapshotManifest.changesBetween(spark, root, f, t, Seq("id"))
        .withColumn("_commit_version", lit(t)))
    }.sorted

  test("a batched catch-up equals the per-step diffs across DML, a restore, MoR, compaction, a schema change and a NULL key") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "x"), Seq("id"))
    SnapshotManifest.appendRows(spark, root, Seq((200L, "a")).toDF("id", "x"), Seq("id"))
    SnapshotManifest.updateWhere(spark, root, col("id") === 3L,
      Map("x" -> lit("patched")), Seq("id"))
    // the restore re-adds the file the update replaced, and the second
    // update removes it again: one file is old-only in two steps
    SnapshotManifest.restoreVersion(spark, root, 1L)
    SnapshotManifest.updateWhere(spark, root, col("id") === 3L,
      Map("x" -> lit("again")), Seq("id"))
    SnapshotManifest.deleteWhere(spark, root, col("id") >= 18L && col("id") < 100L, Seq("id"))
    SnapshotManifest.deleteWhereMoR(spark, root, col("id") === 5L) // DV-only
    assert(SnapshotManifest.compactSmallFiles(spark, root).isDefined) // no rows
    SnapshotManifest.addColumns(spark, root, Seq( // a second schema group
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.StringType, nullable = true)))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((Option(7L), "m7", Option("y7")), (Option.empty[Long], "nullkey", Option.empty[String]))
        .toDF("id", "x", "y"), Seq("id"), Seq("id"))
    val versions = SnapshotManifest.listVersions(spark, root)
    val steps = versions.zip(versions.tail)
    assert(steps.size == 9)
    // the ranges the per-commit loop returned: every step, ascending
    assert(ChangeFeed.materializeNew(spark, root, Seq("id")) == steps)
    val feed = ChangeFeed.feed(spark, root)
    assert(rowStrings(feed) == perStep(root, steps))
    // both updates read the restored file; the DV-only step is a plain
    // delete; compaction and addColumns carry no rows
    val byStep = feed.groupBy("_commit_version").count().as[(Long, Long)].collect().toMap
    assert(rowStrings(feed.filter(col("_commit_version") === steps(3)._2)) ==
      Seq(s"[3,again,update_postimage,${steps(3)._2}]", s"[3,v3,update_preimage,${steps(3)._2}]"))
    assert(byStep.get(steps(5)._2).contains(1L) && !byStep.contains(steps(6)._2) &&
      !byStep.contains(steps(7)._2))
    // the widened step keeps its new column; the NULL-keyed row is an insert
    assert(rowStrings(feed.filter(col("_commit_version") === steps(8)._2),
      Seq("id", "x", "y", "_change")) == Seq("[7,m7,y7,update_postimage]",
        "[7,v7,null,update_preimage]", "[null,nullkey,null,insert]"))
    // every commit directory holds a parquet file (the file-stream source
    // lists files, not directories), and nothing is left staged
    val (fs, rootPath) = fsOf(root)
    steps.foreach { case (f, t) =>
      val dir = new org.apache.hadoop.fs.Path(rootPath, f"_cdf/c$f%08d-$t%08d")
      assert(fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet")), dir)
    }
    val stage = new org.apache.hadoop.fs.Path(rootPath, "_cdf_stage")
    assert(!fs.exists(stage) || fs.listStatus(stage).isEmpty)
  }

  test("the driver-side footer schema is the schema a parquet read infers") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, spark.sql(
      """SELECT id, CAST(id AS STRING) AS s, CAST(id AS DECIMAL(12, 2)) AS d,
        |  TIMESTAMP'2024-01-02 03:04:05' AS ts, DATE'2024-01-02' AS dt,
        |  named_struct('a', id, 'b', array(1.5D, CAST(NULL AS DOUBLE))) AS st,
        |  map('k', id) AS m, CAST('xy' AS BINARY) AS bin
        |FROM range(3)""".stripMargin), Seq("id"))
    val files = SnapshotManifest.snapshotFiles(spark, root, 0L)
    assert(files.nonEmpty)
    files.foreach(f => assert(
      org.apache.spark.sql.graftbridge.ColumnBridge.parquetFileSchema(spark, f) ==
        spark.read.parquet(f).schema, f))
  }

  test("a crash mid-publish leaves a contiguous published prefix that the next catch-up completes") {
    val root = s"faulty://${newRoot()}/t"
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    try {
      FaultGate.disarm()
      build4(root)
      SnapshotManifest.deleteWhere(spark, root, col("id") === 5L, Seq("id"))
      val steps = (0L until 4L).map(v => (v, v + 1))
      // the publish rename of the third range crashes the process
      FaultGate.armAt((op, p) => op == "rename" && p.getName == "c00000002-00000003")
      intercept[java.io.IOException](ChangeFeed.materializeNew(spark, root, Seq("id")))
      assert(FaultGate.tripped)
      FaultGate.disarm()
      assert(ChangeFeed.materializedRanges(spark, root) == steps.take(2))
      // the unpublished window fails coverage instead of reading partially
      intercept[IllegalStateException](ChangeFeed.feed(spark, root, sinceVersion = Some(2L)))
      intercept[IllegalStateException](ChangeFeed.feed(spark, root, untilVersion = Some(4L)))
      assert(ChangeFeed.materializeNew(spark, root, Seq("id")) == steps.drop(2))
      assert(rowStrings(ChangeFeed.feed(spark, root)) == perStep(root, steps))
      // the crashed stage is unreferenced; vacuumFeed sweeps it
      ChangeFeed.vacuumFeed(spark, root, beforeVersion = 0L, staleStageMs = 0L)
      val (fs, rootPath) = fsOf(root)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(rootPath, "_cdf_stage")).isEmpty)
    } finally FaultGate.disarm()
  }

  test("catch-up is idempotent and versioned bounds prune the batch read") {
    val root = newRoot()
    build4(root)
    assert(ChangeFeed.materializeNew(spark, root, Seq("id")).size == 3)
    assert(ChangeFeed.materializeNew(spark, root, Seq("id")).isEmpty)
    val all = rows(ChangeFeed.feed(spark, root))
    val late = rows(ChangeFeed.feed(spark, root, sinceVersion = Some(2L)))
    assert(late == all.filter(_._4 > 2L))
    val early = rows(ChangeFeed.feed(spark, root, untilVersion = Some(1L)))
    assert(early == all.filter(_._4 <= 1L))
  }

  test("metadata-only commits materialize as empty readable markers") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "x"), Seq("id"))
    // restore-to-self-content via a no-change restore is a no-op publish,
    // so force a metadata-only boundary with addColumns instead
    SnapshotManifest.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.StringType, nullable = true)))
    assert(ChangeFeed.materializeNew(spark, root, Seq("id")) == Seq((0L, 1L)))
    val feed = ChangeFeed.feed(spark, root)
    assert(feed.count() == 0)
    // the marker still reads under the feed schema (no inference failure)
    assert(feed.columns.contains("_change") && feed.columns.contains("_commit_version"))
  }

  test("streaming tail sees the whole materialized feed exactly once") {
    val root = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    val q = ChangeFeed.stream(spark, root).writeStream
      .format("memory").queryName("cdf_tail")
      .option("checkpointLocation", Files.createTempDirectory("cdfchk").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = rows(spark.table("cdf_tail"))
    assert(streamed == rows(ChangeFeed.feed(spark, root)))
  }

  test("mid-stream vacuumFeed fails loudly at the next batch instead of silently skipping never-listed ranges") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "x"), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((1L, "c1")).toDF("id", "x"), Seq("id"), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((2L, "c2")).toDF("id", "x"), Seq("id"), Seq("id"))
    ChangeFeed.materializeNew(spark, root, Seq("id")) // (0,1), (1,2)
    @volatile var watermark = 0L
    val chk = Files.createTempDirectory("cdfchk").toString
    def consumer() = ChangeFeed.stream(spark, root).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the long-running consumer's contract: validate from the applied
        // watermark BEFORE applying anything
        ChangeFeed.validateBatchCoverage(spark, root, watermark, batch)
        val hi = batch.agg(max(col("_commit_version"))).head()
        if (!hi.isNullAt(0)) watermark = math.max(watermark, hi.getLong(0))
        ()
      }
      .option("checkpointLocation", chk)
      .start() // continuous micro-batches — NOT AvailableNow
    val q1 = consumer()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(watermark == 2L)
    // while the consumer is DOWN, two more commits land and the feed's
    // early coverage — including a range the source never listed — is
    // reclaimed: the silent-gap construction (a file source cannot miss
    // what it never saw, and a raw stream has no start-of-run check)
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((3L, "c3")).toDF("id", "x"), Seq("id"), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((4L, "c4")).toDF("id", "x"), Seq("id"), Seq("id"))
    ChangeFeed.materializeNew(spark, root, Seq("id")) // (2,3), (3,4)
    ChangeFeed.vacuumFeed(spark, root, beforeVersion = 3L) // reclaims ..(2,3)
    val q2 = consumer()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("feed coverage")),
        s"expected the coverage error in the cause chain, got: $msgs")
      assert(watermark == 2L, "nothing past the gap may have been applied")
    } finally q2.stop()
  }

  test("replication: clone-bootstrapped replica converges through the feed, deletes included") {
    val root = newRoot(); val replicaRoot = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    SnapshotManifest.cloneTable(spark, root, replicaRoot, version = Some(0L))
    val replica = ChangeFeed.replicateAvailableNow(spark, root, replicaRoot,
      Seq("id"), Files.createTempDirectory("replchk").toString,
      statsCols = Seq("id"), fromVersion = Some(0L))
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("x")).as[(Long, String)].collect().toSet
    assert(state(replica) == state(SnapshotManifest.read(spark, root)))
    // the source saw a delete (ids >= 18) — the replica must NOT have them
    assert(!state(replica).exists(t => t._1 >= 18L && t._1 < 100L))
  }

  test("replication is restart-safe: a second run with a fresh checkpoint re-converges") {
    val root = newRoot(); val replicaRoot = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    SnapshotManifest.cloneTable(spark, root, replicaRoot, version = Some(0L))
    ChangeFeed.replicateAvailableNow(spark, root, replicaRoot, Seq("id"),
      Files.createTempDirectory("replchk").toString, statsCols = Seq("id"),
      fromVersion = Some(0L))
    // fresh checkpoint = full feed replay: idempotent arms must converge
    // to the same state, not double-apply
    val again = ChangeFeed.replicateAvailableNow(spark, root, replicaRoot,
      Seq("id"), Files.createTempDirectory("replchk").toString,
      statsCols = Seq("id"), fromVersion = Some(0L))
    assert(again.select(col("id"), col("x")).as[(Long, String)].collect().toSet ==
      SnapshotManifest.read(spark, root)
        .select(col("id"), col("x")).as[(Long, String)].collect().toSet)
  }

  test("racing materializers: exactly one publishes, the feed stays single") {
    val root = newRoot()
    build4(root)
    import java.util.concurrent.{Callable, Executors}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 2).map(_ => new Callable[Boolean] {
        def call(): Boolean = ChangeFeed.materialize(spark, root, 0L, 1L, Seq("id"))
      })
      val results = pool.invokeAll(java.util.Arrays.asList(tasks: _*))
      val published = (0 until 2).count(i => results.get(i).get())
      // dest-exists fast path or publishDir's lost-race cleanup: either
      // way exactly one winner, no duplicate directory, no torn feed
      assert(published == 1)
      assert(ChangeFeed.materializedRanges(spark, root) == Seq((0L, 1L)))
      assert(ChangeFeed.feed(spark, root, untilVersion = Some(1L)).count() ==
        SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id")).count())
    } finally pool.shutdown()
  }

  test("vacuumFeed reclaims old ranges and leaves the rest readable") {
    val root = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    val all = rows(ChangeFeed.feed(spark, root))
    assert(ChangeFeed.vacuumFeed(spark, root, beforeVersion = 2L) ==
      Seq((0L, 1L), (1L, 2L)))
    assert(rows(ChangeFeed.feed(spark, root)) == all.filter(_._4 > 2L))
    assert(ChangeFeed.materializedRanges(spark, root) == Seq((2L, 3L)))
  }

  test("coverage gaps fail loudly instead of feeding partial changes") {
    val root = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    ChangeFeed.vacuumFeed(spark, root, beforeVersion = 2L)
    // a consumer whose watermark predates feed retention must NOT get a
    // silently partial answer
    intercept[IllegalStateException] {
      ChangeFeed.feed(spark, root, sinceVersion = Some(0L))
    }
    // nor must a replica bootstrapped at the vacuumed version converge
    val replicaRoot = newRoot()
    SnapshotManifest.cloneTable(spark, root, replicaRoot, version = Some(0L))
    intercept[IllegalStateException] {
      ChangeFeed.replicateAvailableNow(spark, root, replicaRoot, Seq("id"),
        Files.createTempDirectory("replchk").toString, fromVersion = Some(0L))
    }
    // the surviving suffix still reads when asked for honestly
    assert(rows(ChangeFeed.feed(spark, root, sinceVersion = Some(2L)))
      .forall(_._4 == 3L))
  }

  test("coarse ranges are rejected: the feed is strictly per-commit") {
    val root = newRoot()
    build4(root)
    intercept[IllegalArgumentException] {
      ChangeFeed.materialize(spark, root, 0L, 3L, Seq("id"))
    }
    // adjacency is judged over RETAINED versions: vacuum away v0, and
    // (1,2) is a valid step while the reclaimed (0,1) no longer is
    SnapshotManifest.vacuum(spark, root, keep = 3)
    intercept[IllegalArgumentException] {
      ChangeFeed.materialize(spark, root, 0L, 1L, Seq("id"))
    }
    assert(ChangeFeed.materialize(spark, root, 1L, 2L, Seq("id")))
    assert(ChangeFeed.materializeNew(spark, root, Seq("id")) == Seq((2L, 3L)))
  }

  test("replication resumes past vacuumed feed ranges via its watermark") {
    val root = newRoot(); val replicaRoot = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    SnapshotManifest.cloneTable(spark, root, replicaRoot, version = Some(0L))
    val chk = Files.createTempDirectory("replchk").toString
    ChangeFeed.replicateAvailableNow(spark, root, replicaRoot, Seq("id"),
      chk, statsCols = Seq("id"), fromVersion = Some(0L))
    assert(ChangeFeed.replicaWatermark(spark, replicaRoot).contains(3L))
    // consumed ranges get reclaimed; new churn arrives
    ChangeFeed.vacuumFeed(spark, root, beforeVersion = 3L)
    SnapshotManifest.deleteWhere(spark, root, col("id") === 5L, Seq("id"))
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    // the SAME call (bootstrap fromVersion and all) must still catch up:
    // validation runs from the watermark, not the bootstrap forever
    val replica = ChangeFeed.replicateAvailableNow(spark, root, replicaRoot,
      Seq("id"), chk, statsCols = Seq("id"), fromVersion = Some(0L))
    assert(replica.select(col("id"), col("x")).as[(Long, String)].collect().toSet ==
      SnapshotManifest.read(spark, root)
        .select(col("id"), col("x")).as[(Long, String)].collect().toSet)
    assert(ChangeFeed.replicaWatermark(spark, replicaRoot).contains(4L))
  }

  test("a version hole inside materialized coverage never publishes an overlapping range") {
    // full manifests throughout: deleting a middle manifest below must
    // simulate a vacuumed version, not sever a delta chain (vacuum's own
    // chain guard handles that case — see SnapshotManifestSpec)
    spark.conf.set("graft.manifest.checkpointInterval", "1")
    try {
    val root = newRoot()
    build4(root)                                        // versions 0..3
    ChangeFeed.materializeNew(spark, root, Seq("id"))   // (0,1),(1,2),(2,3)
    SnapshotManifest.deleteWhere(spark, root, col("id") === 5L, Seq("id")) // v4
    // reclaim version 3's manifest, leaving 2 and 4 retained — the hole an
    // age-guarded vacuum can open when a later stats retrofit refreshed an
    // OLDER manifest's mtime (doomed-by-age is not a strict prefix then)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(rootPath, "manifest-00000003.json"), false))
    // retained adjacency now derives (2,4); publishing c2-4 BESIDE c2-3
    // would double-cover 2→3 and wedge coveredRanges for every window
    assert(ChangeFeed.materializeNew(spark, root, Seq("id")).isEmpty)
    assert(ChangeFeed.materializedRanges(spark, root) ==
      Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    // the intact prefix keeps serving its consumers
    assert(rows(ChangeFeed.feed(spark, root, untilVersion = Some(3L))).nonEmpty)
    // the manual verb refuses the overlap loudly too
    intercept[IllegalArgumentException] {
      ChangeFeed.materialize(spark, root, 2L, 4L, Seq("id"))
    }
    // retiring the stale coverage makes the coarse step legal again
    ChangeFeed.vacuumFeed(spark, root, beforeVersion = 3L)
    assert(ChangeFeed.materialize(spark, root, 2L, 4L, Seq("id")))
    assert(rows(ChangeFeed.feed(spark, root, sinceVersion = Some(2L)))
      .forall(_._4 == 4L))
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
  }

  test("catch-up repairs a genuine gap even below the max materialized range") {
    val root = newRoot()
    build4(root)
    // out-of-order manual materialization leaves a real hole at (1,2) —
    // repair must not be confused with the vacuum-overlap skip (the
    // 'missed calls are repaired here, not lost' contract)
    assert(ChangeFeed.materialize(spark, root, 0L, 1L, Seq("id")))
    assert(ChangeFeed.materialize(spark, root, 2L, 3L, Seq("id")))
    assert(ChangeFeed.materializeNew(spark, root, Seq("id")) == Seq((1L, 2L)))
    assert(ChangeFeed.materializedRanges(spark, root) ==
      Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    assert(rows(ChangeFeed.feed(spark, root)).nonEmpty)
  }

  test("an unanchored first replication refuses a feed whose early ranges were reclaimed") {
    val root = newRoot(); val replicaRoot = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    ChangeFeed.vacuumFeed(spark, root, beforeVersion = 2L)
    SnapshotManifest.cloneTable(spark, root, replicaRoot, version = Some(0L))
    // no fromVersion, no watermark: validation must anchor at the source's
    // earliest retained version — a with-since=None check would see only
    // internal contiguity, pass, and converge the replica WRONG
    intercept[IllegalStateException] {
      ChangeFeed.replicateAvailableNow(spark, root, replicaRoot, Seq("id"),
        Files.createTempDirectory("replchk").toString)
    }
    // with coverage intact from the earliest retained version, the
    // unanchored first run converges
    val root2 = newRoot(); val replica2 = newRoot()
    build4(root2)
    ChangeFeed.materializeNew(spark, root2, Seq("id"))
    SnapshotManifest.cloneTable(spark, root2, replica2, version = Some(0L))
    val out = ChangeFeed.replicateAvailableNow(spark, root2, replica2,
      Seq("id"), Files.createTempDirectory("replchk").toString)
    assert(out.select(col("id"), col("x")).as[(Long, String)].collect().toSet ==
      SnapshotManifest.read(spark, root2)
        .select(col("id"), col("x")).as[(Long, String)].collect().toSet)
  }

  test("an until-bounded read over reclaimed coverage fails instead of reading empty") {
    val root = newRoot()
    build4(root)
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    ChangeFeed.vacuumFeed(spark, root, beforeVersion = 2L)
    // '(begin, 2]' had changes; they were reclaimed — must not read as none
    intercept[IllegalStateException] {
      ChangeFeed.feed(spark, root, untilVersion = Some(2L))
    }
    // an honestly-empty window still answers empty
    assert(ChangeFeed.feed(spark, root,
      sinceVersion = Some(3L), untilVersion = Some(3L)).count() == 0)
  }
}
