package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.SnapshotManifest
import graft.operators.Upsert

/** Merge-on-read DELETE (deletion vectors): data bytes untouched, every
  * reader applies the sidecar, folds/rewrites materialize it, vacuum
  * treats live sidecars as reachable.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String = {
    val root = Files.createTempDirectory("dv").toString + "/t"
    SnapshotManifest.commit(spark, root,
      spark.range(0, 200).toDF("id").withColumn("v", $"id" * 10)
        .repartitionByRange(8, $"id"),
      Seq("id"))
    root
  }
  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("MoR delete: rows vanish with ZERO data-file rewrites; all read paths agree") {
    val root = newTable()
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L)
    val v1 = SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 20))
    assert(v1 == 1L)
    // the data files are SHARED byte-for-byte — only the manifest changed
    assert(SnapshotManifest.snapshotFiles(spark, root, 1L) == v0Files)
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 189L)
    assert(got.filter($"id".between(10, 20)).count() == 0L)
    // pruned read path applies the DV too
    assert(SnapshotManifest.readWhere(spark, root, $"id" === 15L).count() == 0L)
    assert(SnapshotManifest.readWhere(spark, root, $"id" === 50L).count() == 1L)
    // time travel: the pre-delete snapshot still has the rows
    assert(SnapshotManifest.readVersion(spark, root, 0L).count() == 200L)
    // SQL DELETE null semantics + no-op short-circuit
    assert(SnapshotManifest.deleteWhereMoR(spark, root, $"id" === -1L) == 1L)
  }

  test("second MoR delete merges sidecars (one dv ref per line); DV'd rows never match twice") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 12))
    val v2 = SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(11, 14))
    assert(v2 == 2L)
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 195L && got.filter($"id".between(10, 14)).count() == 0L)
    // every line carries at most one dv reference
    SnapshotManifest.manifestBody(spark, root, 2L).foreach { line =>
      assert(line.split('\t').count(_.startsWith("dv=")) <= 1, line)
    }
  }

  test("CoW rewrite of a DV'd file applies the vector and drops the reference") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 12))
    // update hits the same file range: the rewrite must not resurrect 10-12
    SnapshotManifest.updateWhere(spark, root, $"id".between(13, 15),
      Map("v" -> lit(-1L)), Seq("id"))
    val got = SnapshotManifest.read(spark, root)
    assert(got.filter($"id".between(10, 12)).count() == 0L)
    assert(got.filter($"v" === -1L).count() == 3L)
    assert(got.count() == 197L)
    // the rewritten file's line lost its dv ref; no line in the new
    // manifest references a DV for the rewritten range
    val body = SnapshotManifest.manifestBody(spark, root,
      SnapshotManifest.currentVersion(spark, root).get)
    assert(!body.exists(_.contains("dv=")),
      s"dv ref should be gone after the CoW rewrite: $body")
  }

  test("mergeWhere into a MoR-deleted range does not resurrect rows") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 15))
    val staged = Seq((12L, -7L)).toDF("id", "v")
    Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"))
    val got = SnapshotManifest.read(spark, root)
    // 12 re-inserted by the merge; 10,11,13,14,15 stay deleted
    assert(got.filter($"id" === 12L).head().getAs[Long]("v") == -7L)
    assert(got.filter($"id".between(10, 15)).count() == 1L)
    assert(got.count() == 195L)
  }

  test("changesBetween across a MoR delete emits plain deletes off shared bytes") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 12))
    val feed = SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id"))
      .select($"id", $"_change").as[(Long, String)].collect().toSet
    assert(feed == Set((10L, "delete"), (11L, "delete"), (12L, "delete")))
  }

  test("foldDeletes materializes the vectors; vacuum then reclaims the sidecar") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 12))
    val bodyBefore = SnapshotManifest.manifestBody(spark, root, 1L)
    val dvRel = bodyBefore.flatMap(l => l.split('\t').find(_.startsWith("dv=")))
      .head.stripPrefix("dv=")
    val fs = hfs(root)
    assert(fs.exists(new Path(root, dvRel)))
    val v2 = SnapshotManifest.foldDeletes(spark, root)
    assert(v2 == 2L)
    val body2 = SnapshotManifest.manifestBody(spark, root, 2L)
    assert(!body2.exists(_.contains("dv=")))
    // only DV'd files rewrote: un-DV'd lines carry verbatim
    assert((bodyBefore.filterNot(_.contains("dv=")).toSet intersect body2.toSet).nonEmpty)
    assert(SnapshotManifest.read(spark, root).count() == 197L)
    // vacuum with only the folded version kept reclaims the sidecar
    SnapshotManifest.vacuum(spark, root, keep = 1)
    assert(!fs.exists(new Path(root, dvRel)), "superseded DV sidecar reclaimed")
    assert(SnapshotManifest.read(spark, root).count() == 197L)
    // idempotent: nothing left to fold
    assert(SnapshotManifest.foldDeletes(spark, root) == 2L)
    // inherited stats: the rewritten files still carry id stats, so
    // routine maintenance never silently strips pruning power
    val stats2 = SnapshotManifest.snapshotFileStats(spark, root, 2L)
    assert(stats2.nonEmpty && stats2.values.forall(_.cols.contains("id")))
    assert(SnapshotManifest.prunedFiles(spark, root, 2L, $"id" === -5L).isEmpty)
  }

  test("user columns named like the position bookkeeping survive MoR (collision-free names)") {
    val root = Files.createTempDirectory("dv_adv").toString + "/t"
    SnapshotManifest.commit(spark, root,
      spark.range(0, 50).toDF("id").withColumn("__graft_f", $"id" * 2)
        .withColumn("__graft_r", $"id" * 3).repartitionByRange(4, $"id"),
      Seq("id"))
    SnapshotManifest.deleteWhereMoR(spark, root, $"id" === 10L)
    val got = SnapshotManifest.read(spark, root)
    assert(got.columns.toSeq.sorted == Seq("__graft_f", "__graft_r", "id"))
    assert(got.count() == 49L)
    assert(got.filter($"id" === 20L).head().getAs[Long]("__graft_f") == 40L)
    // the MoR verbs work too — positions pick fresh names internally
    SnapshotManifest.updateWhereMoR(spark, root, $"id" === 20L,
      Map("__graft_f" -> lit(-1L)), Seq("id"))
    assert(SnapshotManifest.read(spark, root)
      .filter($"id" === 20L).head().getAs[Long]("__graft_f") == -1L)
    Upsert.mergeWhereMoR(spark, root,
      Seq((21L, -2L, -3L)).toDF("id", "__graft_f", "__graft_r"),
      Seq("id"), Seq("id"))
    val after = SnapshotManifest.read(spark, root)
    assert(after.filter($"id" === 21L).head().getAs[Long]("__graft_f") == -2L)
    assert(after.count() == 49L)
  }

  test("vacuum keeps a LIVE sidecar (reachability includes dv refs)") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 12))
    val dvRel = SnapshotManifest.manifestBody(spark, root, 1L)
      .flatMap(l => l.split('\t').find(_.startsWith("dv="))).head.stripPrefix("dv=")
    SnapshotManifest.vacuum(spark, root, keep = 1) // v0 superseded
    val fs = hfs(root)
    assert(fs.exists(new Path(root, dvRel)), "live DV must survive vacuum")
    assert(SnapshotManifest.read(spark, root).count() == 197L)
  }

  test("MoR update: positions masked + post-images appended; no data-file rewrite") {
    val root = newTable()
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
    val v1 = SnapshotManifest.updateWhereMoR(spark, root, $"id".between(10, 12),
      Map("v" -> ($"v" * -1)), Seq("id"))
    assert(v1 == 1L)
    // every original data file carries over byte-for-byte; only APPENDED
    // post-image files are new
    val v1Files = SnapshotManifest.snapshotFiles(spark, root, 1L).toSet
    assert(v0Files.subsetOf(v1Files))
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 200L)
    assert(got.filter($"id".between(10, 12)).select($"v").as[Long].collect().toSet ==
      Set(-100L, -110L, -120L))
    assert(got.filter($"id" === 13L).head().getAs[Long]("v") == 130L) // untouched
    // SQL UPDATE semantics: assignments on the PRE-update row
    val v2 = SnapshotManifest.updateWhereMoR(spark, root, $"id" === 10L,
      Map("v" -> ($"v" - 1)), Seq("id"))
    assert(v2 == 2L)
    assert(SnapshotManifest.read(spark, root)
      .filter($"id" === 10L).head().getAs[Long]("v") == -101L)
    assert(SnapshotManifest.read(spark, root).count() == 200L)
    // fold materializes everything; totals preserved
    SnapshotManifest.foldDeletes(spark, root)
    val folded = SnapshotManifest.read(spark, root)
    assert(folded.count() == 200L)
    assert(folded.filter($"id" === 10L).head().getAs[Long]("v") == -101L)
    assert(!SnapshotManifest.manifestBody(spark, root,
      SnapshotManifest.currentVersion(spark, root).get).exists(_.contains("dv=")))
  }

  test("MoR update then MoR delete compose; retry twins land on a quiet table") {
    val root = newTable()
    SnapshotManifest.retryOnConflict()(
      SnapshotManifest.updateWhereMoR(spark, root, $"id" === 5L,
        Map("v" -> lit(-5L)), Seq("id")))
    SnapshotManifest.retryOnConflict()(
      SnapshotManifest.deleteWhereMoR(spark, root, $"id" === 5L))
    val got = SnapshotManifest.read(spark, root)
    assert(got.filter($"id" === 5L).count() == 0L)
    assert(got.count() == 199L)
  }

  test("MoR merge ≡ whole-table merge; no file rewrites, updates masked + appended") {
    val root = newTable()
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
    val target = SnapshotManifest.read(spark, root)
    val staged = Seq((10L, -1L), (11L, -2L), (500L, 7L)).toDF("id", "v")
    val expect = Upsert.merge(target, staged, Seq("id"))
      .as[(Long, Long)].collect().toSet
    val v1 = Upsert.mergeWhereMoR(spark, root, staged, Seq("id"), Seq("id"))
    assert(v1 == 1L)
    // every original data file carries byte-for-byte; appended files only
    assert(v0Files.subsetOf(SnapshotManifest.snapshotFiles(spark, root, 1L).toSet))
    val got = SnapshotManifest.read(spark, root).as[(Long, Long)].collect().toSet
    assert(got == expect)
    assert(got.contains((10L, -1L)) && got.contains((500L, 7L)))
    assert(SnapshotManifest.read(spark, root).count() == 201L)
    // chained MoR merge over already-masked keys converges (re-mask append)
    val staged2 = Seq((10L, -9L)).toDF("id", "v")
    Upsert.mergeWhereMoR(spark, root, staged2, Seq("id"), Seq("id"))
    val got2 = SnapshotManifest.read(spark, root)
    assert(got2.filter($"id" === 10L).head().getAs[Long]("v") == -9L)
    assert(got2.count() == 201L)
    // fold materializes — content unchanged
    SnapshotManifest.foldDeletes(spark, root)
    assert(SnapshotManifest.read(spark, root).as[(Long, Long)].collect().toSet ==
      got2.as[(Long, Long)].collect().toSet)
  }

  test("MoR merge: all-new keys append without masking; all-null-key staged inserts") {
    val root = newTable()
    val staged = Seq((Option(900L), 1L), (Option.empty[Long], 2L)).toDF("id", "v")
    val v1 = Upsert.mergeWhereMoR(spark, root, staged, Seq("id"), Seq("id"))
    assert(v1 == 1L)
    assert(!SnapshotManifest.manifestBody(spark, root, 1L).exists(_.contains("dv=")))
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 202L)
    assert(got.filter($"id".isNull).count() == 1L)
  }

  test("streaming upsert in MoR mode: batches land without file rewrites, state converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = newTable()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    mem.addData(Seq((10L, -1L, 1L), (900L, 5L, 1L)))
    mem.addData(Seq((11L, -2L, 2L)))
    val out = graft.streaming.StreamingUpsert.runAvailableNow(spark,
      mem.toDF().toDF("id", "v", "ts"), root, Seq("id"), "ts",
      java.nio.file.Files.createTempDirectory("supsert_mor").toString,
      statsCols = Seq("id"), mor = true)
    assert(out.count() == 201L)
    assert(out.filter($"id" === 10L).head().getAs[Long]("v") == -1L)
    assert(out.filter($"id" === 11L).head().getAs[Long]("v") == -2L)
    assert(out.filter($"id" === 900L).head().getAs[Long]("v") == 5L)
    // v0's files were never rewritten across the whole run
    val cur = SnapshotManifest.currentVersion(spark, root).get
    assert(SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
      .subsetOf(SnapshotManifest.snapshotFiles(spark, root, cur).toSet))
  }

  test("racing MoR delete and CoW update serialize through the retry twins; both effects land") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = newTable()
    val done = Await.result(Future.sequence(Seq(
      Future(SnapshotManifest.retryOnConflict(sleep = _ => ())(
        SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 12)))),
      Future(SnapshotManifest.retryOnConflict(sleep = _ => ())(
        SnapshotManifest.updateWhere(spark, root, $"id".between(50, 52),
          Map("v" -> lit(-1L)), Seq("id")))))), 120.seconds)
    assert(done.toSet == Set(1L, 2L), done.toString)
    val got = SnapshotManifest.read(spark, root)
    assert(got.filter($"id".between(10, 12)).count() == 0L)
    assert(got.filter($"v" === -1L).count() == 3L)
    assert(got.count() == 197L)
  }

  test("streaming MoR upsert: wholesale replay converges (at-least-once worst case)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = newTable()
    implicit val sqlCtx = spark.sqlContext
    def runBatches(ck: String): org.apache.spark.sql.DataFrame = {
      val mem = MemoryStream[(Long, Long, Long)]
      mem.addData(Seq((10L, -1L, 1L)))
      mem.addData(Seq((900L, 5L, 2L)))
      graft.streaming.StreamingUpsert.runAvailableNow(spark,
        mem.toDF().toDF("id", "v", "ts"), root, Seq("id"), "ts", ck,
        statsCols = Seq("id"), mor = true)
    }
    runBatches(Files.createTempDirectory("mor_ck1").toString)
    // fresh checkpoint = every batch re-delivers: re-masking + re-append
    // must converge to the identical table, nothing duplicated
    val out = runBatches(Files.createTempDirectory("mor_ck2").toString)
    assert(out.count() == 201L)
    assert(out.filter($"id" === 10L).head().getAs[Long]("v") == -1L)
    assert(out.filter($"id" === 900L).count() == 1L)
  }

  test("compactSnapshot on a DV'd table materializes deletions") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 12))
    val v = SnapshotManifest.compactSnapshot(spark, root)
    assert(v.isDefined)
    assert(!SnapshotManifest.manifestBody(spark, root, v.get).exists(_.contains("dv=")))
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 197L && got.filter($"id".between(10, 12)).count() == 0L)
  }

  test("fat-predicate MoR delete degrades loudly to the CoW rewrite past maxDvPositions") {
    val root = newTable()
    // 51 matches > cap 10 → deleteWhere path: rows gone, NO dv refs, and
    // the affected files are REWRITTEN (not shared)
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
    val v1 = SnapshotManifest.deleteWhereMoR(spark, root,
      $"id".between(0, 50), maxDvPositions = 10)
    assert(v1 == 1L)
    assert(!SnapshotManifest.manifestBody(spark, root, 1L).exists(_.contains("dv=")))
    assert(SnapshotManifest.snapshotFiles(spark, root, 1L).toSet != v0Files)
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 149L && got.filter($"id" <= 50).count() == 0L)
    // and the cap composes with an EXISTING vector: a narrow MoR delete
    // first, then a fat one — the merged size trips the cap, the CoW
    // rewrite applies the old vector too (nothing resurrects)
    val root2 = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root2, $"id" === 199L)
    SnapshotManifest.deleteWhereMoR(spark, root2,
      $"id".between(0, 50), maxDvPositions = 10)
    val got2 = SnapshotManifest.read(spark, root2)
    assert(got2.count() == 148L)
    assert(got2.filter($"id" === 199L || $"id" <= 50).count() == 0L)
  }

  test("fat MoR update and merge degrade to their CoW twins past maxDvPositions") {
    val root = newTable()
    val v1 = SnapshotManifest.updateWhereMoR(spark, root, $"id".between(0, 50),
      Map("v" -> ($"v" * -1)), Seq("id"), maxDvPositions = 10)
    assert(v1 == 1L)
    assert(!SnapshotManifest.manifestBody(spark, root, 1L).exists(_.contains("dv=")))
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 200L)
    assert(got.filter($"id" === 20L).head().getAs[Long]("v") == -200L)

    val root2 = newTable()
    val staged = spark.range(0, 40).toDF("id").withColumn("v", lit(-7L))
    val v2 = Upsert.mergeWhereMoR(spark, root2, staged, Seq("id"), Seq("id"),
      maxDvPositions = 10)
    assert(v2 == 1L)
    assert(!SnapshotManifest.manifestBody(spark, root2, 1L).exists(_.contains("dv=")))
    val got2 = SnapshotManifest.read(spark, root2)
    assert(got2.count() == 200L)
    assert(got2.filter($"v" === -7L).count() == 40L)
  }

  test("DV read mask: a position filter when small, a shuffle anti-join when fat") {
    val root = newTable()
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 20))
    def plan(): String =
      SnapshotManifest.read(spark, root).queryExecution.executedPlan.toString
    // default threshold (32 MB): the churn-sized sidecar is read on the
    // driver and masks the scan by a row-position filter, with no join
    val small = plan()
    assert(!small.contains("Join") && small.contains("INSET"), small)
    assert(SnapshotManifest.read(spark, root).count() == 189L)
    // force the fat-DV regime: 1-byte threshold drops OUR broadcast hint,
    // and (since the test sidecar is physically tiny) autoBroadcast=-1
    // stands in for Catalyst's own size estimate rejecting a fat build
    // side — the strategy a real multi-GB sidecar would get
    spark.conf.set("graft.dv.broadcastBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fat = plan()
      assert(!fat.contains("BroadcastHashJoin"), fat)
      assert(fat.contains("SortMergeJoin") || fat.contains("ShuffledHashJoin"), fat)
      // results identical either way
      assert(SnapshotManifest.read(spark, root).count() == 189L)
    } finally {
      spark.conf.unset("graft.dv.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    assert(SnapshotManifest.read(spark, root).count() == 189L)
  }
}
