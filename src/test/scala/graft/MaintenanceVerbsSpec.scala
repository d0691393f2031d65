package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{ConcurrentCommitException, SnapshotManifest}

/** Timestamp time travel and the vacuum dry-run. */
class MaintenanceVerbsSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("maint").toString

  test("readAsOf answers the snapshot current at the timestamp") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((1L, "a")).toDF("id", "x"))
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    SnapshotManifest.commit(spark, root, Seq((1L, "b")).toDF("id", "x"))
    assert(SnapshotManifest.versionAsOf(spark, root, between).contains(0L))
    assert(SnapshotManifest.readAsOf(spark, root, between)
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(SnapshotManifest.readAsOf(spark, root, System.currentTimeMillis())
      .as[(Long, String)].collect().toSeq == Seq((1L, "b")))
    // predating the first commit: no version, loud read
    assert(SnapshotManifest.versionAsOf(spark, root, between - 60000).isEmpty)
    intercept[IllegalStateException] {
      SnapshotManifest.readAsOf(spark, root, between - 60000)
    }
  }

  test("compactSmallFiles rewrites ONLY the ingest tail; the healthy bulk carries verbatim") {
    val root = newRoot()
    // 2 BIG files (20k rows each, well past the threshold)
    SnapshotManifest.commit(spark, root,
      spark.range(0, 40000).toDF("id")
        .withColumn("x", concat(lit("padpadpadpadpad"), col("id")))
        .repartitionByRange(2, col("id")), Seq("id"))
    // 4 SMALL straggler appends (the micro-batch ingest tail)
    (0 until 4).foreach { i =>
      SnapshotManifest.appendRows(spark, root,
        spark.range(100000L + i * 10, 100000L + i * 10 + 10).toDF("id")
          .withColumn("x", lit(s"tail$i")).repartition(1), Seq("id"))
    }
    val before = SnapshotManifest.manifestBody(spark, root, 4L)
    val bigLines = before.filter { l =>
      val p = new Path(SnapshotManifest.bodyFile(root, l))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen >= 64 * 1024
    }
    assert(bigLines.size == 2 && before.size == 6)
    val v = SnapshotManifest.compactSmallFiles(spark, root,
      smallBytes = 64 * 1024, targetBytes = 512L * 1024 * 1024)
    assert(v.contains(5L))
    val after = SnapshotManifest.manifestBody(spark, root, 5L)
    // the two big lines survive byte-for-byte; the 4 small files became 1
    bigLines.foreach(l => assert(after.contains(l), "big line was rewritten"))
    assert(after.size == 3, s"expected 2 big + 1 compacted, got ${after.size}")
    // content intact, stats still prune
    assert(SnapshotManifest.read(spark, root).count() == 40040L)
    assert(SnapshotManifest.read(spark, root)
      .filter(col("x") === "tail2").count() == 10L)
    assert(SnapshotManifest.prunedFiles(spark, root, 5L,
      col("id") === 5L).size == 1)
    // the remaining single small file is below minSmallFiles: no-op
    assert(SnapshotManifest.compactSmallFiles(spark, root,
      smallBytes = 64 * 1024).isEmpty)
    assert(SnapshotManifest.currentVersion(spark, root).contains(5L))
  }

  test("retryOnConflict: only lost races retry, to maxAttempts; verbs compose") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    def retry[A](verb: => A): A = SnapshotManifest.retryOnConflict(
      maxAttempts = 3, sleep = d => sleeps += d.toSeconds)(verb)
    // a lost race re-runs the verb up to maxAttempts, then rethrows the
    // last loss; the default backoff is linear in whole seconds
    var attempts = 0
    intercept[ConcurrentCommitException] {
      retry { attempts += 1; throw new ConcurrentCommitException("lost") }
    }
    assert(attempts == 3 && sleeps == Seq(1L, 2L))
    // a loss that a later attempt wins returns the winner's value
    attempts = 0; sleeps.clear()
    assert(retry {
      attempts += 1
      if (attempts < 2) throw new ConcurrentCommitException("lost")
      attempts
    } == 2 && sleeps == Seq(1L))
    // any other failure propagates on the FIRST attempt, with no sleep
    attempts = 0; sleeps.clear()
    intercept[IllegalStateException] {
      retry { attempts += 1; throw new IllegalStateException("broken frame") }
    }
    assert(attempts == 1 && sleeps.isEmpty)
    // the metadata verbs compose under it end to end
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      (1L to 20L).map(i => (i, i * 1.5)).toDF("id", "x"))
    retry(SnapshotManifest.setPrimaryKey(spark, root, Seq("id")))
    retry(SnapshotManifest.setBloomCols(spark, root, Seq("id")))
    retry(SnapshotManifest.analyzeTable(spark, root, Seq("id", "x")))
    assert(sleeps.isEmpty)
    val v = SnapshotManifest.currentVersion(spark, root).get
    assert(SnapshotManifest.primaryKey(spark, root, v) == Seq("id"))
    assert(SnapshotManifest.bloomCols(spark, root, v) == Seq("id"))
    assert(SnapshotManifest.countRows(spark, root) == 20L)
  }

  test("vacuumPreview names exactly what vacuum then deletes, touching nothing") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      (1L to 100L).toDF("id").repartitionByRange(2, col("id")), Seq("id"))
    SnapshotManifest.deleteWhere(spark, root, col("id") < 10L, Seq("id"))
    SnapshotManifest.deleteWhere(spark, root, col("id") < 20L, Seq("id"))
    val plan = SnapshotManifest.vacuumPreview(spark, root, keep = 1)
    assert(plan.versions == Seq(0L, 1L))
    assert(!plan.isEmpty)
    // preview touched nothing: every named path still exists
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (plan.dataDirs ++ plan.dataFiles).foreach(p =>
      assert(fs.exists(new Path(p)), s"preview deleted $p"))
    assert(SnapshotManifest.hasVersion(spark, root, 0L))
    // the real vacuum reclaims exactly the plan
    assert(SnapshotManifest.vacuum(spark, root, keep = 1) == plan.versions)
    (plan.dataDirs ++ plan.dataFiles).foreach(p =>
      assert(!fs.exists(new Path(p)), s"vacuum left $p"))
    assert(!SnapshotManifest.hasVersion(spark, root, 0L))
    assert(SnapshotManifest.read(spark, root).count() == 81L)
    // an already-clean table previews empty
    assert(SnapshotManifest.vacuumPreview(spark, root, keep = 1).isEmpty)
  }
}
