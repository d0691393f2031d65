package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.SnapshotManifest

/** Vacuum reachability on twin-anchored tables: a parquet checkpoint
  * twin must not change what vacuum reclaims. The plan is pinned by
  * replaying the reachability logic in-test and comparing sets on a table
  * with real churn garbage, orphaned staging, and a doomed version chain;
  * live DV sidecars must survive, and a twin-less table vacuums to the
  * same content.
  */
class VacuumFrameSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("vacframe").toString

  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The driver path's reachability decision, replayed independently:
    * (keptDirNames, expected doomed dirs, expected swept files).
    */
  private def expectedPlan(root: String, doomed: Set[Long])
      : (Set[String], Set[String], Set[String]) = {
    def dirComp(p: Path): String = {
      var cur = p
      while (cur.getParent != null && cur.getParent.getName != "data")
        cur = cur.getParent
      cur.getName
    }
    val fs = hfs(root)
    val kept = SnapshotManifest.listVersions(spark, root)
      .filterNot(doomed.contains)
      .flatMap(v => SnapshotManifest.manifestBody(spark, root, v)
        .map(SnapshotManifest.parseLine)
        .flatMap(e => e.rel +: e.dvRel.toSeq)
        .map { rel => val p = new Path(rel); (dirComp(p), p.getName) })
      .toSet
    val keptDirs = kept.map(_._1)
    val dataRoot = new Path(root, "data")
    val dirs = scala.collection.mutable.Set[String]()
    val files = scala.collection.mutable.Set[String]()
    fs.listStatus(dataRoot).foreach { s =>
      if (s.isDirectory && !keptDirs.contains(s.getPath.getName))
        dirs += s.getPath.toString
      else if (s.isDirectory) {
        val it = fs.listFiles(s.getPath, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
              !kept.contains((s.getPath.getName, f.getPath.getName)))
            files += f.getPath.toString
        }
      }
    }
    (keptDirs, dirs.toSet, files.toSet)
  }

  test("twin-anchored vacuum plan ≡ the driver reachability replay") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "100")
    try {
      // v0: 200 real files with id stats — above the twin floor
      SnapshotManifest.commit(spark, root,
        spark.range(0, 1000).toDF("id").withColumn("x", concat(lit("v"), col("id")))
          .repartitionByRange(200, col("id")),
        Seq("id"))
      assert(hfs(root).exists(new Path(root, "_ckpt/v00000000")),
        "the 200-file boundary commit must write its twin")
      // churn: three single-key merges, each rewrites one file — the old
      // copies become garbage inside v0's (kept) dir once v0..v2 doom
      (1L to 3L).foreach { i =>
        graft.operators.Upsert.mergeWhere(spark, root,
          Seq((i * 100, s"w$i")).toDF("id", "x"), Seq("id"), Seq("id"))
      }
      // orphaned staging: a crashed commit's dir — reachability must doom it
      val orphan = new Path(root, "data/zz-orphan-stage")
      hfs(root).mkdirs(orphan)
      val of = hfs(root).create(new Path(orphan, "crashed.parquet"))
      of.write(Array[Byte](1, 2, 3)); of.close()

      val preState = SnapshotManifest.read(spark, root)
        .as[(Long, String)].collect().toMap

      // doomed with keep=1/minAge=0: everything but the current version
      val doomed = SnapshotManifest.listVersions(spark, root).dropRight(1).toSet
      val (_, expDirs, expFiles) = expectedPlan(root, doomed)
      assert(expFiles.nonEmpty, "fixture must produce file-level garbage")
      assert(expDirs.exists(_.contains("zz-orphan-stage")),
        "fixture must produce an orphaned dir")

      val plan = SnapshotManifest.vacuumPreview(spark, root, keep = 1)
      assert(plan.versions.toSet == doomed)
      assert(plan.dataDirs.toSet == expDirs,
        s"dir sweep diverged: got ${plan.dataDirs}, expected $expDirs")
      assert(plan.dataFiles.toSet == expFiles,
        s"file sweep diverged: got ${plan.dataFiles}, expected $expFiles")

      // the real vacuum executes the same plan; the table survives intact
      val swept = SnapshotManifest.vacuum(spark, root, keep = 1)
      assert(swept.toSet == doomed)
      assert(!hfs(root).exists(orphan), "orphaned staging must be reclaimed")
      expFiles.foreach(f => assert(!hfs(root).exists(new Path(f)),
        s"garbage file $f must be reclaimed"))
      val got = SnapshotManifest.read(spark, root)
        .as[(Long, String)].collect().toMap
      assert(got == preState, "vacuum must not change the table's content")
      assert(got(100L) == "w1" && got(300L) == "w3" && got(0L) == "v0")
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("sub-floor (twin-less) tables vacuum to the same content") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 50).toDF("id").withColumn("x", lit("a"))
        .repartitionByRange(5, col("id")), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((7L, "b")).toDF("id", "x"), Seq("id"), Seq("id"))
    val swept = SnapshotManifest.vacuum(spark, root, keep = 1)
    assert(swept == Seq(0L))
    val got = SnapshotManifest.read(spark, root).as[(Long, String)].collect().toMap
    assert(got(7L) == "b" && got.size == 50)
  }

  test("DV sidecars stay reachable on a twin-anchored table") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "100")
    try {
      SnapshotManifest.commit(spark, root,
        spark.range(0, 1000).toDF("id").withColumn("x", lit("a"))
          .repartitionByRange(150, col("id")), Seq("id"))
      // MoR delete → a DV sidecar parquet the sweep must NOT reclaim
      SnapshotManifest.deleteWhereMoR(spark, root, col("id").between(10, 20))
      val plan = SnapshotManifest.vacuumPreview(spark, root, keep = 1)
      assert(!plan.dataFiles.exists(_.contains("-dv-")) &&
        !plan.dataDirs.exists(_.contains("-dv-")),
        s"live DV sidecar must not be swept: ${plan.dataDirs} ${plan.dataFiles}")
      SnapshotManifest.vacuum(spark, root, keep = 1)
      assert(SnapshotManifest.read(spark, root).count() == 989L,
        "MoR-deleted rows must stay deleted after vacuum — the DV survived")
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }
}
