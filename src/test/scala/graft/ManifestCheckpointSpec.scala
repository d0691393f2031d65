package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{CommitProtocol, SnapshotManifest}

/** Delta manifests + checkpoint cadence: commits write churn-sized deltas
  * against the previous version, full (checkpoint) manifests land every
  * `graft.manifest.checkpointInterval` versions, reads resolve through a
  * bounded chain, and vacuum rewrites retained deltas to full before
  * reclaiming their base. The 100-TB posture: a 10⁵-file table must not
  * re-write — nor a metadata verb re-parse — one giant file list per
  * commit.
  */
class ManifestCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("ckpt").toString

  private def rawManifest(root: String, v: Long): String = {
    val p = new Path(root, f"manifest-$v%08d.json")
    CommitProtocol.readFully(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  test("1k files across 50 versions: deltas are churn-sized, reads resolve via checkpoint + bounded tail") {
    val root = newRoot()
    // v0: a checkpoint-sized table — 1000 single-row files with id stats
    SnapshotManifest.commit(spark, root,
      spark.range(0, 1000).toDF("id").withColumn("x", concat(lit("v"), col("id")))
        .repartitionByRange(1000, col("id")),
      Seq("id"))
    assert(SnapshotManifest.snapshotFiles(spark, root, 0L).size == 1000)
    // 49 single-key churn commits → 50 versions
    (1L to 49L).foreach { i =>
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((i, s"w$i")).toDF("id", "x"), Seq("id"), Seq("id"))
    }
    assert(SnapshotManifest.currentVersion(spark, root).contains(49L))
    // non-checkpoint manifests are CHURN-sized (a one-file rewrite is a
    // `-` + two `+` lines + headers), not 1000-line re-lists
    val delta = rawManifest(root, 49L)
    assert(delta.contains("base=48"))
    assert(delta.linesIterator.size < 10,
      s"delta manifest should be churn-sized, got ${delta.linesIterator.size} lines")
    // checkpoint cadence: every interval-th version is FULL (chain anchor)
    Seq(0L, 10L, 20L, 30L, 40L).foreach { v =>
      assert(!rawManifest(root, v).contains("base="), s"version $v must be a checkpoint")
    }
    assert(rawManifest(root, 40L).linesIterator.size >= 1000)
    // a read of the current version walks at most checkpoint + tail
    SnapshotManifest.manifestReadCount.set(0L)
    val body = SnapshotManifest.manifestBody(spark, root, 49L)
    assert(SnapshotManifest.manifestReadCount.get() <= 10L,
      s"read resolved through ${SnapshotManifest.manifestReadCount.get()} manifests")
    assert(body.size == 1000)
    // and the resolved state is exactly the churned table
    val got = SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(got.size == 1000)
    (1L to 49L).foreach(i => assert(got(i) == s"w$i"))
    assert(got(0L) == "v0" && got(999L) == "v999")
    // cross the v50 checkpoint boundary, then verify a metadata-only verb
    // stays O(1) on the wide table: declaring a pk writes a base pointer +
    // headers, not a thousand-line copy
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((0L, "w0")).toDF("id", "x"), Seq("id"), Seq("id"))
    assert(!rawManifest(root, 50L).contains("base="), "v50 is a checkpoint")
    SnapshotManifest.setPrimaryKey(spark, root, Seq("id"))
    val metaOnly = rawManifest(root, 51L)
    assert(metaOnly.contains("base=50") && metaOnly.linesIterator.size < 5)
  }

  test("vacuum rewrites retained deltas to full before reclaiming their base") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 50).toDF("id").withColumn("x", lit("a"))
        .repartitionByRange(5, col("id")), Seq("id"))
    (1L to 6L).foreach { i =>
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((i, s"w$i")).toDF("id", "x"), Seq("id"), Seq("id"))
    }
    // versions 0..6; v1..v6 are deltas chaining back to the v0 checkpoint
    assert(rawManifest(root, 5L).contains("base=4"))
    val expected = SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toSet
    // vacuum reclaims 0..3 — the bases of the retained 4..6 chain. The
    // chain guard must rewrite v4 (and only what is needed) to full form
    // BEFORE deletion, keeping every retained version readable.
    val fsPath = new Path(root, f"manifest-${4L}%08d.json")
    val hfs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val publishedAt = hfs.getFileStatus(fsPath).getModificationTime
    assert(SnapshotManifest.vacuum(spark, root, keep = 3) == Seq(0L, 1L, 2L, 3L))
    assert(!rawManifest(root, 4L).contains("base="), "v4 must be checkpointed")
    // the rewrite preserves the PUBLISH instant — versionAsOf time-travel
    // resolves by manifest mtime, so v4's original as-of window survives
    assert(hfs.getFileStatus(fsPath).getModificationTime == publishedAt)
    assert(rawManifest(root, 5L).contains("base=4"), "v5 keeps its (now-anchored) delta form")
    Seq(4L, 5L, 6L).foreach { v =>
      assert(SnapshotManifest.readVersion(spark, root, v).count() == 50L)
    }
    assert(SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toSet == expected)
    // life goes on: the next commit deltas against the surviving chain
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((7L, "w7")).toDF("id", "x"), Seq("id"), Seq("id"))
    assert(SnapshotManifest.read(spark, root)
      .filter(col("id") === 7L).as[(Long, String)].head()._2 == "w7")
  }

  test("partition-declared tables chain deltas too: partition= is a header key, vacuum's guard still rewrites") {
    val root = newRoot()
    // the r10 regression: the delta header carries partition= BEFORE
    // base=, and manifestBase's header scan stopped there — every delta of
    // a partitioned table was misread as FULL, so vacuum never rewrote a
    // retained delta and deleted its base out from under it
    // grp aligned with id RANGES so a single-key merge rewrites one file
    // (id%4 would overlap every file's id range → full-body rewrites →
    // the size heuristic would emit full manifests, not deltas)
    SnapshotManifest.commit(spark, root,
      spark.range(0, 40).toDF("id").withColumn("x", lit("a"))
        .withColumn("grp", floor(col("id") / 10L)), Seq("id"), Nil, Seq("grp"))
    (1L to 4L).foreach { i =>
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((i, s"w$i", i / 10L)).toDF("id", "x", "grp"), Seq("id"), Seq("id"))
    }
    assert(rawManifest(root, 3L).contains("base=2"))
    assert(SnapshotManifest.manifestIsDelta(spark, root, 3L),
      "a partitioned table's delta must be RECOGNIZED as one")
    val expected = SnapshotManifest.read(spark, root)
      .select(col("id"), col("x")).as[(Long, String)].collect().toSet
    assert(SnapshotManifest.vacuum(spark, root, keep = 2) == Seq(0L, 1L, 2L))
    assert(!rawManifest(root, 3L).contains("base="),
      "v3 must be checkpointed by the chain guard before its base died")
    assert(SnapshotManifest.read(spark, root)
      .select(col("id"), col("x")).as[(Long, String)].collect().toSet == expected)
    assert(SnapshotManifest.partitionColumns(spark, root, 4L) == Seq("grp"))
  }

  test("a chain-guard swap interrupted mid-flight recovers from the durable sidecar") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 30).toDF("id").withColumn("x", lit("a"))
        .repartitionByRange(3, col("id")), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((1L, "b")).toDF("id", "x"), Seq("id"), Seq("id"))
    val expected = SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toSet
    // simulate the crash window of the delta→full rewrite: the manifest is
    // deleted, the deterministic sidecar holds the version's full text
    val mf = new Path(root, f"manifest-${1L}%08d.json")
    val hfs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val publishedAt = hfs.getFileStatus(mf).getModificationTime
    val side = new Path(root, f"manifest-${1L}%08d.json.rewrite-$publishedAt%d")
    assert(hfs.rename(mf, side))
    // the version is still listed, the first read completes the swap, and
    // the publish instant (time-travel's mtime key) survives recovery
    assert(SnapshotManifest.currentVersion(spark, root).contains(1L))
    assert(SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toSet == expected)
    assert(hfs.exists(mf) && !hfs.exists(side))
    assert(hfs.getFileStatus(mf).getModificationTime == publishedAt)
    // a STALE sidecar (manifest present) is swept by the next vacuum once
    // past the in-flight age gate (a FRESH one may be a concurrent swap's
    // durable copy and must be left alone)
    val stale = new Path(root, f"manifest-${1L}%08d.json.rewrite-12345")
    val out = hfs.create(stale, true); out.write("junk".getBytes("UTF-8")); out.close()
    SnapshotManifest.vacuum(spark, root, keep = 10)
    assert(hfs.exists(stale), "fresh sidecar must survive the age gate")
    hfs.setTimes(stale, System.currentTimeMillis() - 11L * 60 * 1000, -1)
    SnapshotManifest.vacuum(spark, root, keep = 10)
    assert(!hfs.exists(stale))
    assert(SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toSet == expected)
  }

  test("a doomed version's orphaned rewrite sidecar dies with its manifest — no resurrection") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 20).toDF("id").withColumn("x", lit("a"))
        .repartitionByRange(2, col("id")), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((1L, "b")).toDF("id", "x"), Seq("id"), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((2L, "c")).toDF("id", "x"), Seq("id"), Seq("id"))
    // simulate a chain-guard swap that crashed BEFORE its rename while v1
    // was still retained: the manifest is intact and a FRESH sidecar holds
    // a durable copy. The age gate rightly keeps the young sidecar alive —
    // so when v1 later becomes doomed, vacuum must delete the sidecar WITH
    // the manifest, or the next recovery pass renames it back and
    // resurrects a version whose data files were just swept.
    val mf1 = new Path(root, f"manifest-${1L}%08d.json")
    val hfs = mf1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val publishedAt = hfs.getFileStatus(mf1).getModificationTime
    val side = new Path(root, f"manifest-${1L}%08d.json.rewrite-$publishedAt%d")
    org.apache.hadoop.fs.FileUtil.copy(hfs, mf1, hfs, side, false,
      spark.sparkContext.hadoopConfiguration)
    val expected = SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toSet
    SnapshotManifest.vacuum(spark, root, keep = 1)
    assert(!hfs.exists(side), "the doomed version's sidecar must be reclaimed")
    assert(SnapshotManifest.listVersions(spark, root) == Seq(2L))
    // a recovery pass (any read) must NOT bring v1 back
    assert(SnapshotManifest.read(spark, root)
      .as[(Long, String)].collect().toSet == expected)
    assert(SnapshotManifest.listVersions(spark, root) == Seq(2L))
  }

  test("interval=1 disables deltas entirely; resolution is format-compatible either way") {
    val root = newRoot()
    def baseCommit() = SnapshotManifest.commit(spark, root,
      spark.range(0, 40).toDF("id").withColumn("x", lit("a"))
        .repartitionByRange(4, col("id")), Seq("id"))
    spark.conf.set("graft.manifest.checkpointInterval", "1")
    try {
      baseCommit()
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((1L, "a2")).toDF("id", "x"), Seq("id"), Seq("id"))
      assert(!rawManifest(root, 1L).contains("base="))
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
    // flip the conf mid-table: new commits delta against the full history
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((2L, "b2")).toDF("id", "x"), Seq("id"), Seq("id"))
    assert(rawManifest(root, 2L).contains("base=1"))
    val got = SnapshotManifest.read(spark, root).as[(Long, String)].collect().toMap
    assert(got.size == 40 && got(1L) == "a2" && got(2L) == "b2" && got(3L) == "a")
    // a delta never beats full on a tiny table: the size heuristic falls
    // back to full form when the churn touches most of the body
    val tiny = newRoot()
    SnapshotManifest.commit(spark, tiny, Seq((1L, "a")).toDF("id", "x"), Seq("id"))
    graft.operators.Upsert.mergeWhere(spark, tiny,
      Seq((1L, "a2")).toDF("id", "x"), Seq("id"), Seq("id"))
    assert(!rawManifest(tiny, 1L).contains("base="))
  }

  test("10k-file table: pruned reads resolve DISTRIBUTED through the parquet checkpoint twin — the driver never materializes the body") {
    import graft.sources.ManifestStats
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "100")
    try {
      // synthetic 10k-line body: file i covers id in [10i, 10i+9]. The
      // pruned read never opens data files (stats from the manifest,
      // schema recorded in the header), so the files need not exist —
      // what's under test is the METADATA path.
      def line(i: Int) = f"data/v00000000/part-$i%05d.parquet\t" +
        ManifestStats.toJson(ManifestStats.FileStats(10L, Map("id" ->
          ManifestStats.ColStats(Some(BigDecimal(i * 10L)),
            Some(BigDecimal(i * 10L + 9)), 0L))))
      val schema = StructType(Seq(StructField("id", LongType)))
      val meta = SnapshotManifest.TableMeta(Some(schema), Nil)
      val v0 = (0 until 10000).map(line)
      SnapshotManifest.publishLines(spark, root, 0L, v0, "spec", meta)
      val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(hfs.exists(new Path(root, "_ckpt/v00000000")),
        "boundary publish above the floor must write the parquet twin")
      // churn-sized deltas on top: v1 drops five files, v2 re-stats one,
      // v3 adds a fresh file covering a distinctive range
      val v1 = v0.drop(5)
      SnapshotManifest.publishLines(spark, root, 1L, v1, "spec", meta)
      val v2 = v1.updated(0, f"data/v00000000/part-${5}%05d.parquet\t" +
        ManifestStats.toJson(ManifestStats.FileStats(10L, Map("id" ->
          ManifestStats.ColStats(Some(BigDecimal(1000000L)),
            Some(BigDecimal(1000009L)), 0L)))))
      SnapshotManifest.publishLines(spark, root, 2L, v2, "spec", meta)
      val v3 = v2 :+ ("data/v00000003/extra.parquet\t" +
        ManifestStats.toJson(ManifestStats.FileStats(3L, Map("id" ->
          ManifestStats.ColStats(Some(BigDecimal(2000000L)),
            Some(BigDecimal(2000002L)), 0L)))))
      SnapshotManifest.publishLines(spark, root, 3L, v3, "spec", meta)
      assert(rawManifest(root, 3L).contains("base=2"), "v3 must be a delta")
      // THE design-point assertion: a stats-pruned read of the current
      // (delta) version runs on executors over checkpoint + tails; the
      // driver parses NO manifest body (manifestReadCount stays 0 — not
      // even a cache fill) and receives only the survivors
      SnapshotManifest.manifestReadCount.set(0L)
      SnapshotManifest.ckptFramePrunes.set(0L)
      val one = SnapshotManifest.prunedFiles(spark, root, 3L,
        col("id") === 55555L)
      assert(one.map(new Path(_).getName) == Seq("part-05555.parquet"))
      assert(SnapshotManifest.ckptFramePrunes.get() == 1L,
        "the pruned read must have taken the distributed checkpoint-frame path")
      assert(SnapshotManifest.manifestReadCount.get() == 0L,
        "the driver must not materialize the body for a pruned read")
      // delta edits are visible THROUGH the frame: the dropped files are
      // gone, the re-statted file answers its new range (and not its
      // old), the added file answers its range
      assert(SnapshotManifest.prunedFiles(spark, root, 3L,
        col("id") === 12L).isEmpty, "v1-dropped file must not resurface")
      assert(SnapshotManifest.prunedFiles(spark, root, 3L,
        col("id") === 1000005L).map(new Path(_).getName) ==
        Seq("part-00005.parquet"))
      assert(SnapshotManifest.prunedFiles(spark, root, 3L,
        col("id") === 55L).isEmpty, "re-statted file must not answer its old range")
      assert(SnapshotManifest.prunedFiles(spark, root, 3L,
        col("id") === 2000001L).map(new Path(_).getName) == Seq("extra.parquet"))
      // and a range predicate keeps exactly the covering files (ids
      // 100..250 live in files 10..25 of the synthetic layout)
      SnapshotManifest.ckptFramePrunes.set(0L)
      val wide = SnapshotManifest.prunedFiles(spark, root, 3L,
        col("id").between(100L, 250L))
      assert(SnapshotManifest.ckptFramePrunes.get() == 1L)
      assert(wide.map(new Path(_).getName).toSet ==
        (10 to 25).map(i => f"part-$i%05d.parquet").toSet)
      // countRows folds the recorded stats on the driver: 10k files x 10
      // rows, minus the five dropped, plus the 3-row added file
      assert(SnapshotManifest.countRows(spark, root) == 99953L)
      // vacuum's chain-guard rewrite leaves v3 as an OFF-BOUNDARY full
      // anchor — it must carry a twin, and pruned reads must stay on the
      // distributed path afterwards
      assert(SnapshotManifest.vacuum(spark, root, keep = 1) == Seq(0L, 1L, 2L))
      assert(hfs.exists(new Path(root, "_ckpt/v00000003")),
        "the chain-guard rewrite must twin its off-boundary full anchor")
      assert(!hfs.exists(new Path(root, "_ckpt/v00000000")),
        "the doomed boundary's twin must be reclaimed")
      SnapshotManifest.manifestReadCount.set(0L)
      SnapshotManifest.ckptFramePrunes.set(0L)
      assert(SnapshotManifest.prunedFiles(spark, root, 3L,
        col("id") === 2000001L).map(new Path(_).getName) == Seq("extra.parquet"))
      assert(SnapshotManifest.ckptFramePrunes.get() == 1L &&
        SnapshotManifest.manifestReadCount.get() == 0L,
        "post-vacuum pruned reads must still resolve distributed")
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("readWhere through the checkpoint twin equals the driver path on a real table; vacuum reclaims twins") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "2")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "50")
    try {
      // v0 (boundary): 150 real range-clustered files with id stats
      SnapshotManifest.commit(spark, root,
        spark.range(0, 15000).toDF("id")
          .withColumn("x", concat(lit("r"), col("id")))
          .repartitionByRange(150, col("id")), Seq("id"))
      assert(new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(root, "_ckpt/v00000000")))
      // churn: v1 delta (merge), v2 boundary (full + twin), v3 delta
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((7L, "m7")).toDF("id", "x"), Seq("id"), Seq("id"))
      SnapshotManifest.deleteWhere(spark, root, col("id").between(200L, 299L))
      SnapshotManifest.appendRows(spark, root,
        Seq((20000L, "a0"), (20001L, "a1")).toDF("id", "x"), Seq("id"))
      val expected = SnapshotManifest.read(spark, root)
        .filter(col("id").between(150L, 400L) || col("id") >= 20000L)
        .as[(Long, String)].collect().toSet
      SnapshotManifest.ckptFramePrunes.set(0L)
      val got = SnapshotManifest.readWhere(spark, root,
        col("id").between(150L, 400L) || col("id") >= 20000L)
        .as[(Long, String)].collect().toSet
      assert(SnapshotManifest.ckptFramePrunes.get() >= 1L,
        "readWhere must have pruned through the checkpoint frame")
      assert(got == expected && got.nonEmpty)
      assert(got.exists(_._1 >= 20000L), "delta-appended rows must be served")
      assert(!got.exists(t => t._1 >= 200L && t._1 <= 299L))
      // vacuum reclaims the doomed versions' twins with their manifests
      val reclaimed = SnapshotManifest.vacuum(spark, root, keep = 1)
      assert(reclaimed.contains(0L))
      val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!hfs.exists(new Path(root, "_ckpt/v00000000")),
        "vacuumed version's parquet twin must be reclaimed")
      assert(SnapshotManifest.readWhere(spark, root, col("id") === 7L)
        .as[(Long, String)].collect().toSet == Set((7L, "m7")))
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("appends on a twin-anchored table publish churn-bounded edits — the driver never materializes the body") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "50")
    try {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // v0 boundary: 1000 real files with id stats → parquet twin
      SnapshotManifest.commit(spark, root,
        spark.range(0, 10000).toDF("id")
          .withColumn("x", concat(lit("v"), col("id")))
          .repartitionByRange(1000, col("id")), Seq("id"))
      assert(fs.exists(new Path(root, "_ckpt/v00000000")))
      SnapshotManifest.manifestReadCount.set(0L)
      val e0 = SnapshotManifest.editsPublishes.get()
      // v1-v3 off-boundary: delta-composed edits publishes
      SnapshotManifest.appendRows(spark, root,
        Seq((20000L, "a0")).toDF("id", "x"), Seq("id"))
      SnapshotManifest.appendRowsWithRetry(spark, root,
        Seq((20001L, "a1")).toDF("id", "x"), Seq("id"))
      SnapshotManifest.appendRowsIdempotent(spark, root,
        Seq((20002L, "a2")).toDF("id", "x"), "app", 1L, Seq("id"))
      // v4 BOUNDARY: full manifest STREAMED from the composed frame + a
      // fresh twin — still no driver body
      SnapshotManifest.appendRows(spark, root,
        Seq((20003L, "a3")).toDF("id", "x"), Seq("id"))
      assert(SnapshotManifest.editsPublishes.get() - e0 == 4L,
        "all four appends must take the churn-bounded edits path")
      assert(SnapshotManifest.manifestReadCount.get() == 0L,
        "the append path materialized the full body on the driver")
      assert(fs.exists(new Path(root, "_ckpt/v00000004")),
        "the boundary append must twin its streamed full manifest")
      // exactly-once replay skips from the HEADER alone
      assert(SnapshotManifest.appendRowsIdempotent(spark, root,
        Seq((20002L, "dup")).toDF("id", "x"), "app", 1L, Seq("id")) == 4L)
      assert(SnapshotManifest.manifestReadCount.get() == 0L,
        "the idempotent skip-check must not resolve the body")
      // manifest shapes: churn-sized deltas off-boundary, full at v4
      assert(rawManifest(root, 1L).contains("base=0"))
      assert(rawManifest(root, 1L).linesIterator.size < 10)
      assert(!rawManifest(root, 4L).contains("base="), "v4 must be a boundary full")
      assert(rawManifest(root, 4L).linesIterator.size >= 1000)
      // correctness: the resolved table serves every append exactly once
      val appended = SnapshotManifest.read(spark, root)
        .filter(col("id") >= 20000L).as[(Long, String)].collect().toSet
      assert(appended == Set((20000L, "a0"), (20001L, "a1"),
        (20002L, "a2"), (20003L, "a3")))
      assert(SnapshotManifest.read(spark, root).count() == 10004L)
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("broad-edit fallback: the full-vs-delta probe engages at broadEditProbeFloor, not the twin floor") {
    // (a) under the probe floor (1024 ops): a broad-but-sub-floor DML
    //     keeps the delta form and pays no probe job, even on a
    //     twin-floor-1 table — the twin floor is a test knob, not the
    //     probe threshold
    val rootA = newRoot()
    // (b) past the probe floor: 1100 files rewritten remove 1100 lines,
    //     so the same DML streams a FULL manifest because its delta would
    //     not be smaller than the body
    val rootB = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "8")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "1")
    try {
      def bootstrap(root: String, files: Int): Unit = SnapshotManifest.commit(spark, root,
        spark.range(0, files).toDF("id").withColumn("x", lit(1L))
          .repartitionByRange(files, col("id")), Seq("id"))
      def broadUpdate(root: String): Unit = {
        SnapshotManifest.updateWhere(spark, root, col("id") >= 0L,
          Map("x" -> (col("x") + 1L)), Seq("id"))
        ()
      }
      bootstrap(rootA, 100); broadUpdate(rootA)
      assert(rawManifest(rootA, 1L).contains("base=0"),
        "sub-floor broad edit must keep the churn delta form")
      bootstrap(rootB, 1100)
      assert(SnapshotManifest.snapshotFiles(spark, rootB, 0L).size == 1100)
      broadUpdate(rootB)
      assert(!rawManifest(rootB, 1L).contains("base="),
        "a broad edit past the probe floor must stream a full manifest " +
          "(its delta would not be smaller than the body)")
      // both forms resolve to the identical updated table
      for ((root, n) <- Seq(rootA -> 100L, rootB -> 1100L)) {
        val out = SnapshotManifest.read(spark, root)
        assert(out.count() == n && out.filter(col("x") =!= 2L).isEmpty)
      }
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("CoW DML and keyed MERGE on a twin-anchored table publish churn-bounded edits") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "50")
    try {
      SnapshotManifest.commit(spark, root,
        spark.range(0, 10000).toDF("id")
          .withColumn("x", concat(lit("v"), col("id")))
          .repartitionByRange(1000, col("id")), Seq("id"))
      SnapshotManifest.manifestReadCount.set(0L)
      val e0 = SnapshotManifest.editsPublishes.get()
      // v1: CoW delete — executors classify, the driver sees only the
      // churn; the delete spans ~10 single-digit-row files
      SnapshotManifest.deleteWhere(spark, root,
        col("id").between(100L, 199L), Seq("id"))
      // v2: CoW update over a narrow range
      SnapshotManifest.updateWhere(spark, root,
        col("id").between(300L, 309L), Map("x" -> lit("upd")), Seq("id"))
      // v3: keyed MERGE — two updates + one insert
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((500L, "m500"), (501L, "m501"), (20000L, "ins")).toDF("id", "x"),
        Seq("id"), Seq("id"))
      assert(SnapshotManifest.editsPublishes.get() - e0 == 3L,
        "all three DML verbs must take the churn-bounded edits path")
      assert(SnapshotManifest.manifestReadCount.get() == 0L,
        "a DML verb materialized the full body on the driver")
      Seq(1L, 2L, 3L).foreach { dv =>
        assert(rawManifest(root, dv).contains(s"base=${dv - 1}"))
        assert(rawManifest(root, dv).linesIterator.size < 40,
          s"v$dv must be churn-sized")
      }
      // correctness against first principles
      val t = SnapshotManifest.read(spark, root)
      assert(t.count() == 10000L - 100L + 1L)
      assert(t.filter(col("id").between(100L, 199L)).isEmpty)
      assert(t.filter(col("id").between(300L, 309L))
        .select("x").as[String].collect().forall(_ == "upd"))
      assert(t.filter(col("id").isin(500L, 501L, 20000L))
        .as[(Long, String)].collect().toSet ==
        Set((500L, "m500"), (501L, "m501"), (20000L, "ins")))
      assert(t.filter(col("id") === 400L).as[(Long, String)].head() ==
        ((400L, "v400")))
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("pure-insert MERGE on a STATS-LESS twin-anchored table rewrites nothing") {
    // stats-less manifest lines may-match ANY predicate — the pure-insert
    // fast path must not run the classifier at all (a lit(false) probe
    // would classify — and rewrite — every stats-less file)
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "10")
    try {
      SnapshotManifest.commit(spark, root,
        spark.range(0, 200).toDF("id").withColumn("x", lit("a"))
          .repartitionByRange(20, col("id"))) // NO statsCols — stats-less
      val body0 = SnapshotManifest.manifestBody(spark, root, 0L)
      assert(body0.size == 20)
      SnapshotManifest.manifestReadCount.set(0L)
      // every staged PK is null → pure inserts (null never matches)
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((Option.empty[Long], "ins1"), (Option.empty[Long], "ins2"))
          .toDF("id", "x"), Seq("id"))
      assert(SnapshotManifest.manifestReadCount.get() == 0L,
        "the pure-insert fast path must not materialize the body")
      val body1 = SnapshotManifest.manifestBody(spark, root, 1L)
      assert(body0.toSet.subsetOf(body1.toSet),
        "a pure insert must carry every original line verbatim — " +
          "classifying stats-less files as affected rewrites the world")
      assert((body1.toSet -- body0.toSet).nonEmpty, "the insert must land")
      assert(SnapshotManifest.read(spark, root).count() == 202L)
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("edits-path rebase: two racing file-disjoint DMLs both land through the delta-tail gates") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "8")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "50")
    try {
      SnapshotManifest.commit(spark, root,
        spark.range(0, 10000).toDF("id")
          .withColumn("x", concat(lit("v"), col("id")))
          .repartitionByRange(100, col("id")), Seq("id"))
      SnapshotManifest.manifestReadCount.set(0L)
      // interleave: both verbs observe v0, stage against it, then race the
      // publish — the loser must REBASE through the tail gate, not re-run.
      // Simulate by pre-publishing a conflicting-version winner: run
      // deleteWhere on a DIFFERENT thread while this thread holds no lock —
      // simplest deterministic interleave: call deleteWhere twice on
      // disjoint ranges from two threads and assert both landed.
      val t1 = new Thread(() => {
        SnapshotManifest.deleteWhere(spark, root,
          col("id").between(1000L, 1099L), Seq("id")); ()
      })
      val t2 = new Thread(() => {
        SnapshotManifest.deleteWhere(spark, root,
          col("id").between(5000L, 5099L), Seq("id")); ()
      })
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(SnapshotManifest.currentVersion(spark, root).contains(2L),
        "both racing deletes must commit (one directly, one rebased)")
      assert(SnapshotManifest.manifestReadCount.get() == 0L,
        "the rebase path materialized a body on the driver")
      val t = SnapshotManifest.read(spark, root)
      assert(t.count() == 10000L - 200L)
      assert(t.filter(col("id").between(1000L, 1099L)).isEmpty)
      assert(t.filter(col("id").between(5000L, 5099L)).isEmpty)
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("a crash-recovered chain-guard rewrite twins its anchor — pruned reads stay distributed") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "50")
    try {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      SnapshotManifest.commit(spark, root,
        spark.range(0, 10000).toDF("id")
          .withColumn("x", concat(lit("v"), col("id")))
          .repartitionByRange(1000, col("id")), Seq("id"))
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((5L, "m5")).toDF("id", "x"), Seq("id"), Seq("id"))
      // simulate the crash window of vacuum's delta→full rewrite of v1:
      // the durable sidecar holds the FULL resolved text, the manifest is
      // gone — exactly the state recovery completes
      val body = SnapshotManifest.manifestBody(spark, root, 1L)
      assert(body.size >= 1000)
      val mf = new Path(root, f"manifest-${1L}%08d.json")
      val publishedAt = fs.getFileStatus(mf).getModificationTime
      val side = new Path(root, f"manifest-${1L}%08d.json.rewrite-$publishedAt%d")
      val out = fs.create(side, false)
      out.write(("version=1\n" + body.mkString("\n") + "\n").getBytes("UTF-8"))
      out.close()
      assert(fs.delete(mf, false))
      // first read completes the swap AND (new) twins the recovered anchor
      assert(SnapshotManifest.read(spark, root).count() == 10000L)
      assert(fs.exists(new Path(root, "_ckpt/v00000001")),
        "recovery must twin the off-boundary full anchor it restores")
      // the next pruned read takes the DISTRIBUTED path off that twin
      val p0 = SnapshotManifest.ckptFramePrunes.get()
      SnapshotManifest.manifestReadCount.set(0L)
      val kept = SnapshotManifest.prunedFiles(spark, root, 1L, col("id") === 5L)
      assert(SnapshotManifest.ckptFramePrunes.get() > p0,
        "pruned read after recovery must run through the checkpoint frame")
      assert(SnapshotManifest.manifestReadCount.get() == 0L)
      assert(kept.size < 20 && kept.nonEmpty)
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("changesBetween on a twin-anchored pair diffs through the delta tail — no driver body") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "50")
    try {
      SnapshotManifest.commit(spark, root,
        spark.range(0, 10000).toDF("id")
          .withColumn("x", concat(lit("v"), col("id")))
          .repartitionByRange(1000, col("id")), Seq("id"))
      // v1: one churn commit — two updates, one insert, plus a delete
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((42L, "m42"), (43L, "m43"), (30000L, "ins")).toDF("id", "x"),
        Seq("id"), Seq("id"))
      SnapshotManifest.deleteWhere(spark, root, col("id") === 777L, Seq("id"))
      SnapshotManifest.manifestReadCount.set(0L)
      val feed = SnapshotManifest.changesBetween(spark, root, 0L, 2L, Seq("id"))
        .select(col("id"), col("x"), col("_change"))
        .as[(Long, String, String)].collect().toSet
      assert(SnapshotManifest.manifestReadCount.get() == 0L,
        "the feed diff materialized a body on the driver")
      assert(feed == Set(
        (42L, "v42", "update_preimage"), (42L, "m42", "update_postimage"),
        (43L, "v43", "update_preimage"), (43L, "m43", "update_postimage"),
        (30000L, "ins", "insert"),
        (777L, "v777", "delete")))
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("an orphaned twin (manifests recreated under a surviving _ckpt) is detected and never served") {
    val root = newRoot()
    spark.conf.set("graft.manifest.checkpointInterval", "2")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "50")
    try {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // table A: big enough to earn a twin at v0
      SnapshotManifest.commit(spark, root,
        spark.range(0, 15000).toDF("id")
          .withColumn("x", concat(lit("old"), col("id")))
          .repartitionByRange(150, col("id")), Seq("id"))
      assert(fs.exists(new Path(root, "_ckpt/v00000000")))
      // DROP AND RECREATE the table out-of-band: manifests + data go, the
      // stale _ckpt survives (the cross-process scenario PartsCache guards
      // against with (mtime,length) — here the twin must guard itself).
      // The recreate is SUB-floor (30 files < 50), so no boundary publish
      // replaces the squatting twin — detection alone protects reads.
      fs.listStatus(new Path(root)).foreach { st =>
        if (st.getPath.getName != "_ckpt") fs.delete(st.getPath, true)
      }
      SnapshotManifest.commit(spark, root,
        spark.range(0, 7000).toDF("id")
          .withColumn("x", concat(lit("new"), col("id")))
          .repartitionByRange(30, col("id")), Seq("id"))
      val prunes0 = SnapshotManifest.ckptFramePrunes.get()
      val got = SnapshotManifest.readWhere(spark, root, col("id") < 100L)
        .as[(Long, String)].collect().toSet
      assert(got.size == 100 && got.forall(_._2.startsWith("new")),
        s"orphaned twin served stale data: ${got.take(3)}")
      assert(SnapshotManifest.ckptFramePrunes.get() == prunes0,
        "a stamp-mismatched twin must not be served distributed")
      assert(SnapshotManifest.read(spark, root).count() == 7000L,
        "full read must reflect the recreated table")
      // SELF-REPAIR: a twin-ELIGIBLE recreate replaces the squatting
      // stale twin at its boundary publish — reads go distributed again
      // on the NEW table's body instead of demoting forever
      fs.listStatus(new Path(root)).foreach { st =>
        if (st.getPath.getName != "_ckpt") fs.delete(st.getPath, true)
      }
      SnapshotManifest.commit(spark, root,
        spark.range(0, 9000).toDF("id")
          .withColumn("x", concat(lit("anew"), col("id")))
          .repartitionByRange(90, col("id")), Seq("id"))
      val prunes1 = SnapshotManifest.ckptFramePrunes.get()
      val got2 = SnapshotManifest.readWhere(spark, root, col("id") < 100L)
        .as[(Long, String)].collect().toSet
      assert(got2.size == 100 && got2.forall(_._2.startsWith("anew")),
        s"repaired twin served stale data: ${got2.take(3)}")
      assert(SnapshotManifest.ckptFramePrunes.get() > prunes1,
        "the replaced twin must serve the pruned read DISTRIBUTED")
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }

  test("header reads are cached: every metadata accessor shares ONE streamed header per version") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 20).toDF("id").withColumn("x", lit("a"))
        .repartitionByRange(2, col("id")), Seq("id"))
    SnapshotManifest.setPrimaryKey(spark, root, Seq("id"))
    val v = SnapshotManifest.currentVersion(spark, root).get
    SnapshotManifest.headerReadCount.set(0L)
    // five accessors, one underlying header stream
    SnapshotManifest.manifestSchema(spark, root, v)
    SnapshotManifest.bloomCols(spark, root, v)
    SnapshotManifest.partitionColumns(spark, root, v)
    SnapshotManifest.txnVersion(spark, root, "nope")
    SnapshotManifest.manifestIsDelta(spark, root, v)
    assert(SnapshotManifest.headerReadCount.get() <= 1L,
      s"header re-read per accessor: ${SnapshotManifest.headerReadCount.get()} streams")
    // a publish invalidates exactly the published version's entry — the
    // next accessor streams once for the NEW version, the old stays warm
    graft.operators.Upsert.mergeWhere(spark, root,
      Seq((1L, "b")).toDF("id", "x"), Seq("id"), Seq("id"))
    SnapshotManifest.headerReadCount.set(0L)
    SnapshotManifest.manifestSchema(spark, root, v + 1)
    SnapshotManifest.manifestSchema(spark, root, v)
    SnapshotManifest.txnVersion(spark, root, "nope")
    assert(SnapshotManifest.headerReadCount.get() <= 1L)
  }

  test("a cyclic base= chain returns None from the frame path instead of spinning the driver") {
    val root = newRoot()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // handcraft a corrupt cycle: v1 bases on v2, v2 bases on v1
    def put(name: String, text: String): Unit = {
      val out = fs.create(new Path(root, name), true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    put("manifest-00000001.json", "version=1\nbase=2\n")
    put("manifest-00000002.json", "version=2\nbase=1\n")
    val t0 = System.nanoTime()
    assert(SnapshotManifest.bodyLinesFrame(spark, root, 1L).isEmpty)
    assert(SnapshotManifest.bodyLinesFrame(spark, root, 2L).isEmpty)
    assert((System.nanoTime() - t0) < 60e9, "bounded walk must terminate promptly")
  }
}
