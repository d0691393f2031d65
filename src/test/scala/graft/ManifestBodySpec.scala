package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.SnapshotManifest

/** The driver's view of a manifest body: data-file paths joined from body
  * lines, the cached body's parse, and old manifests whose header carries
  * the retired `merge=colocated` table property.
  */
class ManifestBodySpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("mbody").toString + "/t"

  test("bodyFiles equals the Path construction for plain and non-plain rels and roots") {
    val rels = Seq(
      "data/v00000001/part-00000-1a2b.c000.snappy.parquet", // plain
      "data/v00000003/__gp_0=en/part-00001.snappy.parquet", // partitioned
      "data/v00000001/a%20b%2Fc.parquet", // %-escaped
      "data/v00000001/with space.parquet",
      "data/v00000001/grüße-数据.parquet", // non-ASCII
      "data/../data/v00000001/x.parquet",
      "./data/v00000001/x.parquet",
      "data//v00000001/x.parquet",
      "/elsewhere/v00000001/x.parquet", // absolute
      "file:/elsewhere/v00000001/x.parquet")
    val roots = Seq("/tmp/graft/t", "/tmp/graft/t/", "file:/tmp/graft/t",
      "file:///tmp/graft/t", "/")
    for (root <- roots) {
      // body lines as the manifest holds them: rel, then stats and dv= refs
      val lines = rels.map(r => s"$r\t{\"rows\":1}\tdv=data/dv/x.parquet")
      val want = rels.map(r => new Path(new Path(root), r).toString)
      assert(SnapshotManifest.bodyFiles(root, lines) == want, s"root $root")
      assert(SnapshotManifest.bodyFiles(root, rels) == want, s"root $root")
    }
  }

  test("a cached body parses its entries and stats once and weighs them") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 40).toDF("id").withColumn("x", col("id") % 3)
        .repartitionByRange(4, col("id")), Seq("id", "x"))
    val (body, _) = SnapshotManifest.manifestParts(spark, root, 0L)
    assert(body.isInstanceOf[SnapshotManifest.ManifestBody])
    val stats = SnapshotManifest.bodyStats(body)
    assert(stats == SnapshotManifest.bodyStats(body.toVector)) // parsed afresh
    assert(stats.size == 4 && stats.values.map(_.rows).sum == 40L)
    // the second call reads the held parse
    assert(SnapshotManifest.bodyStats(body) eq stats)
    assert(SnapshotManifest.bodyEntries(body) eq SnapshotManifest.bodyEntries(body))
    // the verbs served from the held parse agree with the data
    assert(SnapshotManifest.countRows(spark, root) == 40L)
    assert(SnapshotManifest.prunedFiles(spark, root, 0L, col("id") === 0L).size == 1)
    assert(SnapshotManifest.readWhere(spark, root, col("id") === 7L)
      .as[(Long, Long)].collect().toSeq == Seq((7L, 1L)))
    // the next version's body, resolved from a delta on this one, reuses
    // the held parse for every line the two share
    SnapshotManifest.appendRows(spark, root, Seq((40L, 1L)).toDF("id", "x"), Seq("id", "x"))
    val (next, _) = SnapshotManifest.manifestParts(spark, root, 1L)
    assert(next.size == 5 && next.take(4) == body)
    val (e0, e1) = (SnapshotManifest.bodyEntries(body), SnapshotManifest.bodyEntries(next))
    assert((0 until 4).forall(i => e1(i) eq e0(i)))
    assert(SnapshotManifest.bodyStats(next) == SnapshotManifest.bodyStats(next.toVector))
    assert(SnapshotManifest.countRows(spark, root) == 41L)
  }

  test("a merge=colocated header is read and ignored; the next commit drops it") {
    spark.conf.set("graft.manifest.checkpointInterval", "10")
    try {
      val root = newRoot()
      SnapshotManifest.commit(spark, root,
        (0L until 30L).map(i => (i, i * 2L)).toDF("id", "v")
          .repartitionByRange(3, $"id"), Seq("id")) // v0: full
      SnapshotManifest.setPrimaryKey(spark, root, Seq("id")) // v1: delta
      SnapshotManifest.appendRows(spark, root,
        Seq((100L, 1L)).toDF("id", "v"), Seq("id")) // v2: delta, one + line
      val manifest = (v: Long) => Paths.get(root, f"manifest-$v%08d.json")
      val before = (0L to 2L).map(v => SnapshotManifest.readVersion(spark, root, v)
        .as[(Long, Long)].collect().toSet)
      // hand-write the property the way the header writer emitted it: the
      // last header line, after txn= and before a delta's base= line
      for (v <- 0L to 2L) {
        val lines = new String(Files.readAllBytes(manifest(v)), "UTF-8")
          .split('\n').toSeq
        val headerEnd = lines.indexWhere(l => !Seq("version=", "schema=",
          "bloom=", "pk=", "partition=", "txn=").exists(l.startsWith))
        val (header, rest) = lines.splitAt(headerEnd)
        Files.write(manifest(v), (header ++ ("merge=colocated" +: rest))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      assert(new String(Files.readAllBytes(manifest(2L)), "UTF-8")
        .contains("merge=colocated\nbase=1\n+\t"))
      for (v <- 0L to 2L) {
        assert(SnapshotManifest.readVersion(spark, root, v)
          .as[(Long, Long)].collect().toSet == before(v.toInt), s"version $v")
        assert(SnapshotManifest.manifestIsDelta(spark, root, v) == (v > 0))
        assert(SnapshotManifest.primaryKey(spark, root, v) ==
          (if (v == 0) Nil else Seq("id")), s"version $v")
      }
      assert(SnapshotManifest.countRows(spark, root) == 31L)
      val v3 = SnapshotManifest.appendRows(spark, root,
        Seq((101L, 2L)).toDF("id", "v"), Seq("id"))
      val raw3 = new String(Files.readAllBytes(manifest(v3)), "UTF-8")
      assert(!raw3.contains("merge="), raw3)
      assert(raw3.contains("pk=") && raw3.contains(s"base=${v3 - 1}"), raw3)
      assert(SnapshotManifest.read(spark, root).as[(Long, Long)].collect().toSet ==
        before(2) + ((101L, 2L)))
      assert(SnapshotManifest.primaryKey(spark, root, v3) == Seq("id"))
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
  }
}
