package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Upsert
import graft.sources.SnapshotManifest

/** Churn-sized sets pinned on the driver, and the distributed paths past
  * the cap. A merge's staged batch of at most `Upsert.MaxInListLiterals`
  * rows is pinned as a local relation of its internal rows; a MoR verb's
  * new and prior positions of at most `SnapshotManifest.MaxDriverPositions`
  * are held on the driver. Each over-cap case is forced here, and each
  * result is checked against a serial model of the table.
  */
class DriverPinSpec extends SparkSpec {
  import spark.implicits._

  /** `n` rows `(id, x)` in `files` files, keyed and stats-tracked on `id`. */
  private def table(n: Long, files: Int): String = {
    val root = Files.createTempDirectory("pin").toString + "/t"
    SnapshotManifest.commit(spark, root, spark.range(0, n).toDF("id")
      .withColumn("x", concat(lit("v"), $"id".cast("string")))
      .repartitionByRange(files, $"id"), Seq("id"))
    root
  }

  private def model(n: Long): Map[Long, String] = (0L until n).map(i => i -> s"v$i").toMap

  private def contents(root: String): Map[Long, String] =
    SnapshotManifest.read(spark, root).as[(Long, String)].collect().toMap

  test("a mergeWhere of more than 1024 distinct keys takes the persisted path, same result") {
    val root = table(3000L, 4)
    val staged = spark.range(2000, 3500).toDF("id")
      .withColumn("x", concat(lit("m"), $"id".cast("string")))
    assert(Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id")) == 1L)
    assert(contents(root) == model(3000L) ++ (2000L until 3500L).map(i => i -> s"m$i"))
  }

  test("a mergeWhere whose maxKeySetSize is below its key count takes the range tier, same result") {
    val root = table(3000L, 8)
    val keys = Seq(5L, 17L, 400L, 401L, 5000L)
    val staged = keys.map(k => (k, s"m$k")).toDF("id", "x")
    assert(Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"),
      maxKeySetSize = 2) == 1L)
    assert(contents(root) == model(3000L) ++ keys.map(k => k -> s"m$k"))
    // the range [5, 5000] admits every file: all 8 were rewritten
    assert((SnapshotManifest.manifestBody(spark, root, 0L).toSet intersect
      SnapshotManifest.manifestBody(spark, root, 1L).toSet).isEmpty)
  }

  test("a deleteWhereMoR past the driver cap keeps positions distributed, same result") {
    val root = table(3000L, 4)
    // 1500 new positions: over the cap, written by a Spark job
    assert(SnapshotManifest.deleteWhereMoR(spark, root, $"id" < 1500L) == 1L)
    var expect = model(3000L).filter(_._1 >= 1500L)
    assert(contents(root) == expect)
    // 101 new positions pinned, beside a prior sidecar over the cap
    assert(SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(1400L, 1600L)) == 2L)
    expect = expect.filter(_._1 > 1600L)
    assert(contents(root) == expect)
    assert(SnapshotManifest.readWhere(spark, root, $"id" <= 1700L).count() == 100L)
    // a small new sidecar, then a small mask beside it
    assert(SnapshotManifest.deleteWhereMoR(spark, root, $"id" === 2999L) == 3L)
    assert(SnapshotManifest.updateWhereMoR(spark, root, $"id" === 2998L,
      Map("x" -> lit("u"))) == 4L)
    expect = expect - 2999L + (2998L -> "u")
    assert(contents(root) == expect)
    // the folded table agrees with the masked one
    SnapshotManifest.foldDeletes(spark, root)
    assert(contents(root) == expect)
  }

  test("a pinned merge batch commits exactly the rows one evaluation produced") {
    // the object's counter, not a captured copy: closures are serialized
    val tick = udf(() => DriverPinSpec.evaluations.incrementAndGet()).asNondeterministic()
    val evaluations = DriverPinSpec.evaluations
    // every value here is one an external Row round trip can disturb
    def rows(src: DataFrame): DataFrame = src.select(
      when($"src" % 7 === 3, lit(null).cast("long")).otherwise(pmod($"src", lit(40L))).alias("pk"),
      $"src",
      timestamp_micros(lit(-15000000000000000L) + $"src").alias("old_ts"),
      to_timestamp_ntz(lit("2021-03-14 02:30:00")).alias("gap_ntz"),
      timestamp_micros(lit(1615717800000000L) + $"src" * 1000000L).alias("gap_ts"),
      ($"src" * 1.25).cast("decimal(20,7)").alias("dec"),
      when($"src" % 3 === 0, lit(Double.NaN))
        .when($"src" % 3 === 1, lit(-0.0)).otherwise($"src" / 3.0).alias("dbl"),
      $"src".cast("string").cast("binary").alias("bin"),
      struct($"src".alias("a"), array($"src", $"src" + 1).alias("b"),
        map(lit("k"), $"src").alias("c")).alias("nested"))
    val root = Files.createTempDirectory("pin").toString + "/t"
    // seeded keys 0..39, from negative sources
    SnapshotManifest.commit(spark, root, rows(spark.range(-40, 0).toDF("src"))
      .withColumn("r", lit(0.0)).withColumn("tick", lit(0L)).repartition(3),
      Seq("pk"))
    val before = SnapshotManifest.read(spark, root).count()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val staged = rows(spark.range(0, 40).toDF("src").repartition(3))
        .withColumn("r", rand()).withColumn("tick", tick())
      val t0 = evaluations.get()
      assert(Upsert.mergeWhere(spark, root, staged, Seq("pk"), Seq("pk")) == 1L)
      // one evaluation of the 40 staged rows, whatever read them after
      assert(evaluations.get() - t0 == 40L)
      val got = SnapshotManifest.read(spark, root).filter($"src" >= 0L)
      assert(got.select("tick").as[Long].collect().toSet == (t0 + 1 to t0 + 40).toSet)
      assert(got.filter($"r" < 0.0 || $"r" >= 1.0 || $"r".isNull).count() == 0L)
      def sorted(df: DataFrame): Seq[Row] =
        df.drop("r", "tick").orderBy("src").collect().toSeq
      assert(sorted(got) == sorted(rows(spark.range(0, 40).toDF("src"))))
      // every non-null staged key matched a seeded row; each null-PK row
      // is an insert
      val nullPk = (0 until 40).count(_ % 7 == 3)
      assert(SnapshotManifest.read(spark, root).count() == before + nullPk)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }
}

object DriverPinSpec {
  /** Rows the staged batch's counting column evaluated (a local-mode test
    * runs its tasks in this JVM).
    */
  val evaluations = new AtomicLong
}
