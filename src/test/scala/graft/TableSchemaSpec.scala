package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{SnapshotManifest, SnapshotTable}

/** The table schema the verbs read under — the recorded header schema, or
  * else one data file's footer read on the driver — is the schema a
  * parquet read of the table's files infers: names, order, types and
  * nullability, over nested, decimal, INT64-micros timestamp, map and
  * binary columns, on tables whose header records no schema.
  */
class TableSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("tschema").toString

  /** 40 rows in 4 range files by `id`, stats on `id`, no recorded schema. */
  private def seeded(): String = {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, spark.sql(
      """SELECT id, CAST(id AS DECIMAL(12, 2)) AS d,
        |  timestamp_micros(1704164645123456 + id * 1000) AS ts,
        |  named_struct('a', id, 'b', array(named_struct('c', CAST(id AS STRING)))) AS st,
        |  map('k', id) AS m, CAST(CAST(id AS STRING) AS BINARY) AS bin
        |FROM range(40)""".stripMargin).repartitionByRange(4, col("id")), Seq("id"))
    assert(SnapshotManifest.manifestSchema(spark, root, 0L).isEmpty)
    root
  }

  /** Rows as JSON strings (binary columns compare by content), sorted. */
  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  private def assertSameRead(got: DataFrame, expected: DataFrame): Unit = {
    assert(got.schema == expected.schema)
    assert(rows(got) == rows(expected))
  }

  test("readWhere keeping one non-head file reads what a parquet read of every file infers") {
    val root = seeded()
    val files = SnapshotManifest.snapshotFiles(spark, root, 0L)
    val p = col("id") === 37L
    val kept = SnapshotManifest.prunedFiles(spark, root, 0L, p)
    assert(kept.size == 1 && kept.head != files.head, kept)
    val got = SnapshotManifest.readWhere(spark, root, p)
    assertSameRead(got, spark.read.parquet(files: _*).filter(p))
    assert(got.count() == 1L)
  }

  test("readEntries over the whole body reads what a parquet read infers") {
    val root = seeded()
    val body = SnapshotManifest.manifestBody(spark, root, 0L)
    assertSameRead(SnapshotManifest.readEntries(spark, root, body.map(SnapshotManifest.parseLine)),
      spark.read.parquet(SnapshotManifest.snapshotFiles(spark, root, 0L): _*))
  }

  test("after addColumns a pre-widening file reads the new column as typed nulls") {
    val root = seeded()
    SnapshotManifest.addColumns(spark, root, Seq(StructField("extra", LongType)))
    SnapshotManifest.appendRows(spark, root, SnapshotManifest
      .readWhere(spark, root, col("id") === 1L)
      .withColumn("id", lit(100L)).withColumn("extra", lit(7L)), Seq("id"))
    val old = SnapshotManifest.readWhere(spark, root, col("id") === 37L)
    assert(old.schema.last == StructField("extra", LongType, nullable = true))
    assert(old.select("id", "extra").as[(Long, Option[Long])].collect().toSeq == Seq((37L, None)))
    assert(SnapshotManifest.readWhere(spark, root, col("id") === 100L)
      .select("extra").as[Long].collect().toSeq == Seq(7L))
  }

  test("a SnapshotTable load reports the schema of a parquet read of its files") {
    val root = seeded()
    val table = new SnapshotTable(spark, root, None, None, CaseInsensitiveStringMap.empty())
    assert(table.schema() == spark.read.parquet(
      SnapshotManifest.snapshotFiles(spark, root, 0L): _*).schema)
  }

  test("files appended in another column order read in body.head's order") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "x").coalesce(1), Seq("id"))
    // appendRows accepts the table's columns in any order and writes the
    // frame's order; the header still records no schema
    SnapshotManifest.appendRows(spark, root, Seq(("a", 100L)).toDF("x", "id"), Seq("id"))
    val files = SnapshotManifest.snapshotFiles(spark, root, 1L)
    assert(SnapshotManifest.manifestSchema(spark, root, 1L).isEmpty)
    assert(spark.read.parquet(files.last).schema.fieldNames.toSeq == Seq("x", "id"))
    // even when the prune keeps only the reordered file
    assert(SnapshotManifest.prunedFiles(spark, root, 1L, col("id") === 100L) == Seq(files.last))
    val point = SnapshotManifest.readWhere(spark, root, col("id") === 100L)
    assert(point.schema.fieldNames.toSeq == Seq("id", "x"))
    assert(point.as[(Long, String)].collect().toSeq == Seq((100L, "a")))
    val all = SnapshotManifest.read(spark, root)
    assert(all.schema.fieldNames.toSeq == Seq("id", "x"))
    assert(all.as[(Long, String)].collect().toMap ==
      ((0L until 10L).map(i => i -> s"v$i") :+ (100L -> "a")).toMap)
  }
}
