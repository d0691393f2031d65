package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load` opens a fixture table under the schema read from its
  * footer on the driver. It must return what `spark.read.parquet` infers
  * (names, order, types, nullability) and the same rows, while building
  * the frame runs no Spark job.
  */
class TablesSpec extends SparkSpec {

  /** The frame as schema inference builds it: `spark.read.parquet` under
    * the nanos-as-long conf, with `events.ts` rebuilt as micros.
    */
  private def inferred(dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** A value rendered by content: binary as hex, nested values inside out. */
  private def render(v: Any): String = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("M(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case null => "null"
    case x => x.toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(render).sorted

  /** Load `name` with no job counted, and check it against inference. */
  private def assertLoadsAsInferred(dir: String, name: String): DataFrame = {
    var df: DataFrame = null
    val jobs = GraftTestBus.jobsOf(spark.sparkContext) { df = Tables.load(spark, dir, name) }
    assert(jobs.isEmpty, s"opening $name ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
    val ref = inferred(dir, name)
    assert(df.schema == ref.schema, s"$name: ${df.schema.treeString} vs ${ref.schema.treeString}")
    assert(rows(df) == rows(ref), s"$name: rows differ")
    df
  }

  test("every fixture table loads with the inferred schema and rows, and no job") {
    val names = Files.list(Paths.get(sfDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq.sorted
    assert(names.contains("events") && names.size >= 10, names.mkString(", "))
    names.foreach(assertLoadsAsInferred(sfDir, _))
    assert(Tables.load(spark, sfDir, "events").schema("ts").dataType == TimestampType)
  }

  test("a single-file table with nested, decimal, map, binary and micros timestamps") {
    val dir = Files.createTempDirectory("tables").toString
    val out = s"$dir/wide_out"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try spark.sql(
      """SELECT id,
        |  named_struct('a', id, 'b', named_struct('c', cast(id AS string))) AS nested,
        |  array(named_struct('k', id), named_struct('k', id + 1)) AS items,
        |  cast(id * 1.25 AS decimal(20, 4)) AS amount,
        |  map('x', cast(id AS int), 'y', 2) AS tags,
        |  cast(concat('b', cast(id AS string)) AS binary) AS raw,
        |  timestamp_micros(1700000000000001 + id) AS at
        |FROM range(0, 50)""".stripMargin)
      .coalesce(1).write.parquet(out)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val part = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(part.size == 1)
    Files.move(part.head, Paths.get(dir, "wide.parquet"))
    val df = assertLoadsAsInferred(dir, "wide")
    assert(df.schema("at").dataType == TimestampType)
    assert(df.filter("id = 0").select("at").head().getTimestamp(0).toInstant.toString ==
      "2023-11-14T22:13:20.000001Z")
  }

  test("a table stored as a directory loads, and a missing path fails as inference does") {
    val dir = Files.createTempDirectory("tables").toString
    spark.range(0, 20).selectExpr("id", "cast(id AS string) AS s").repartition(3)
      .write.parquet(s"$dir/parts.parquet")
    val df = Tables.load(spark, dir, "parts")
    assert(df.schema == inferred(dir, "parts").schema)
    assert(df.count() == 20L)
    val e = intercept[AnalysisException](Tables.load(spark, dir, "absent"))
    assert(e.getClass == classOf[AnalysisException])
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }
}
