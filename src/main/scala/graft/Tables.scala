package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Fixture-table loader.
  *
  * A fixture table is one parquet file. Its schema is read from that
  * file's footer on the driver ([[ColumnBridge.parquetFileSchema]]) and
  * passed to the scan, so opening a table runs no Spark job:
  * `spark.read.parquet(path)` alone would infer the schema with a one-task
  * job per open. A path that is not a single file (a directory of parts,
  * or a missing path) keeps that plain read, so a directory still loads
  * and a missing path fails as the reader reports it.
  *
  * The `events` fixture stores `ts` as a parquet TIMESTAMP(NANOS) column,
  * which Spark's schema converter rejects by default. We read nanos as a
  * long (`spark.sql.legacy.parquet.nanosAsLong` — a runtime SQL conf) and
  * rebuild the column as a micro-precision timestamp, which is what every
  * other engine (and the DuckDB oracle) sees after nano→micro truncation.
  * The conf is set before the footer is converted: the converter reads it
  * from the session, and without it the nanos column fails to convert.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df =
      if (isFile(spark, path))
        spark.read.schema(ColumnBridge.parquetFileSchema(spark, path)).parquet(path)
      else spark.read.parquet(path)
    if (name == "events" && df.schema("ts").dataType == LongType)
      // integer division: ts is ~1.7e18 ns, beyond double's 2^53 exact range,
      // so `/ 1000` (double division) would be off by ±1 µs
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  private def isFile(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isFile
    catch { case _: java.io.FileNotFoundException => false }
  }
}
