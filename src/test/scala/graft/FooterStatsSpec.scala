package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.ManifestStats

/** Differential gate for the footer-derived stats path
  * ([[ManifestStats.collectFromFooters]]): commits collect per-file stats
  * from parquet FOOTERS instead of re-scanning the written data, but only
  * under an exactness contract — Some(answer) must equal
  * [[ManifestStats.collect]]'s answer bit-for-bit, and anything unprovable
  * must return None so the caller falls back to the aggregation job.
  */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Write the fixture the way the ENGINE writes data files: INT64-micros
    * timestamps (writeDataFiles routes through a writer session with
    * `outputTimestampType=TIMESTAMP_MICROS` set). An INT96 write — the
    * caller-facing session default — carries no footer stats at all, so a
    * zoo written with the session default would test the fallback, not the
    * claim path. The write runs through a DEDICATED session with the conf
    * set, never a set/restore on the shared session (a concurrent suite
    * could observe the mutation).
    */
  private def writeAndPaths(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.hadoop.fs.Path]) = {
    val dir = Files.createTempDirectory("footerstats").toString + "/d"
    val writer = spark.newSession()
    writer.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    org.apache.spark.sql.graftbridge.ColumnBridge
      .ofRows(writer, df.queryExecution.analyzed).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    (spark.read.parquet(dir), paths)
  }

  test("footer stats ≡ aggregation-job stats across the supported type zoo") {
    val df = spark.range(500).select(
      col("id").alias("k"),                                  // long
      (col("id") % 7).cast("int").alias("i"),                // int
      (col("id") % 3).cast("smallint").alias("sh"),          // short
      (col("id") % 2 === 0).alias("b"),                      // boolean
      concat(lit("w"), format_string("%04d", col("id"))).alias("s"), // string
      when(col("id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("v"), col("id"))).alias("maybe"), // nullable string
      lit(null).cast("long").alias("allnull"),               // all-null column
      timestamp_micros(col("id") * 1000000L + 123L).alias("ts"), // timestamp
      date_add(to_date(lit("2024-01-01")), col("id").cast("int") % 90)
        .alias("d"),                                         // date
      (col("id").cast("decimal(12,2)") / 7).alias("dec"))    // decimal
      .repartitionByRange(4, col("k"))
    val cols = Seq("k", "i", "sh", "b", "s", "maybe", "allnull", "ts", "d", "dec")
    val (read, paths) = writeAndPaths(df)
    val viaJob = ManifestStats.collect(read, cols)
    val viaFooter = ManifestStats.collectFromFooters(spark, paths, cols)
    assert(viaFooter.isDefined,
      "footer path must claim this all-supported column mix")
    assert(viaFooter.get.keySet == viaJob.keySet)
    viaJob.foreach { case (file, jobStats) =>
      val f = viaFooter.get(file)
      assert(f.rows == jobStats.rows, s"$file rows")
      assert(f.cols.keySet == jobStats.cols.keySet, s"$file col keys")
      jobStats.cols.foreach { case (c, js) =>
        val fcs = f.cols(c)
        assert(fcs.nulls == js.nulls, s"$file.$c nulls")
        assert(fcs.min == js.min, s"$file.$c min: ${fcs.min} vs ${js.min}")
        assert(fcs.max == js.max, s"$file.$c max: ${fcs.max} vs ${js.max}")
      }
    }
  }

  test("unprovable column types return None (caller falls back to the job)") {
    val df = spark.range(100).select(
      col("id").alias("k"),
      (col("id") * 1.5).alias("dbl")) // double: footer NaN/±0.0 conventions unproven
    val (_, paths) = writeAndPaths(df)
    assert(ManifestStats.collectFromFooters(spark, paths, Seq("k", "dbl")).isEmpty)
    // but the long column alone is provable
    assert(ManifestStats.collectFromFooters(spark, paths, Seq("k")).isDefined)
  }

  test("a column absent from the footer returns None, never a silent blank") {
    val df = spark.range(10).select(col("id").alias("k"))
    val (_, paths) = writeAndPaths(df)
    assert(ManifestStats.collectFromFooters(spark, paths, Seq("nope")).isEmpty)
  }

  test("commit-time stats land identically through the footer path (string bounds, nulls, rows)") {
    // end-to-end: a committed manifest's recorded stats JSON must be what
    // the aggregation job would have recorded (writeDataFiles routes
    // through collectFromFooters now)
    val root = Files.createTempDirectory("footercommit").toString
    val df = spark.range(300).select(
      col("id").alias("k"),
      when(col("id") % 4 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), format_string("%03d", col("id")))).alias("s"))
      .repartitionByRange(3, col("k"))
    graft.sources.SnapshotManifest.commit(spark, root, df, Seq("k", "s"))
    val body = graft.sources.SnapshotManifest.manifestBody(spark, root, 0L)
    val stats = graft.sources.SnapshotManifest.bodyStats(body)
    assert(stats.nonEmpty)
    val totalRows = stats.values.map(_.rows).sum
    assert(totalRows == 300L, s"recorded rows sum $totalRows")
    val sNulls = stats.values.map(_.cols("s").nulls).sum
    assert(sNulls == 75L, s"recorded s nulls $sNulls")
    val ks = stats.values.flatMap(_.cols("k").min).map(_.asInstanceOf[BigDecimal])
    assert(ks.min == BigDecimal(0), s"global k min ${ks.min}")
  }
}
