package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially in sbt's forked test JVM).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // match graft.core.Sessions: plain parquet timestamps are TIMESTAMP
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // match graft.core.Sessions: a static conf, fixed by the first session
      .config("spark.sql.codegen.cache.maxEntries",
        graft.core.Sessions.CodegenCacheMaxEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh session over the shared context with GraftExtensions and the
    * GraftCatalog, as `graft.core.Sessions` builds (SQL DML and the catalog
    * routes need both); the shared session is restored afterwards.
    */
  protected def withExtSession[A](f: SparkSession => A): A = {
    val shared = spark // force-init the plain shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.GraftCatalog")
      .withExtensions(new GraftExtensions)
      .getOrCreate())
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
