package graft

/** Plan-inspection harness: prints `explain("formatted")` for selected
  * queries so scan pruning (`ReadSchema`/`PushedFilters`), broadcast
  * choices, and WholeStageCodegen spans can be reviewed per round.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "q01_pricing_summary", "q02_revenue_by_nation", "q03_project_filter",
      "q05_latest_event_per_user", "q06_merge_upsert", "q10_window_rank",
      "q25_near_dup_pairs", "q27_cosine_topk", "q34_keyset_normalize",
      "q68_topk_agg")
    // library session builder: carries GraftExtensions (SQL-callable
    // native functions), AQE, UTC
    val spark = graft.core.Sessions.builder("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    // DSv2 keyset connector: show the scan with the watermark filter pushed
    println("\n========== graft-keyset scan (filter pushdown) ==========")
    try {
      val ks = spark.read.format("graft-keyset")
        .option("path", "/root/repo/src/test/resources/json/pages").load()
        .filter(org.apache.spark.sql.functions.col("lastModifiedAt") >= "2024-01-02T00:00:00")
      ks.explain("formatted")
      println(s"rows after pushdown: ${ks.count()}")
    } catch { case e: Throwable => println(s"keyset demo failed: ${e.getMessage}") }
    // session-extension surface: native expressions callable from SQL
    println("\n========== SQL extension functions ==========")
    try {
      spark.sql(
        """SELECT cosine_similarity(array(1.0, 2.0), array(2.0, 4.0)) AS cos_parallel,
          |       graft_hash_id('42') AS h42, graft_hash_id('') AS h_empty""".stripMargin)
        .show(truncate = false)
    } catch { case e: Throwable => println(s"extension demo failed: ${e.getMessage}") }
    spark.stop()
  }
}
