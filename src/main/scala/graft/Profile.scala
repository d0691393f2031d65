package graft

/** Ad-hoc profiler (dev tool): mimic Bench's flow — warm every query shape
  * at sf0.001, then time the named queries at the target scale factor for 3
  * rounds, separating first-run (codegen/plan-shape) cost from steady-state
  * data work.
  *
  * Usage: runMain graft.Profile [sfDir] [queryName ...]
  *
  * Caveat (learned the hard way): never compare persist-variant timings in
  * one session — persisted plans serve later identical-plan queries from
  * cache and corrupt the comparison.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Set[String] = if (args.length > 1) args.drop(1).toSet
      else Set("q25_near_dup_pairs", "q53_dedup_clusters", "q58_corpus_select")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // same session shape as Bench (extensions incl. optimizer rules)
    val spark = graft.core.Sessions.builder("graft-profile",
      master = s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Materialize exactly like Bench (noop write executes every output
    // column); count() would let Catalyst prune the computed columns and
    // profile the wrong plan.
    def mat(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"${(System.nanoTime() - t0) / 1e9}%8.2f  $name")
    }
    val warmDir = "/root/testdata/sf0.001"
    val t0 = System.nanoTime()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try mat(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    println(f"${(System.nanoTime() - t0) / 1e9}%8.2f  [warmup all @ sf0.001]")
    for (round <- 1 to 3; (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if names(name)) {
      time(s"$name round $round")(mat(fn(spark, sfDir)))
    }
    spark.stop()
  }
}
