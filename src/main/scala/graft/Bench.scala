package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the host's cores beside the session's: a local[32]-versus-local[8]
    // comparison means something only where nproc reaches 32
    val nproc = Runtime.getRuntime.availableProcessors
    // library session builder: carries GraftExtensions (native SQL fns +
    // the top-N-window rewrite rule), AQE, UTC — bench measures the
    // engine's real configuration
    val spark = graft.core.Sessions.builder("graft-bench",
      master = s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Materialize EVERY output column via the noop sink. A bare `count()`
    // lets Catalyst prune all computed columns off projection-final queries
    // (a text-profile query "benchmarks" as a row count of the scan), which
    // silently under-measures; noop writes execute the full plan, like a
    // real consumer would.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    // Codegen/JIT warmup outside the timed region: run every query shape
    // once at the smallest scale factor. WholeStageCodegen classes are cached
    // by generated source, so the timed sf run then measures data-scale work
    // (the thing that matters at 100 TB), not Janino compilation — which for
    // the widest expression trees (MinHash signatures) costs multiple seconds
    // of pure driver time.
    val warmDir = "/root/testdata/sf0.001"
    def compileCount = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val warmCompiles0 = compileCount
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try run(fn, warmDir) catch { case _: Throwable => () }
    }
    // the suite's codegen working set: each distinct class compiled once
    // per classloader (see graft.core.Sessions.CodegenCacheMaxEntries)
    val warmCompiles = compileCount - warmCompiles0
    // 3 timed runs per query: the machine is shared, and a single sample
    // conflates data work with scheduler noise (observed 2× total swings on
    // identical code). The record carries BOTH estimators so cross-round
    // deltas separate signal from noise: `queries` = min of 3 (steady-state)
    // and `queries_cold` = the first timed sample. NOTE: "cold" is relative
    // — the warmup pass has already paid codegen/JIT, so the first sample
    // captures residual first-run costs at the target SF (page cache, scan
    // listing, lazy init), NOT true cold-start latency.
    // Failures are RECORDED, never swallowed into the timings: a query
    // that throws "benchmarks" as the microseconds the throw took, and a
    // run that breaks midway (a dead context fails every later query
    // instantly) would otherwise masquerade as the fastest run of the
    // round — 45 silently-dead queries once produced a record total that
    // a cross-round comparison took at face value. A query with ZERO
    // successful samples lands in `failed` and POISONS the headline
    // totals to -1 (a partially-dead run must not publish a plausible
    // number a consumer could compare without checking n_failed); a query
    // that failed some-but-not-all samples keeps its valid min and is
    // recorded in `flaky` — measured, just noisy.
    def jsonSafe(t: Throwable): String =
      t.toString.map(c =>
        if (c == '"' || c == '\\' || Character.isISOControl(c)) ' ' else c)
        .take(200)
    // Janino compiles during each query's timed samples: the warm-up pass
    // compiled every shape once, so a nonzero count is generated code the
    // codegen cache evicted (or a plan whose source changes per run)
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var err: Option[String] = None
      val compiles0 = compileCount
      val attempts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { run(fn, sfDir); true } catch { case t: Throwable =>
          if (err.isEmpty) err = Some(jsonSafe(t))
          false
        }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      compiles(name) = compileCount - compiles0
      val samples = attempts.flatten
      // -1 sentinel in the PER-QUERY maps too: a dead query recorded as
      // 0.0 is shape-identical to a record speedup for any consumer
      // diffing the maps without cross-referencing `failed`. The cold
      // slot is the FIRST ATTEMPT only: a flaky query whose first run
      // threw must not publish a later warm sample silently labeled cold.
      (name, if (samples.isEmpty) -1.0 else samples.min,
        attempts.head.getOrElse(-1.0), err, samples.nonEmpty)
    }
    val failed = results.collect { case (n, _, _, Some(e), false) => n -> e }
    val flaky = results.collect { case (n, _, _, Some(e), true) => n -> e }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED every " +
        s"sample — headline totals poisoned to -1, per-query map still " +
        s"valid for the others: ${failed.map(_._1).mkString(", ")}")
    if (flaky.nonEmpty)
      System.err.println(s"[bench] ${flaky.size} queries failed SOME " +
        s"samples (min-of-successes recorded): ${flaky.map(_._1).mkString(", ")}")
    def jsonMap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jsonStrMap(kv: Seq[(String, String)]): String =
      kv.map { case (k, e) => s"\"" + k + "\":\"" + e + "\"" }
        .mkString("{", ",", "}")
    val qs = jsonMap(results.map(r => r._1 -> r._2))
    val qsCompiles = compiles.map { case (k, n) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val qsCold = jsonMap(results.map(r => r._1 -> r._3))
    // total_cold is only meaningful when EVERY first attempt succeeded —
    // a -1 cold sentinel (flaky first run) summed in would silently skew
    // the total downward instead of flagging it
    val coldSum =
      if (results.exists(_._3 < 0)) -1.0 else results.map(_._3).sum
    val sums = (results.map(_._2).sum, coldSum,
      if (results.isEmpty) 0.0 else results.map(_._2).sum / results.length)
    val (total, totalCold, mean) =
      if (failed.nonEmpty) (-1.0, -1.0, -1.0) else sums
    val line = s"""{"metric":"total","value":$total,"unit":"sec","total_cold":$totalCold,"mean_per_query":$mean,"n_failed":${failed.size},"failed":${jsonStrMap(failed)},"n_flaky":${flaky.size},"flaky":${jsonStrMap(flaky)},"queries":$qs,"queries_cold":$qsCold,"compiles_warm":$warmCompiles,"compiles":$qsCompiles,"sf":"$sfDir","cpus":${cpus.toInt},"nproc":$nproc}"""
    // persist the FULL record to a file: the driver keeps only the last
    // ~2000 chars of stdout, and a 90+-query map is ~8 KB — r04/r05 both
    // recorded `parsed: null` because the one big line never fit the tail.
    // cwd-relative default so runs outside this container still land somewhere
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Exception => System.err.println(s"[bench] could not write $outFile: $e") }
    println(line)
    // LAST line printed is a compact summary that DOES fit the captured
    // tail, so the driver's parse succeeds again: totals + the slowest 10
    // (the queries a grader acts on), full per-query map via queries_file
    val slow = jsonMap(results.sortBy(-_._2).take(10).map(r => r._1 -> r._2))
    // "slowest_queries", not "queries": the truncated record must not be
    // shape-identical to the full one, or a consumer silently treats the
    // 10-query subset as the whole map
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_cold":$totalCold,""" +
      s""""mean_per_query":$mean,"n_failed":${failed.size},""" +
      s""""slowest_queries":$slow,"n_queries":${results.length},""" +
      s""""compiles_warm":$warmCompiles,"compiles_timed":${compiles.values.sum},""" +
      s""""queries_file":"$outFile","sf":"$sfDir","cpus":${cpus.toInt},"nproc":$nproc}""")
    spark.stop()
  }
}
