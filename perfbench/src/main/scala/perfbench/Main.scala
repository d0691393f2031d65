package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Harness entry point, launched by `run.py` (which generates the inputs,
  * builds this package and checks the oracle-backed outputs):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --out FILE --cpus N
  *
  * Set-up runs first: the session, then `Seedings` seedings of the
  * workload's tables (each from scratch; the last one is kept), then one warm
  * pass. `setup_s` is the time from JVM start to a ready session, plus the
  * median seeding, plus the warm pass. The measured window follows. With
  * `--trace 1` the window alternates untraced and traced units, in pairs, so
  * the traced minus untraced p50 gives the tracing overhead under the same
  * JIT and table state; only traced units tag their jobs with operation ids.
  * Writes one JSON object to `--out`; spans go to `work/spans.jsonl`.
  */
object Main {
  /** Seedings per run: `setup_s` takes their median. */
  val Seedings = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.builder("perfbench", master = s"local[$cpus]",
      shufflePartitions = cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)
    val readyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val rec = new Recorder(spark)
    val ctx = Ctx(spark, rec, a("seed").toLong, a("data"), work)
    val wl: Workload = name match {
      case "read_mix" => new ReadMix(ctx)
      case "commit_small" => new CommitSmall(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val seedS = Stats.p50((1 to Seedings).map { _ =>
      val t1 = System.nanoTime(); wl.seed(); secondsSince(t1)
    })
    val t2 = System.nanoTime(); wl.warm(); val warmS = secondsSince(t2)
    val setupS = readyS + seedS + warmS

    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    // whole units, at least one (a pair when tracing), until `seconds` passed
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do {
      rec.phase = "base"
      wl.unit()
      if (trace) {
        rec.tracing = true
        rec.phase = "traced"
        wl.unit()
        rec.tracing = false
      }
    } while (System.nanoTime() < end)
    val gcDelta = gcMs() - gc0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    rec.phase = "check"
    try wl.check() catch { case e: Exception => wl.fail(s"check threw $e") }

    val phase = if (trace) "traced" else "base"
    val ops = rec.ops(phase)
    require(ops.nonEmpty, "no operation completed in the measured window")
    val wallS = (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9
    val endToEnd = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.p50(ops.map(_.ms)),
      "op_p90_ms" -> Stats.quantile(ops.map(_.ms), 0.9),
      "ops_per_s" -> ops.size / wallS,
      "cycle_p50_s" -> Stats.p50(rec.cycles(phase).map(_.ms / 1000.0)))

    val perLayer = if (!trace) Map.empty[String, Double] else {
      val jobs = listener.byOp(ops)
      val all = ops.flatMap(o => jobs.getOrElse(o.id, Nil))
      val n = ops.size.toDouble
      val gaps = ops.map(o => o.ms - JobListener.busyMs(jobs.getOrElse(o.id, Nil)))
      Map(
        "core.session_start_s" -> sessionS,
        "setup.seed_s" -> seedS,
        "setup.warm_s" -> warmS,
        "spark.jobs_per_op" -> all.size / n,
        "spark.tasks_per_op" -> all.map(_.tasks).sum / n,
        "spark.one_task_job_share" ->
          (if (all.isEmpty) 0.0 else all.count(_.tasks == 1).toDouble / all.size),
        "spark.driver_gap_ms_per_op" -> gaps.sum / n,
        "spark.job_busy_share" ->
          ops.map(o => JobListener.busyMs(jobs.getOrElse(o.id, Nil)).toDouble).sum /
            ops.map(_.ms).sum,
        "spark.shuffle_write_bytes_per_op" -> all.map(_.shuffleWriteBytes).sum / n,
        "spark.output_bytes_per_op" -> all.map(_.outputBytes).sum / n,
        "jvm.gc_ms_per_op" -> gcDelta / (n + rec.ops("base").size),
        "jvm.heap_peak_mb" -> heapPeakMb,
        "trace.overhead_ms_per_op" ->
          (Stats.p50(ops.map(_.ms)) - Stats.p50(rec.ops("base").map(_.ms)))
      ) ++ wl.layerMetrics(ops, jobs)
    }
    if (trace) writeSpans(s"$work/spans.jsonl", rec.all)

    val oracles = wl match { case r: ReadMix => r.oracles; case _ => Map.empty[String, String] }
    val json = Json.obj(Seq(
      "workload" -> Json.str(name),
      "attempted" -> (rec.all.count(!_.isCycle) + 1).toString,
      "failed" -> wl.failures.size.toString,
      "failures" -> Json.arr(wl.failures.toSeq.map(Json.str)),
      "end_to_end" -> (if (trace) "{}" else Json.nums(endToEnd)),
      "per_layer" -> Json.nums(perLayer),
      "ops" -> ops.size.toString,
      "cycles" -> rec.cycles(phase).size.toString,
      "oracles" -> Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
      "meta" -> Json.obj(Seq(
        "local" -> Json.str(s"local[$cpus]"),
        "driver_max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "spark_version" -> Json.str(spark.version)))))
    Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "family" -> Json.str(s.family),
      "phase" -> Json.str(s.phase), "start_ms" -> s.startMs.toString,
      "end_ms" -> s.endMs.toString, "dur_ms" -> s.ms.toString,
      "ok" -> s.ok.toString, "cycle" -> s.isCycle.toString)))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for the result record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"metric value $d")
    else d.toString
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
