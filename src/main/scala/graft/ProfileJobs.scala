package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler: run one query and print every Spark job it launched —
  * callsite, duration, task count — so a multi-verb lifecycle query's wall
  * time decomposes into its constituent actions (guide §1: measure first,
  * find where the time actually goes before touching anything).
  *
  * Usage: runMain graft.ProfileJobs [sfDir] [queryName ...]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q132_table_lifecycle")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.builder("graft-profile-jobs",
      master = s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    final case class Rec(id: Int, callsite: String, nTasks: Int,
      start: Long, var end: Long = -1L)
    val recs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the final stage's name carries the job's call site; Spark sets
        // the `callSite.short` property only under an explicit setCallSite
        val cs = j.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)
        recs.put(j.jobId, Rec(j.jobId, cs,
          j.stageInfos.map(_.numTasks).sum, j.time))
        order.add(j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val r = recs.get(j.jobId); if (r != null) r.end = j.time
      }
    })
    def mat(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm the shapes once at the smallest SF (codegen/JIT out of the way)
    names.foreach { n =>
      try mat(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    // poor man's driver sampler: sample the MAIN thread's stack every 20ms
    // while the timed query runs, aggregate by the deepest graft/catalyst
    // frame — tells us what the driver-side gaps between jobs actually are
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val frames = st.map(f => s"${f.getClassName}.${f.getMethodName}")
          val key = frames.take(40).mkString(" <- ")
          samples.merge(key, 1, (a, b) => a + b)
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true); sampler.start()
    names.foreach { n =>
      recs.clear(); order.clear(); samples.clear()
      val t0 = System.nanoTime()
      sampling = true
      mat(SparkEntry.queries(n)(spark, sfDir))
      sampling = false
      val wall = (System.nanoTime() - t0) / 1e9
      // aggregate sampled stacks by their most informative frame
      import scala.jdk.CollectionConverters._
      val agg = new scala.collection.mutable.HashMap[String, Int]()
      samples.asScala.foreach { case (stack, cnt) =>
        agg.updateWith(stack.split(" <- ").take(12).mkString(" <- "))(
          o => Some(o.getOrElse(0) + cnt))
      }
      println(s"\n----- $n driver main-thread samples (20ms each, top 25) -----")
      agg.toSeq.sortBy(-_._2).take(25).foreach { case (k, c) =>
        println(f"  $c%5d  $k")
      }
      // settle listener events
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val rows = order.asScala.toSeq.flatMap(id => Option(recs.get(id)))
      val jobSum = rows.map(r => math.max(0L, r.end - r.start)).sum / 1e3
      println(f"\n===== $n wall=$wall%.2fs jobs=${rows.size} jobTimeSum=$jobSum%.2fs (gaps = driver-side work) =====")
      var prevEnd = -1L
      rows.foreach { r =>
        val gap = if (prevEnd < 0) 0.0 else (r.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, r.end)
        println(f"  job ${r.id}%4d ${(r.end - r.start) / 1e3}%7.3fs gapBefore=$gap%6.3fs tasks=${r.nTasks}%4d  ${r.callsite}")
      }
    }
    spark.stop()
  }
}
