package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into the engine (an operation), or one cycle that groups
  * several of them. `phase` says which part of the run it belongs to:
  * "warm" (set-up, not timed), "base" (timed, tracing off) or "traced".
  */
final case class Span(id: Long, name: String, family: String, parent: Long,
    phase: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    ok: Boolean, isCycle: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records every operation's latency (always: that is the measurement) and,
  * while `tracing` is on, tags each operation's Spark jobs with its id
  * through a local property so [[JobListener]] can attribute them.
  */
final class Recorder(spark: SparkSession) {
  private var nextId = 1L
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil // enclosing spans, innermost first
  var phase = "warm"
  var tracing = false

  def op[A](name: String, family: String)(f: => A): A =
    run(name, family, isCycle = false)(f)

  def cycle[A](name: String)(f: => A): A = run(name, "cycle", isCycle = true)(f)

  private def run[A](name: String, family: String, isCycle: Boolean)(f: => A): A = {
    val id = nextId
    nextId += 1
    val outer = stack
    val sc = spark.sparkContext
    if (tracing) sc.setLocalProperty(JobListener.OpProperty, id.toString)
    stack = id :: outer
    val ph = phase
    val s = System.nanoTime(); val sMs = System.currentTimeMillis()
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      val e = System.nanoTime(); val eMs = System.currentTimeMillis()
      stack = outer
      if (tracing) sc.setLocalProperty(JobListener.OpProperty,
        outer.headOption.map(_.toString).orNull)
      spans += Span(id, name, family, outer.headOption.getOrElse(0L), ph, s, e,
        sMs, eMs, ok, isCycle)
    }
  }

  def all: Seq[Span] = spans.toList
  def ops(phase: String): Seq[Span] = all.filter(s => !s.isCycle && s.phase == phase)
  def cycles(phase: String): Seq[Span] = all.filter(s => s.isCycle && s.phase == phase)
}

/** Per-job counts gathered from the scheduler's events, keyed by the
  * operation that launched the job. Registered only for the traced run.
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val op: Long, val submitMs: Long) {
    var endMs: Long = -1L
    var tasks = 0
    var shuffleWriteBytes = 0L
    var outputBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobListener.OpProperty))).map(_.toLong).getOrElse(0L)
    val j = new Job(e.jobId, op, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  /** Jobs per operation id. A job launched without the tag (a thread the
    * local property did not reach) goes to the operation whose interval
    * holds its submission time.
    */
  def byOp(ops: Seq[Span]): Map[Long, Seq[Job]] = {
    val ids = ops.map(_.id).toSet
    jobs.values.asScala.toSeq.flatMap { j =>
      if (ids(j.op)) Some(j.op -> j)
      else if (j.op == 0L) ops.find(o => o.startMs <= j.submitMs &&
        j.submitMs <= o.endMs).map(o => o.id -> j)
      else None
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

object JobListener {
  val OpProperty = "perfbench.op"

  /** Milliseconds covered by the union of the jobs' [submit, end] intervals. */
  def busyMs(jobs: Seq[JobListener#Job]): Long = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (j.submitMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (curE < 0 || s > curE) {
        if (curE >= 0) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p50OrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else p50(xs)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y over x (0 with fewer than two distinct x). */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.map(_._1).distinct.size < 2) return 0.0
    val mx = mean(pts.map(_._1)); val my = mean(pts.map(_._2))
    pts.map { case (x, y) => (x - mx) * (y - my) }.sum /
      pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }
}
