package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the recorder, the seed and the
  * run's directories (generated inputs in `dataDir`, tables and outputs in
  * `workDir`).
  */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long,
    dataDir: String, workDir: String)

/** A closed-loop workload: its one client waits for each call before it issues
  * the next. The harness times `seed` and `warm` as set-up, then repeats
  * `unit` for the measured window and calls `check` at the end.
  */
trait Workload {
  def ctx: Ctx

  /** Load the generated inputs and create the tables the loop works on.
    * Set-up calls it several times; each call starts from scratch.
    */
  def seed(): Unit

  /** One untimed pass over every operation shape (codegen, JIT, caches). */
  def warm(): Unit

  /** One whole unit of the loop: every run repeats whole units only, so
    * each run issues the same multiset of calls.
    */
  def unit(): Unit

  /** End-of-run check of the table against the workload's own model. */
  def check(): Unit

  /** Workload-specific per-layer metrics over the traced operations. */
  def layerMetrics(traced: Seq[Span], jobs: Map[Long, Seq[JobListener#Job]])
      : Map[String, Double]

  /** Wrong results and failed calls, one line each. */
  val failures: ArrayBuffer[String] = ArrayBuffer.empty

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAIL: $msg")
  }

  /** Run one engine call as a timed operation; a throw is a failure. */
  def attempt(name: String, family: String)(f: => Unit): Unit =
    try ctx.rec.op(name, family)(f)
    catch { case e: Exception => fail(s"$name threw ${e.toString.take(300)}") }
}

object Workload {
  /** p50 latency (ms) and p50 job count of the traced calls named `name`. */
  def verb(traced: Seq[Span], jobs: Map[Long, Seq[JobListener#Job]],
      name: String): (Double, Double) = {
    val calls = traced.filter(_.name == name)
    (Stats.p50OrZero(calls.map(_.ms)),
      Stats.p50OrZero(calls.map(c => jobs.getOrElse(c.id, Nil).size.toDouble)))
  }

  def verbMetrics(prefix: String, traced: Seq[Span],
      jobs: Map[Long, Seq[JobListener#Job]], name: String): Map[String, Double] = {
    val (ms, j) = verb(traced, jobs, name)
    Map(s"${prefix}_ms" -> ms, s"${prefix}_jobs" -> j)
  }
}
