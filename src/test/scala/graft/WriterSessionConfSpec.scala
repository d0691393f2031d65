package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.sources.SnapshotManifest

/** Engine data-file writes run through a per-write clone of the caller's
  * session (INT64-micros timestamps set on the clone only). The clone must
  * carry the caller's RUNTIME conf — values set after the session was
  * built — not just its builder-time confs.
  */
class WriterSessionConfSpec extends SparkSpec {

  private val runtimeConf = Map(
    "spark.sql.caseSensitive" -> "true",
    "spark.sql.shuffle.partitions" -> "3",
    "spark.sql.session.timeZone" -> "America/Los_Angeles")
  private val tsKey = "spark.sql.parquet.outputTimestampType"

  test("an engine commit honours the caller's runtime case, shuffle and time-zone conf") {
    val prior = runtimeConf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    // every execution's session conf, as the listener saw it; the clone is
    // made per write, so it copies this listener like any other state
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val c = qe.sparkSession.conf
        seen.add((runtimeConf.keys.toSeq :+ tsKey).map(k => k -> c.get(k, "")).toMap)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      runtimeConf.foreach { case (k, v) => spark.conf.set(k, v) }
      val root = Files.createTempDirectory("writerconf").toString
      // case-colliding columns: only a case-SENSITIVE writer can stage them
      // (a case-insensitive one dies with COLUMN_ALREADY_EXISTS)
      SnapshotManifest.commit(spark, root,
        spark.range(60).select(col("id"), (col("id") * 2).as("ID")))
      val back = SnapshotManifest.read(spark, root)
      assert(back.columns.toSeq == Seq("id", "ID"))
      assert(back.filter(col("ID") === col("id") * 2).count() == 60L)
      // the engine's writer session (the only one writing MICROS) carried
      // all three runtime values
      eventually(timeout(Span(30, Seconds))) {
        import scala.jdk.CollectionConverters._
        val writes = seen.asScala.filter(_(tsKey) == "TIMESTAMP_MICROS").toSeq
        assert(writes.nonEmpty, "no engine write reached the listener")
        writes.foreach(w => runtimeConf.foreach { case (k, v) =>
          assert(w(k) == v, s"engine write ran with $k=${w(k)}, caller set $v")
        })
      }
      // ... while the caller's own session never saw the engine's encoding
      assert(!spark.conf.getOption(tsKey).contains("TIMESTAMP_MICROS"))
    } finally {
      spark.listenerManager.unregister(listener)
      prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
