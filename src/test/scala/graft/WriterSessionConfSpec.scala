package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.sources.SnapshotManifest

/** Engine data-file writes run through a clone of the caller's session
  * (INT64-micros timestamps set on the clone only). The clone must carry
  * the caller's RUNTIME conf — values set after the session was built —
  * not just its builder-time confs. One clone is reused across writes, so
  * a conf set or a listener registered between two writes must still
  * reach the second.
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

  /** Every engine write's (writer session, value of `key` in its conf),
    * as a listener registered on the caller sees them: the engine's writer
    * session is the only one writing MICROS timestamps.
    */
  private def engineWrites(key: String) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(AnyRef, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val c = qe.sparkSession.conf
        if (c.get(tsKey, "") == "TIMESTAMP_MICROS") seen.add((qe.sparkSession, c.get(key, "")))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    (seen, listener)
  }

  test("a runtime conf set between two engine writes reaches the second write") {
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.caseSensitive"
    val prior = spark.conf.getOption(key)
    val (seen, listener) = engineWrites(key)
    spark.listenerManager.register(listener)
    try {
      spark.conf.set(key, "false")
      SnapshotManifest.commit(spark, Files.createTempDirectory("writerconf").toString,
        spark.range(5).select(col("id")))
      spark.conf.set(key, "true")
      // case-colliding columns stage only under a case-SENSITIVE writer: a
      // writer session still on the first write's conf would refuse them
      val root = Files.createTempDirectory("writerconf").toString
      SnapshotManifest.commit(spark, root,
        spark.range(5).select(col("id"), (col("id") * 2).as("ID")))
      assert(SnapshotManifest.read(spark, root).columns.toSeq == Seq("id", "ID"))
      eventually(timeout(Span(30, Seconds))) {
        assert(seen.asScala.map(_._2).toSeq.distinct == Seq("false", "true"))
      }
    } finally {
      spark.listenerManager.unregister(listener)
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("a listener registered after a first engine write sees the next ones, on one writer session") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("writerconf").toString
    SnapshotManifest.commit(spark, root, spark.range(5).select(col("id")))
    val (seen, listener) = engineWrites(tsKey)
    spark.listenerManager.register(listener)
    try {
      (5 until 7).foreach(i =>
        SnapshotManifest.appendRows(spark, root, spark.range(i, i + 1).select(col("id"))))
      eventually(timeout(Span(30, Seconds))) {
        assert(seen.size == 2, "the listener missed an engine write after it registered")
      }
      // unchanged conf and listeners: both appends reused one writer clone
      assert(seen.asScala.map(_._1).toSet.size == 1)
      assert(SnapshotManifest.read(spark, root).count() == 7L)
    } finally spark.listenerManager.unregister(listener)
  }
}
