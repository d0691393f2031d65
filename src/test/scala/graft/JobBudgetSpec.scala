package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}
import graft.sources.{ChangeFeed, SnapshotManifest}

/** Spark-job budgets per verb family, counted by a listener: a regression
  * in a family's job count fails here instead of hiding in bench noise.
  * Tables are small and twin-less (the fixed-cost regime the budgets
  * describe). Families pinned so far: change-feed catch-up and reads of a
  * DV-carrying file.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs `body` launches, read once the listener bus has drained. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { body; GraftTestBus.drain(sc); n.get } finally sc.removeSparkListener(l)
  }

  /** A 200-row, 4-file table keyed and stats-tracked on `id`. */
  private def seeded(): String = {
    val root = Files.createTempDirectory("budget").toString
    SnapshotManifest.commit(spark, root,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "x").repartition(4), Seq("id"))
    root
  }

  /** The i-th of a cycle of CoW DML commits, each with feed rows. */
  private def dml(root: String, i: Int): Unit = i % 4 match {
    case 0 => SnapshotManifest.updateWhere(spark, root, col("id") === i.toLong,
      Map("x" -> lit(s"u$i")), Seq("id"))
    case 1 => SnapshotManifest.appendRows(spark, root,
      Seq((1000L + i, s"a$i")).toDF("id", "x"), Seq("id"))
    case 2 => SnapshotManifest.deleteWhere(spark, root, col("id") === i.toLong, Seq("id"))
    case _ => graft.operators.Upsert.mergeWhere(spark, root,
      Seq((i.toLong, s"m$i"), (2000L + i, "n")).toDF("id", "x"), Seq("id"), Seq("id"))
  }

  test("feed catch-up: 8 pending DML commits cost at most one job more than 1") {
    val one = seeded()
    dml(one, 0)
    val eight = seeded()
    (0 until 8).foreach(dml(eight, _))
    val j1 = jobsOf(ChangeFeed.materializeNew(spark, one, Seq("id")))
    val j8 = jobsOf(ChangeFeed.materializeNew(spark, eight, Seq("id")))
    assert(ChangeFeed.materializedRanges(spark, eight).size == 8)
    assert(j8 <= j1 + 1, s"catch-up over 8 commits ran $j8 jobs, over 1 ran $j1")
  }

  test("feed catch-up: the graft.cdf.auto per-commit path stays within its budget") {
    def prepared() = {
      val root = seeded()
      SnapshotManifest.setPrimaryKey(spark, root, Seq("id"))
      ChangeFeed.materializeNew(spark, root)
      root
    }
    val plain = prepared()
    val auto = prepared()
    val base = jobsOf(dml(plain, 0))
    spark.conf.set("graft.cdf.auto", "true")
    val withFeed =
      try jobsOf(dml(auto, 0))
      finally spark.conf.unset("graft.cdf.auto")
    assert(ChangeFeed.materializedRanges(spark, auto).map(_._2).max ==
      SnapshotManifest.currentVersion(spark, auto).get)
    assert(withFeed - base <= AutoCatchUpJobs,
      s"auto catch-up of one commit ran ${withFeed - base} jobs " +
        s"(budget $AutoCatchUpJobs)")
  }

  test("readWhere over a DV-carrying file infers no sidecar schema") {
    val root = seeded()
    SnapshotManifest.deleteWhereMoR(spark, root, col("id") === 5L)
    val jobs = jobsOf(SnapshotManifest.readWhere(spark, root, col("id") === 6L).collect())
    assert(jobs <= DvReadWhereJobs,
      s"a point readWhere over a DV'd file ran $jobs jobs (budget $DvReadWhereJobs)")
  }

  /** Two shuffle-map jobs and one write: the footer schema is read on the
    * driver. A per-step plan with two footer-inference jobs ran 5.
    */
  private val AutoCatchUpJobs = 3

  /** Two schema inferences (the prune's and the scan's), then three jobs
    * for the broadcast DV anti-join and the collect. The sidecar's schema
    * is fixed, so it runs no inference job (with one, 6).
    */
  private val DvReadWhereJobs = 5
}
