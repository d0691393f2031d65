package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.Upsert
import graft.sources.{ChangeFeed, SnapshotManifest}

/** Spark-job budgets per verb family, counted by a listener: a regression
  * in a family's job count fails here instead of hiding in bench noise,
  * and the failure lists each counted job's call site. Tables are small,
  * twin-less and record no schema in their header (the fixed-cost regime
  * the budgets describe). Families pinned: change-feed catch-up and feed
  * read, point `readWhere` (plain and over a DV-carrying file),
  * `appendRows`, CoW `deleteWhere`/`updateWhere`, `deleteWhereMoR`, keyed
  * `Upsert.mergeWhere`, SQL `DELETE`/`MERGE INTO` on a `graft-snapshot`
  * catalog table, and `vacuum`; `vacuum` and `countRows` also on a
  * twin-anchored table (one carrying parquet checkpoint twins).
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** The short call site of each Spark job `body` launches (its final
    * stage's name), read once the listener bus has drained.
    */
  private def jobsOf(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val sites = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        sites.add(e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name))
        ()
      }
    }
    sc.addSparkListener(l)
    try { body; GraftTestBus.drain(sc); sites.asScala.toSeq }
    finally sc.removeSparkListener(l)
  }

  private def assertBudget(what: String, jobs: Seq[String], budget: Int): Unit =
    assert(jobs.size <= budget,
      s"$what ran ${jobs.size} jobs (budget $budget): ${jobs.mkString("; ")}")

  /** A 200-row, 4-file table keyed and stats-tracked on `id`. */
  private def seeded(): String = {
    val root = Files.createTempDirectory("budget").toString
    SnapshotManifest.commit(spark, root,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "x").repartition(4), Seq("id"))
    root
  }

  /** [[seeded]] plus three DML commits, written with a parquet checkpoint
    * twin at every second version: versions 0 and 2 carry twins.
    */
  private def twinAnchored(): String = {
    spark.conf.set("graft.manifest.checkpointInterval", "2")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "1")
    val root = try { val r = seeded(); (0 until 3).foreach(dml(r, _)); r }
    finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
    val twin = new org.apache.hadoop.fs.Path(root, "_ckpt/v00000002")
    assert(twin.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(twin),
      "the version-2 boundary must carry its twin")
    root
  }

  /** The i-th of a cycle of CoW DML commits, each with feed rows. */
  private def dml(root: String, i: Int): Unit = i % 4 match {
    case 0 => SnapshotManifest.updateWhere(spark, root, col("id") === i.toLong,
      Map("x" -> lit(s"u$i")), Seq("id"))
    case 1 => SnapshotManifest.appendRows(spark, root,
      Seq((1000L + i, s"a$i")).toDF("id", "x"), Seq("id"))
    case 2 => SnapshotManifest.deleteWhere(spark, root, col("id") === i.toLong, Seq("id"))
    case _ => Upsert.mergeWhere(spark, root,
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
    assertBudget(s"catch-up over 8 commits (over 1: ${j1.size})", j8, j1.size + 1)
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
    assert(withFeed.size - base.size <= AutoCatchUpJobs,
      s"auto catch-up of one commit ran ${withFeed.size - base.size} jobs " +
        s"(budget $AutoCatchUpJobs): with ${withFeed.mkString("; ")}; " +
        s"without ${base.mkString("; ")}")
  }

  test("a feed read runs only its scan") {
    val root = seeded()
    (0 until 2).foreach(dml(root, _))
    ChangeFeed.materializeNew(spark, root, Seq("id"))
    var rows = Seq.empty[org.apache.spark.sql.Row]
    assertBudget("a two-range feed read", jobsOf {
      rows = ChangeFeed.feed(spark, root).collect().toSeq
    }, 1)
    assert(rows.map(_.getAs[Long]("_commit_version")).toSet == Set(1L, 2L))
  }

  test("vacuum of a small table plans and sweeps on the driver") {
    val root = seeded()
    (0 until 4).foreach(dml(root, _))
    var reclaimed = Seq.empty[Long]
    assertBudget("a keep = 2 vacuum after 4 DML commits", jobsOf {
      reclaimed = SnapshotManifest.vacuum(spark, root, keep = 2)
    }, VacuumJobs)
    assert(reclaimed == Seq(0L, 1L, 2L))
    assert(SnapshotManifest.read(spark, root).count() == 201L)
  }

  test("vacuum of a twin-anchored table plans and sweeps on the driver") {
    val root = twinAnchored()
    var reclaimed = Seq.empty[Long]
    // versions 2 (full) and 3 (delta on 2) survive: no chain-guard rewrite
    assertBudget("a keep = 2 vacuum of a twin-anchored table", jobsOf {
      reclaimed = SnapshotManifest.vacuum(spark, root, keep = 2)
    }, VacuumJobs)
    assert(reclaimed == Seq(0L, 1L))
    assert(SnapshotManifest.read(spark, root).count() == 200L)
  }

  test("countRows of a twin-anchored table answers from stats on the driver") {
    val root = twinAnchored()
    var n = -1L
    // every file has stats: no scan (the executor fold this replaced ran 4)
    assertBudget("countRows of a twin-anchored table",
      jobsOf { n = SnapshotManifest.countRows(spark, root) }, 0)
    assert(n == 200L)
  }

  test("readWhere over a DV-carrying file infers no sidecar schema") {
    val root = seeded()
    SnapshotManifest.deleteWhereMoR(spark, root, col("id") === 5L)
    assertBudget("a point readWhere over a DV'd file",
      jobsOf(SnapshotManifest.readWhere(spark, root, col("id") === 6L).collect()),
      DvReadWhereJobs)
  }

  test("a point readWhere runs only its scan") {
    val root = seeded()
    var rows = Seq.empty[org.apache.spark.sql.Row]
    assertBudget("a point readWhere", jobsOf {
      rows = SnapshotManifest.readWhere(spark, root, col("id") === 6L).collect().toSeq
    }, 1)
    assert(rows == Seq(org.apache.spark.sql.Row(6L, "v6")))
  }

  test("appendRows runs only its write") {
    val root = seeded()
    assertBudget("a 1-row appendRows", jobsOf(SnapshotManifest.appendRows(spark, root,
      Seq((1000L, "a")).toDF("id", "x"), Seq("id"))), 1)
  }

  test("CoW deleteWhere and updateWhere on DV-free files run only their rewrite") {
    val root = seeded()
    assertBudget("a 1-key CoW deleteWhere", jobsOf(SnapshotManifest.deleteWhere(spark,
      root, col("id") === 5L, Seq("id"))), 1)
    assertBudget("a 1-key CoW updateWhere", jobsOf(SnapshotManifest.updateWhere(spark,
      root, col("id") === 6L, Map("x" -> lit("u")), Seq("id"))), 1)
    assert(SnapshotManifest.read(spark, root).filter(col("id") <= 6L)
      .as[(Long, String)].collect().toMap == (0L to 6L).filter(_ != 5L)
      .map(i => i -> (if (i == 6L) "u" else s"v$i")).toMap)
  }

  test("deleteWhereMoR stays within its budget") {
    val root = seeded()
    assertBudget("a 1-key deleteWhereMoR",
      jobsOf(SnapshotManifest.deleteWhereMoR(spark, root, col("id") === 5L)), MorDeleteJobs)
    assert(SnapshotManifest.readWhere(spark, root, col("id") <= 6L).count() == 6L)
  }

  test("a 2-key mergeWhere stays within its budget") {
    val root = seeded()
    assertBudget("a 2-key mergeWhere", jobsOf(Upsert.mergeWhere(spark, root,
      Seq((7L, "m"), (3000L, "n")).toDF("id", "x"), Seq("id"), Seq("id"))), MergeJobs)
    assert(SnapshotManifest.read(spark, root).filter(col("id").isin(7L, 3000L))
      .as[(Long, String)].collect().toMap == Map(7L -> "m", 3000L -> "n"))
  }

  test("SQL DELETE on a graft-snapshot catalog table stays within its budget") {
    val root = seeded()
    withExtSession { ext =>
      ext.sql(s"CREATE TABLE budget_sql_t USING `graft-snapshot` LOCATION '$root'")
      try assertBudget("a 1-key SQL DELETE",
        jobsOf(ext.sql("DELETE FROM budget_sql_t WHERE id = 5")), SqlDeleteJobs)
      finally ext.sql("DROP TABLE IF EXISTS budget_sql_t")
    }
    assert(SnapshotManifest.readWhere(spark, root, col("id") <= 6L).count() == 6L)
  }

  test("SQL MERGE INTO on a graft-snapshot catalog table stays within its budget") {
    val root = seeded()
    withExtSession { ext =>
      ext.sql(s"CREATE TABLE budget_sql_t USING `graft-snapshot` LOCATION '$root'")
      try {
        ext.createDataFrame(Seq((7L, "m"), (3000L, "n"))).toDF("id", "x")
          .createOrReplaceTempView("budget_src")
        assertBudget("a 2-key SQL MERGE INTO", jobsOf(ext.sql(
          """MERGE INTO budget_sql_t t USING budget_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)), SqlMergeJobs)
        assert(SnapshotManifest.read(spark, root).filter(col("id").isin(7L, 3000L))
          .as[(Long, String)].collect().toMap == Map(7L -> "m", 3000L -> "n"))
      } finally ext.sql("DROP TABLE IF EXISTS budget_sql_t")
    }
  }

  /** A session over the shared context with GraftExtensions and the
    * GraftCatalog (SQL DML routes through them); the shared session is
    * restored afterwards.
    */
  private def withExtSession[A](f: SparkSession => A): A = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.GraftCatalog")
      .withExtensions(new GraftExtensions)
      .getOrCreate())
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  /** Two shuffle-map jobs and one write: the footer schema is read on the
    * driver. A per-step plan with two footer-inference jobs ran 5.
    */
  private val AutoCatchUpJobs = 3

  /** Three jobs for the broadcast DV anti-join and the collect. The table
    * and sidecar schemas are read on the driver (a footer and a fixed
    * schema), so the prune and the scan run no inference job (with them, 5
    * and 6).
    */
  private val DvReadWhereJobs = 3

  /** The count of the matched positions with its adaptive stage jobs,
    * then the sidecar write; 7 with the two schema inferences.
    */
  private val MorDeleteJobs = 5

  /** Three for the staged key set (its cache, distinct and collect), then
    * two shuffle-map jobs and the write of the full-outer merge; 8 with
    * the two schema inferences.
    */
  private val MergeJobs = 6

  /** The rewrite alone; 4 with the table load's and the verb's schema
    * inferences and the rewrite scan's.
    */
  private val SqlDeleteJobs = 1

  /** [[MergeJobs]]; 9 with the table load's inference as well. */
  private val SqlMergeJobs = 6

  /** None: the plan (`vacuumPlan`: the retained manifests' references,
    * one listing per data directory) and the sweep are driver metadata
    * calls, with or without a parquet twin. The executor plan this
    * replaced ran 10 jobs on a twin-anchored body.
    */
  private val VacuumJobs = 0
}
