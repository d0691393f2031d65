package graft

import java.nio.file.Files

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.Upsert
import graft.sources.{ChangeFeed, SnapshotManifest}

/** Spark-job budgets per verb family, counted by a listener: a regression
  * in a family's job count fails here instead of hiding in bench noise,
  * and the failure lists each counted job's call site. Tables are small,
  * twin-less and record no schema in their header (the fixed-cost regime
  * the budgets describe). Families pinned: change-feed catch-up and feed
  * read, point `readWhere` (plain and over a DV-carrying file),
  * `appendRows`, CoW `deleteWhere`/`updateWhere`, `deleteWhereMoR` and CoW
  * `deleteWhere` on a clean and on a DV-carrying file, keyed
  * `Upsert.mergeWhere`, SQL `DELETE`/`MERGE INTO` on a `graft-snapshot`
  * catalog table, and `vacuum`; `vacuum` and `countRows` also on a
  * twin-anchored table (one carrying parquet checkpoint twins); and two
  * sorted read queries over fixture tables, one with a stage below its
  * sort and one without.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def jobsOf(body: => Any): Seq[String] = GraftTestBus.jobsOf(spark.sparkContext)(body)

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

  /** `name` at sf0.001 through the noop sink, in a session with the
    * engine's extensions (as `graft.core.Sessions` builds).
    */
  private def readQueryJobs(name: String): Seq[String] = withExtSession { ext =>
    jobsOf(SparkEntry.queries(name)(ext, sfDir).write.format("noop").mode("overwrite").save())
  }

  test("a read query opens its tables without a schema-inference job") {
    assertBudget("q11_having at sf0.001 through the noop sink",
      readQueryJobs("q11_having"), ReadQueryJobs)
  }

  test("a stage-free sorted read runs no sampling job") {
    assertBudget("q24_minhash_signature at sf0.001 through the noop sink",
      readQueryJobs("q24_minhash_signature"), StageFreeReadJobs)
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

  test("deleteWhereMoR on a file that already carries a DV stays within its budget") {
    val root = seeded()
    SnapshotManifest.deleteWhereMoR(spark, root, col("id") === 5L)
    assertBudget("a 1-key deleteWhereMoR over a DV'd file",
      jobsOf(SnapshotManifest.deleteWhereMoR(spark, root, col("id") === 6L)), MorDeleteDvJobs)
    assert(SnapshotManifest.readWhere(spark, root, col("id") <= 7L).count() == 6L)
  }

  test("CoW deleteWhere on a file that carries a DV stays within its budget") {
    val root = seeded()
    SnapshotManifest.deleteWhereMoR(spark, root, col("id") === 5L)
    assertBudget("a 1-key CoW deleteWhere over a DV'd file",
      jobsOf(SnapshotManifest.deleteWhere(spark, root, col("id") === 6L, Seq("id"))),
      DvDeleteJobs)
    assert(SnapshotManifest.readWhere(spark, root, col("id") <= 7L).count() == 6L)
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

  /** Two shuffle-map jobs and one write: the footer schema is read on the
    * driver. A per-step plan with two footer-inference jobs ran 5.
    */
  private val AutoCatchUpJobs = 3

  /** The collect alone: the sidecar's positions are read on the driver
    * and mask the scan by a row-position filter. The distinct and
    * broadcast anti-join this replaced ran 3.
    */
  private val DvReadWhereJobs = 1

  /** The bounded collect of the matched positions, one job over every
    * partition; the count, the basenames and the sidecar write run on the
    * driver. 2 when the collect scanned one partition and then the rest,
    * 5 with the count's adaptive stage jobs and a sidecar write job.
    */
  private val MorDeleteJobs = 1

  /** [[MorDeleteJobs]]: the prior sidecar's positions are read on the
    * driver. 11 when they were a persisted, counted and collected frame.
    */
  private val MorDeleteDvJobs = 2

  /** The rewrite alone: the prior DV masks the rewrite scan by a
    * row-position filter. 3 with a distinct and broadcast anti-join.
    */
  private val DvDeleteJobs = 1

  /** Two shuffle-map jobs and the write of the full-outer merge: the
    * 2-row staged batch is a local relation, so its key set is read on the
    * driver. 6 with the key set's cache, distinct and collect; 8 with the
    * two schema inferences as well.
    */
  private val MergeJobs = 3

  /** The rewrite alone; 4 with the table load's and the verb's schema
    * inferences and the rewrite scan's.
    */
  private val SqlDeleteJobs = 1

  /** [[MergeJobs]]: the source view is local too. 6 at the key set's
    * three jobs, 9 with the table load's inference as well.
    */
  private val SqlMergeJobs = 3

  /** q11_having's own plan: the aggregate's shuffle-map job, the sort's
    * shuffle-map job and the result. Its table is opened with the schema
    * read from the file's footer on the driver, and the small sort takes
    * one range partition, so its partitioner samples nothing. 4 with the
    * sampling job, 5 with the open's inference job as well.
    */
  private val ReadQueryJobs = 3

  /** q24_minhash_signature's plan has no stage below its sort: the sort's
    * shuffle-map job and the result. 3 with the range partitioner's
    * sampling job.
    */
  private val StageFreeReadJobs = 2

  /** None: the plan (`vacuumPlan`: the retained manifests' references,
    * one listing per data directory) and the sweep are driver metadata
    * calls, with or without a parquet twin. The executor plan this
    * replaced ran 10 jobs on a twin-anchored body.
    */
  private val VacuumJobs = 0
}
