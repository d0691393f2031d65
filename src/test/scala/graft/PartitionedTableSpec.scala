package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.SnapshotManifest

/** Declared partition columns + metadata-only DELETE + cheap-rebase APPEND.
  *
  * The 100-TB contract under test: with `partition=` declared, every data
  * file holds one partition-value tuple (recorded as min==max stats), so a
  * partition-predicate read prunes EXACTLY and a partition-predicate
  * DELETE drops manifest lines with zero data I/O — Delta's "drop
  * partition" path, constant cost at any table size. Appends stage their
  * rows once and rebase a lost race by re-publishing the same staged
  * files.
  */
class PartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("part").toString

  private def dataDirs(root: String): Set[String] = {
    val p = new Path(root, "data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  private def sample(n: Int) =
    spark.range(0, n).toDF("id")
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr")),
        (col("id") % 3 + 1).cast("int")))
      .withColumn("score", (col("id") * 7 % 100).cast("long"))

  test("partitioned commit: one partition value per file, header persists, pruning is exact") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(300), Seq("score"),
      Nil, Seq("lang"))
    assert(SnapshotManifest.partitionColumns(spark, root, 0L) == Seq("lang"))
    // every data file is single-valued in the partition column — the
    // property the metadata-only delete proof rests on
    val files = SnapshotManifest.snapshotFiles(spark, root, 0L)
    assert(files.size >= 3, s"expected >=3 files (one per lang), got ${files.size}")
    files.foreach { f =>
      val d = spark.read.parquet(f).select("lang").distinct().collect()
      assert(d.length == 1, s"file $f holds ${d.length} partition values")
    }
    // partition pruning is EXACT: only en-files survive the prune
    val enFiles = SnapshotManifest.prunedFiles(spark, root, 0L, col("lang") === "en")
    assert(enFiles.nonEmpty && enFiles.size < files.size)
    enFiles.foreach { f =>
      assert(spark.read.parquet(f).select("lang").distinct().head().getString(0) == "en")
    }
    // and the partition columns are in the file DATA (not only the path):
    // a plain read round-trips them
    val got = SnapshotManifest.read(spark, root)
    assert(got.columns.sorted.toSeq == Seq("id", "lang", "score"))
    assert(got.count() == 300)
    assert(got.filter(col("lang") === "en").count() == 100)
  }

  test("deleteWhere on a partition predicate is metadata-only; range purge mixes drop + rewrite") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(300), Seq("score"),
      Nil, Seq("lang"))
    val before = dataDirs(root)
    val v1 = SnapshotManifest.deleteWhere(spark, root, col("lang") === "de",
      Seq("score"))
    assert(v1 == 1L)
    // METADATA-ONLY: no staging dir appeared, the new manifest body is a
    // strict subset of the old one
    assert(dataDirs(root) == before, "partition delete must not write data")
    val body0 = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
    val body1 = SnapshotManifest.snapshotFiles(spark, root, 1L).toSet
    assert(body1.subsetOf(body0) && body1.size < body0.size)
    val left = SnapshotManifest.read(spark, root)
    assert(left.count() == 200 && left.filter(col("lang") === "de").count() == 0)
    // a RANGE purge (retention cutoff) over a day-partitioned table:
    // every file below the cutoff is wholly covered — metadata-only
    val root2 = newRoot()
    SnapshotManifest.commit(spark, root2,
      spark.range(0, 100).toDF("id").withColumn("day", (col("id") / 10).cast("long")),
      Nil, Nil, Seq("day"))
    val dirsBefore = dataDirs(root2)
    SnapshotManifest.deleteWhere(spark, root2, col("day") < 5L, Seq("day"))
    val kept = SnapshotManifest.read(spark, root2)
    assert(kept.count() == 50 && kept.agg(min("day")).head().getLong(0) == 5L)
    assert(dataDirs(root2) == dirsBefore, "range purge over partitions is metadata-only")
  }

  test("deleting every row metadata-only keeps the table readable (schema recorded)") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(30), Nil, Nil, Seq("lang"))
    SnapshotManifest.deleteWhere(spark, root, col("lang").isin("en", "de", "fr"))
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 0)
    assert(got.columns.sorted.toSeq == Seq("id", "lang", "score"))
    assert(SnapshotManifest.countRows(spark, root) == 0L)
  }

  test("declared partitioning survives DML rewrites and full commits; dropped loudly when absent") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(90), Seq("score"), Nil, Seq("lang"))
    // a CoW update keeps the property and its rewritten files re-cluster
    SnapshotManifest.updateWhere(spark, root, col("lang") === "en",
      Map("score" -> lit(0L).cast("long")), Seq("score"))
    assert(SnapshotManifest.partitionColumns(spark, root,
      SnapshotManifest.currentVersion(spark, root).get) == Seq("lang"))
    SnapshotManifest.snapshotFiles(spark, root,
      SnapshotManifest.currentVersion(spark, root).get).foreach { f =>
      assert(spark.read.parquet(f).select("lang").distinct().count() == 1)
    }
    // a full commit CARRIES the declaration (the frame has the column)
    SnapshotManifest.commit(spark, root, sample(60), Seq("score"))
    val vNow = SnapshotManifest.currentVersion(spark, root).get
    assert(SnapshotManifest.partitionColumns(spark, root, vNow) == Seq("lang"))
    // and drops it loudly when the frame lacks the column
    SnapshotManifest.commit(spark, root, spark.range(5).toDF("id"))
    assert(SnapshotManifest.partitionColumns(spark, root,
      SnapshotManifest.currentVersion(spark, root).get).isEmpty)
  }

  test("late declaration: old files stay readable, churn re-clusters them") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(90).repartition(2), Seq("score"))
    SnapshotManifest.setPartitionColumns(spark, root, Seq("lang"))
    // old multi-valued files: reads correct, deletes fall back to rewrite
    val before = dataDirs(root)
    SnapshotManifest.deleteWhere(spark, root, col("lang") === "de", Seq("score"))
    assert(dataDirs(root) != before, "unclustered files must rewrite")
    val left = SnapshotManifest.read(spark, root)
    assert(left.count() == 60 && left.filter(col("lang") === "de").count() == 0)
    // the rewrite CLUSTERED the surviving rows — the next partition
    // delete is metadata-only
    val before2 = dataDirs(root)
    SnapshotManifest.deleteWhere(spark, root, col("lang") === "fr", Seq("score"))
    assert(dataDirs(root) == before2, "post-rewrite partition delete is metadata-only")
    assert(SnapshotManifest.read(spark, root).count() == 30)
    // unsupported / unknown columns fail the declare loudly
    intercept[IllegalArgumentException] {
      SnapshotManifest.setPartitionColumns(spark, root, Seq("nope"))
    }
  }

  test("mustMatch truth table: proofs only where stats are conclusive") {
    import graft.sources.ManifestStats
    import graft.sources.ManifestStats.{ColStats, FileStats}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("lang", StringType),
      StructField("day", LongType)))
    def p(c: org.apache.spark.sql.Column) =
      ManifestStats.resolvePredicate(spark, schema, c)
    def fs(rows: Long, nulls: Long, mn: Any, mx: Any) =
      FileStats(rows, Map("day" -> ColStats(Option(mn).map(v =>
        BigDecimal(v.toString)), Option(mx).map(v => BigDecimal(v.toString)),
        nulls)))
    val single = fs(10, 0, 5, 5)          // single-valued, no nulls
    val range = fs(10, 0, 3, 7)           // range, no nulls
    val withNull = fs(10, 2, 5, 5)        // single-valued but 2 nulls
    val allNull = FileStats(4, Map("day" -> ColStats(None, None, 4)))
    val empty = fs(0, 0, null, null)
    def must(c: org.apache.spark.sql.Column, f: FileStats) =
      ManifestStats.mustMatch(p(c), f)
    // equality: proven iff single-valued and null-free
    assert(must(col("day") === 5L, single))
    assert(!must(col("day") === 5L, range))
    assert(!must(col("day") === 5L, withNull), "a null row is never deleted by = — file not provable")
    assert(!must(col("day") === 4L, single))
    // ranges: whole-file coverage only
    assert(must(col("day") < 8L, range))
    assert(!must(col("day") < 7L, range))
    assert(must(col("day") <= 7L, range))
    assert(must(col("day") >= 3L, range))
    assert(!must(col("day") > 3L, range))
    // IN: single-valued membership
    assert(must(col("day").isin(4L, 5L), single))
    assert(!must(col("day").isin(4L, 6L), single))
    assert(!must(col("day").isin(4L, 5L), range))
    // null predicates
    assert(must(col("day").isNull, allNull))
    assert(!must(col("day").isNull, withNull))
    assert(must(col("day").isNotNull, single))
    assert(!must(col("day").isNotNull, withNull))
    // conjunction/disjunction
    assert(must(col("day") === 5L && col("day") >= 0L, single))
    assert(!must(col("day") === 5L && col("lang") === "en", single),
      "stats-less column can never prove")
    assert(must(col("day") === 5L || col("lang") === "en", single))
    // an EMPTY file proves NOTHING (vacuous truth would make deleteWhere
    // publish a spurious version for a predicate matching no rows) and
    // provably matches nothing
    assert(!must(col("lang") === "zz", empty))
    assert(!ManifestStats.mayMatch(p(col("lang") === "zz"), empty))
    // never prove on a guess: unrecognized shapes
    assert(!must(length(col("lang")) > 0, single))
    // proofs always imply mayMatch keeps the file (subset sanity)
    Seq(single, range, withNull).foreach { f =>
      val c = col("day") === 5L
      if (ManifestStats.mustMatch(p(c), f))
        assert(ManifestStats.mayMatch(p(c), f))
    }
  }

  test("OPTIMIZE ZORDER composes with declared partitioning: z-sort within partition files") {
    val root = newRoot()
    // a == b == id in [0,255] at bits=8 makes the z-value strictly
    // increasing in id — intra-file sortedness is then observable as
    // sorted ids
    val df = spark.range(0, 256).toDF("id")
      .withColumn("a", col("id")).withColumn("b", col("id"))
      .withColumn("grp", (col("id") % 2).cast("long"))
      .orderBy(rand(7)) // scrambled input: the sort must come from OPTIMIZE
    SnapshotManifest.commit(spark, root, df, Seq("a"), Nil, Seq("grp"))
    graft.operators.Layout.optimizeSnapshot(spark, root, Seq("a", "b"), bits = 8)
    val v = SnapshotManifest.currentVersion(spark, root).get
    assert(SnapshotManifest.partitionColumns(spark, root, v) == Seq("grp"))
    val files = SnapshotManifest.snapshotFiles(spark, root, v)
    files.foreach { f =>
      val rows = spark.read.parquet(f)
      // the reserved marker never lands in the data
      assert(!rows.columns.contains("__graft_cluster_sort"))
      // still one partition value per file
      assert(rows.select("grp").distinct().count() == 1)
      // and rows inside the file are z-sorted (here: sorted by id)
      val ids = rows.select("id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted),
        s"file $f not z-sorted within its partition")
    }
    // content untouched by the re-layout
    assert(SnapshotManifest.read(spark, root).agg(sum("id")).head().getLong(0)
      == (0L until 256L).sum)
  }

  test("a USER column colliding with the reserved sort-marker name is rejected, never silently dropped") {
    val root = newRoot()
    val df = spark.range(3).toDF("id")
      .withColumn("__graft_cluster_sort", col("id") * 2L)
    val e = intercept[IllegalArgumentException] {
      SnapshotManifest.commit(spark, root, df)
    }
    assert(e.getMessage.contains("RESERVED"))
  }

  test("vacuum understands nested partitioned layouts: live dirs survive, superseded files reclaim") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(90), Seq("score"), Nil, Seq("lang"))
    // churn: rewrite the en partition (CoW update), superseding its file
    SnapshotManifest.updateWhere(spark, root, col("lang") === "en",
      Map("score" -> lit(1L)), Seq("score"))
    val expected = SnapshotManifest.read(spark, root).count()
    val reclaimed = SnapshotManifest.vacuum(spark, root, keep = 1)
    assert(reclaimed == Seq(0L))
    // the LIVE state survives intact — the nested __gp_ layout must not
    // make referenced dirs look unreferenced
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == expected)
    assert(got.filter(col("lang") === "en").agg(max("score")).head().getLong(0) == 1L)
    // and the superseded en file inside the still-referenced v0 dir is gone
    val live = SnapshotManifest.snapshotFiles(spark, root, 1L)
      .map(f => new Path(f).getName).toSet
    val p = new Path(root, "data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) onDisk += s.getPath.getName
    }
    assert(onDisk.toSet == live,
      s"disk should hold exactly the live files; extra: ${onDisk.toSet -- live}")
  }

  test("appendRows: O(new rows) commit, strict schema gate") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(60), Seq("score"), Nil, Seq("lang"))
    val dirs0 = dataDirs(root)
    val v1 = SnapshotManifest.appendRows(spark, root,
      sample(30).withColumn("id", col("id") + 1000), Seq("score"))
    assert(v1 == 1L)
    // existing lines carried verbatim: old files still referenced, one new dir
    val b0 = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
    val b1 = SnapshotManifest.snapshotFiles(spark, root, 1L).toSet
    assert(b0.subsetOf(b1))
    assert((dataDirs(root) -- dirs0).size == 1)
    assert(SnapshotManifest.read(spark, root).count() == 90)
    // appended files honor the declared partitioning
    (b1 -- b0).foreach { f =>
      assert(spark.read.parquet(f).select("lang").distinct().count() == 1)
    }
    // schema gate: missing column, extra column, retyped column all loud
    intercept[IllegalArgumentException] {
      SnapshotManifest.appendRows(spark, root, Seq((1L, "en")).toDF("id", "lang"))
    }
    intercept[IllegalArgumentException] {
      SnapshotManifest.appendRows(spark, root,
        sample(1).withColumn("extra", lit(1)))
    }
    intercept[IllegalArgumentException] {
      SnapshotManifest.appendRows(spark, root,
        sample(1).withColumn("score", col("score").cast("int")))
    }
  }

  test("appendRowsWithRetry: a lost race re-publishes the staged files without rewriting data") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(30), Seq("score"), Nil, Seq("lang"))
    // two appenders race for version 1; both must land, and the loser's
    // rebase must reuse its staged dir (total new dirs == 2, one each)
    val dirs0 = dataDirs(root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val ts = (1 to 2).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          SnapshotManifest.appendRowsWithRetry(spark, root,
            sample(10).withColumn("id", col("id") + 1000L * i), Seq("score"),
            maxAttempts = 10,
            backoff = graft.core.Retry.linearBackoff(
              scala.concurrent.duration.FiniteDuration(20,
                java.util.concurrent.TimeUnit.MILLISECONDS)))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"racing appends failed: ${errs.peek()}")
    assert(SnapshotManifest.currentVersion(spark, root).contains(2L))
    assert(SnapshotManifest.read(spark, root).count() == 50)
    // one staged dir per appender — the loser re-published, never re-wrote
    assert((dataDirs(root) -- dirs0).size == 2,
      s"expected exactly 2 new staging dirs, got ${(dataDirs(root) -- dirs0).size}")
    // both appends fully present
    assert(SnapshotManifest.read(spark, root)
      .filter(col("id") >= 1000L).count() == 20)
  }

  /** Force a lost race deterministically: `append` runs on its own thread
    * over a 1-row frame whose evaluation parks its task until a winner (a
    * metadata-only publish) has taken the version the append read.
    * Returns the append's outcome and how often the frame was evaluated.
    */
  private def raceAppend(root: String)(
      append: org.apache.spark.sql.DataFrame => Long): (scala.util.Try[Long], Int) = {
    import PartitionedTableSpec.hook
    hook.reset()
    val parked = udf { (id: Long) =>
      if (hook.evals.incrementAndGet() == 1) {
        hook.staging.countDown()
        hook.winnerDone.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      id
    }.asNondeterministic()
    val frame = spark.range(5000, 5001).toDF("id")
      .select(parked(col("id")).as("id"), lit("en").as("lang"),
        lit(1L).as("score"))
    val out = scala.concurrent.Future(scala.util.Try(append(frame)))(
      scala.concurrent.ExecutionContext.global)
    assert(hook.staging.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "the append never started staging")
    SnapshotManifest.setPrimaryKey(spark, root, Seq("id")) // the winner
    hook.winnerDone.countDown()
    (scala.concurrent.Await.result(out, scala.concurrent.duration.Duration(
      120, java.util.concurrent.TimeUnit.SECONDS)), hook.evals.get)
  }

  test("appendRows: a forced lost race throws, nothing of the append lands") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(30), Seq("score"))
    val (res, evals) = raceAppend(root)(
      SnapshotManifest.appendRows(spark, root, _, Seq("score")))
    assert(res.failed.toOption.exists(
      _.isInstanceOf[graft.sources.ConcurrentCommitException]), res.toString)
    assert(evals == 1)
    // the winner's version stands; the loser's staged dir is unreferenced
    assert(SnapshotManifest.currentVersion(spark, root).contains(1L))
    assert(SnapshotManifest.primaryKey(spark, root, 1L) == Seq("id"))
    assert(SnapshotManifest.read(spark, root).count() == 30)
  }

  test("appendRowsWithRetry: a forced lost race stages exactly once") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, sample(30), Seq("score"))
    val dirs0 = dataDirs(root)
    val (res, evals) = raceAppend(root)(
      SnapshotManifest.appendRowsWithRetry(spark, root, _, Seq("score"),
        sleep = _ => ()))
    assert(res.toOption.contains(2L), res.toString)
    // the frame ran once and one staging dir exists: the retry
    // re-published the staged files onto the winner's version
    assert(evals == 1, s"expected one staging evaluation, got $evals")
    assert((dataDirs(root) -- dirs0).size == 1)
    assert(SnapshotManifest.primaryKey(spark, root, 2L) == Seq("id"))
    assert(SnapshotManifest.read(spark, root).count() == 31)
    assert(SnapshotManifest.read(spark, root).filter(col("id") === 5000L)
      .count() == 1)
  }
}

object PartitionedTableSpec {
  /** Driver-global latches for [[PartitionedTableSpec.raceAppend]]'s parked
    * UDF (local mode: tasks run in this JVM, and a UDF closure cannot
    * carry latches by value).
    */
  object hook {
    @volatile var staging = new java.util.concurrent.CountDownLatch(1)
    @volatile var winnerDone = new java.util.concurrent.CountDownLatch(1)
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    def reset(): Unit = {
      staging = new java.util.concurrent.CountDownLatch(1)
      winnerDone = new java.util.concurrent.CountDownLatch(1)
      evals.set(0)
    }
  }
}
