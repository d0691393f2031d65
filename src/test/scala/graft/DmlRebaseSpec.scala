package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import graft.sources.{ConcurrentCommitException, ManifestStats, SnapshotManifest}

/** Optimistic concurrency for the copy-on-write DML verbs: a lost race
  * against a FILE-DISJOINT, PREDICATE-DISJOINT winner re-publishes the
  * already-staged rewrite (one manifest round-trip — the multi-writer
  * per-partition-backfill shape at 100 TB), and anything unprovable falls
  * back loudly to the full re-run `SnapshotManifest.retryOnConflict` owns. The
  * deterministic cases drive the publish seam directly: commit a winner
  * BETWEEN the verb's read and its publish, then assert rebase vs refusal.
  */
class DmlRebaseSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("rebase").toString

  /** 200 rows in 10 range-disjoint files of 20, id stats recorded. */
  private def freshTable(): String = {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 200).toDF("id").withColumn("x", concat(lit("v"), col("id")))
        .repartitionByRange(10, col("id")), Seq("id"))
    root
  }

  private def ids(root: String): Set[Long] =
    SnapshotManifest.read(spark, root).select("id").as[Long].collect().toSet

  test("two racing deletes on disjoint files both land WITHOUT a retry wrapper") {
    val root = freshTable()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def racer(pred: org.apache.spark.sql.Column) = pool.submit(new Callable[Long] {
        def call(): Long = { start.await(); SnapshotManifest.deleteWhere(spark, root, pred, Seq("id")) }
      })
      // each predicate lives inside ONE file ([0,19] and [100,119]) — the
      // loser's staged rewrite is provably compatible with the winner
      val a = racer(col("id") < 5L)
      val b = racer(col("id") >= 100L && col("id") < 105L)
      start.countDown()
      val (va, vb) = (a.get(60, TimeUnit.SECONDS), b.get(60, TimeUnit.SECONDS))
      assert(Set(va, vb) == Set(1L, 2L), s"both deletes must commit: $va, $vb")
      assert(ids(root) == ((5L until 100L) ++ (105L until 200L)).toSet)
    } finally pool.shutdownNow()
  }

  test("deterministic rebase: a file-disjoint winner landing mid-verb costs one manifest round-trip") {
    val root = freshTable()
    val (body, meta) = SnapshotManifest.manifestParts(spark, root, 0L)
    val schema = SnapshotManifest.read(spark, root).schema
    // the verb-under-test read v0 and staged a rewrite of the [0,19] file
    val myFile = body.find(l =>
      SnapshotManifest.bodyStats(Seq(l)).values.head
        .cols("id").min.contains(BigDecimal(0))).get
    val replacement = spark.range(5, 20).toDF("id")
      .withColumn("x", concat(lit("v"), col("id")))
    // ... and a WINNER commits first: an append of id∈[900,910) WITH stats
    SnapshotManifest.appendRows(spark, root,
      spark.range(900, 910).toDF("id").withColumn("x", lit("w")), Seq("id"))
    // the rebase must land at v2 without touching the staged frame again
    val v = SnapshotManifest.publishVersionRebased(spark, root, 1L,
      replacement, Seq("id"), body, Set(myFile), "deleteWhere", meta,
      ManifestStats.resolvePredicate(spark, schema, col("id") < 5L))
    assert(v == 2L)
    assert(ids(root) == ((5L until 200L) ++ (900L until 910L)).toSet)
  }

  test("refusal: a winner whose new rows MAY match the predicate forces the full re-run") {
    val root = freshTable()
    val (body, meta) = SnapshotManifest.manifestParts(spark, root, 0L)
    val schema = SnapshotManifest.read(spark, root).schema
    val myFile = body.head
    // winner appends rows INSIDE the delete predicate's range — a rebased
    // delete would silently skip them (lost delete)
    SnapshotManifest.appendRows(spark, root,
      spark.range(1, 3).toDF("id").withColumn("x", lit("w")), Seq("id"))
    intercept[ConcurrentCommitException] {
      SnapshotManifest.publishVersionRebased(spark, root, 1L,
        spark.range(5, 20).toDF("id").withColumn("x", lit("r")),
        Seq("id"), body, Set(myFile), "deleteWhere", meta,
        ManifestStats.resolvePredicate(spark, schema, col("id") < 5L))
    }
  }

  test("refusal: stats-less winner lines, a touched file, or changed metadata are all conflicts") {
    val root = freshTable()
    val (body, meta) = SnapshotManifest.manifestParts(spark, root, 0L)
    val schema = SnapshotManifest.read(spark, root).schema
    val myFile = body.find(l =>
      SnapshotManifest.bodyStats(Seq(l)).values.head
        .cols("id").min.contains(BigDecimal(0))).get
    def attempt(): Long = SnapshotManifest.publishVersionRebased(spark, root,
      SnapshotManifest.currentVersion(spark, root).get, // stale base on purpose
      spark.range(5, 20).toDF("id").withColumn("x", lit("r")),
      Seq("id"), body, Set(myFile), "deleteWhere", meta,
      ManifestStats.resolvePredicate(spark, schema, col("id") < 5L))
    // (a) winner appended WITHOUT stats: disjointness unprovable
    val r1 = freshTable()
    val (b1, m1) = SnapshotManifest.manifestParts(spark, r1, 0L)
    SnapshotManifest.appendRows(spark, r1,
      spark.range(900, 905).toDF("id").withColumn("x", lit("w")))
    intercept[ConcurrentCommitException] {
      SnapshotManifest.publishVersionRebased(spark, r1, 1L,
        spark.range(5, 20).toDF("id").withColumn("x", lit("r")),
        Seq("id"), b1, Set(b1.head), "deleteWhere", m1,
        ManifestStats.resolvePredicate(spark, schema, col("id") < 5L))
    }
    // (b) winner REWROTE the very file this verb is replacing
    SnapshotManifest.deleteWhere(spark, root, col("id") === 1L, Seq("id"))
    intercept[ConcurrentCommitException] { attempt() }
    // (c) fresh table, winner changed table METADATA (schema evolution)
    val r2 = freshTable()
    val (b2, m2) = SnapshotManifest.manifestParts(spark, r2, 0L)
    SnapshotManifest.addColumns(spark, r2,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType)))
    intercept[ConcurrentCommitException] {
      SnapshotManifest.publishVersionRebased(spark, r2, 1L,
        spark.range(5, 20).toDF("id").withColumn("x", lit("r")),
        Seq("id"), b2, Set(b2.head), "deleteWhere", m2,
        ManifestStats.resolvePredicate(spark, schema, col("id") < 5L))
    }
  }

  test("racing disjoint-key merges both land without a retry wrapper; serial content") {
    val root = freshTable()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def racer(df: org.apache.spark.sql.DataFrame) = pool.submit(new Callable[Long] {
        def call(): Long = {
          start.await()
          graft.operators.Upsert.mergeWhere(spark, root, df, Seq("id"), Seq("id"))
        }
      })
      val a = racer(Seq((0L, "A0"), (1L, "A1")).toDF("id", "x"))
      val b = racer(Seq((150L, "B0"), (151L, "B1")).toDF("id", "x"))
      start.countDown()
      val (va, vb) = (a.get(60, TimeUnit.SECONDS), b.get(60, TimeUnit.SECONDS))
      assert(Set(va, vb) == Set(1L, 2L), s"both merges must commit: $va, $vb")
      val got = SnapshotManifest.read(spark, root)
        .as[(Long, String)].collect().toMap
      assert(got.size == 200)
      assert(got(0L) == "A0" && got(1L) == "A1")
      assert(got(150L) == "B0" && got(151L) == "B1")
      assert(got(2L) == "v2" && got(199L) == "v199")
    } finally pool.shutdownNow()
  }

  test("racing disjoint MoR deletes both land without a retry wrapper; masks compose") {
    val root = freshTable()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def racer(pred: org.apache.spark.sql.Column) = pool.submit(new Callable[Long] {
        def call(): Long = { start.await(); SnapshotManifest.deleteWhereMoR(spark, root, pred) }
      })
      val a = racer(col("id") < 5L)
      val b = racer(col("id") >= 100L && col("id") < 105L)
      start.countDown()
      val (va, vb) = (a.get(60, TimeUnit.SECONDS), b.get(60, TimeUnit.SECONDS))
      assert(Set(va, vb) == Set(1L, 2L), s"both MoR deletes must commit: $va, $vb")
      assert(ids(root) == ((5L until 100L) ++ (105L until 200L)).toSet)
      // and the masks FOLD correctly after the race
      SnapshotManifest.foldDeletes(spark, root)
      assert(ids(root) == ((5L until 100L) ++ (105L until 200L)).toSet)
    } finally pool.shutdownNow()
  }

  test("racing disjoint MoR merges both land without a retry wrapper") {
    val root = freshTable()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def racer(df: org.apache.spark.sql.DataFrame) = pool.submit(new Callable[Long] {
        def call(): Long = {
          start.await()
          graft.operators.Upsert.mergeWhereMoR(spark, root, df, Seq("id"), Seq("id"))
        }
      })
      // keys stay INSIDE each merge's own file range: the appended
      // post-merge file's stats span the batch keys, and a batch spanning
      // the other's keys is a provable-conflict (correctly refused)
      val a = racer(Seq((0L, "A0"), (10L, "A1")).toDF("id", "x"))
      val b = racer(Seq((150L, "B0"), (160L, "B1")).toDF("id", "x"))
      start.countDown()
      val (va, vb) = (a.get(60, TimeUnit.SECONDS), b.get(60, TimeUnit.SECONDS))
      assert(Set(va, vb) == Set(1L, 2L), s"both MoR merges must commit: $va, $vb")
      val got = SnapshotManifest.read(spark, root)
        .as[(Long, String)].collect().toMap
      assert(got.size == 200)
      assert(got(0L) == "A0" && got(10L) == "A1")
      assert(got(150L) == "B0" && got(160L) == "B1")
      assert(got(1L) == "v1")
    } finally pool.shutdownNow()
  }

  test("two racing metadata-only deletes that JOINTLY empty the table leave it readable") {
    // the r10 review catch: the emptying contract must be evaluated on the
    // COMPOSED final body — neither delete empties the table alone, so a
    // base-view decision records no schema and the rebase would publish an
    // empty schema-less manifest no read can resolve
    val root = freshTable() // ids 0..199 in 10 range files, id stats
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def racer(pred: org.apache.spark.sql.Column) = pool.submit(new Callable[Long] {
        def call(): Long = { start.await(); SnapshotManifest.deleteWhere(spark, root, pred, Seq("id")) }
      })
      val a = racer(col("id") < 100L)   // whole-file drops: metadata-only
      val b = racer(col("id") >= 100L)
      start.countDown()
      val (va, vb) = (a.get(60, TimeUnit.SECONDS), b.get(60, TimeUnit.SECONDS))
      assert(Set(va, vb) == Set(1L, 2L), s"both deletes must commit: $va, $vb")
      // the empty table READS (schema recorded by whichever publish
      // emptied the composed body) and accepts new life
      val empty = SnapshotManifest.read(spark, root)
      assert(empty.count() == 0L)
      assert(empty.columns.toSeq == Seq("id", "x"))
      graft.operators.Upsert.mergeWhere(spark, root,
        Seq((7L, "back")).toDF("id", "x"), Seq("id"), Seq("id"))
      assert(ids(root) == Set(7L))
    } finally pool.shutdownNow()
  }

  test("maintenance commutes with ingest: compaction races an append, both land") {
    val root = freshTable() // 10 files
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val compact = pool.submit(new Callable[Option[Long]] {
        def call(): Option[Long] = {
          start.await()
          // plain verb, NO retry wrapper: a lost race against the append
          // must REBASE (the appended lines carry onto the compacted body)
          SnapshotManifest.compactSnapshot(spark, root, targetBytes = Long.MaxValue)
        }
      })
      val append = pool.submit(new Callable[Long] {
        def call(): Long = {
          start.await()
          SnapshotManifest.appendRowsWithRetry(spark, root,
            spark.range(900, 910).toDF("id")
              .withColumn("x", concat(lit("a"), col("id")))
              .repartition(1), Seq("id"),
            backoff = _ => scala.concurrent.duration.Duration.Zero,
            sleep = _ => ())
        }
      })
      start.countDown()
      assert(compact.get(60, TimeUnit.SECONDS).isDefined)
      append.get(60, TimeUnit.SECONDS)
      assert(ids(root) == ((0L until 200L) ++ (900L until 910L)).toSet)
      val v = SnapshotManifest.currentVersion(spark, root).get
      assert(SnapshotManifest.snapshotFiles(spark, root, v).size <= 3,
        "compaction must have taken effect")
      // maintenance keeps table properties: stats still prune
      assert(SnapshotManifest.prunedFiles(spark, root, v,
        col("id") === 905L).size <= 2)
    } finally pool.shutdownNow()
  }

  test("property: random disjoint-file verb pairs raced WITHOUT retry all land; table tracks the model") {
    val rnd = new scala.util.Random(20260815L)
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 400).toDF("id").withColumn("x", concat(lit("v"), col("id")))
        .repartitionByRange(20, col("id")), Seq("id"))
    val model = scala.collection.mutable.Map(
      (0L until 400L).map(i => i -> s"v$i"): _*)
    val pool = Executors.newFixedThreadPool(2)
    try {
      (1 to 4).foreach { round =>
        // two DISJOINT key ranges in two different 20-wide range files
        val Seq(fa, fb) = rnd.shuffle((0 until 20).toList).take(2)
        def range(f: Int) = { val lo = 20L * f + rnd.nextInt(6); (lo, lo + 5) }
        val (aLo, aHi) = range(fa)
        val (bLo, bHi) = range(fb)
        val start = new CountDownLatch(1)
        def verb(lo: Long, hi: Long, kind: Int): () => Unit = kind match {
          case 0 => () => { SnapshotManifest.deleteWhere(spark, root,
            col("id") >= lo && col("id") < hi, Seq("id")); () }
          case 1 => () => { SnapshotManifest.updateWhere(spark, root,
            col("id") >= lo && col("id") < hi,
            Map("x" -> concat(lit(s"u$round-"), col("id"))), Seq("id")); () }
          case 2 => () => { graft.operators.Upsert.mergeWhere(spark, root,
            spark.range(lo, hi).toDF("id")
              .withColumn("x", concat(lit(s"m$round-"), col("id"))),
            Seq("id"), Seq("id")); () }
          case 3 => () => { SnapshotManifest.deleteWhereMoR(spark, root,
            col("id") >= lo && col("id") < hi); () }
          case _ => () => { SnapshotManifest.updateWhereMoR(spark, root,
            col("id") >= lo && col("id") < hi,
            Map("x" -> concat(lit(s"w$round-"), col("id"))), Seq("id")); () }
        }
        def applyModel(lo: Long, hi: Long, kind: Int): Unit = kind match {
          case 0 | 3 => (lo until hi).foreach(model.remove)
          case 1 => (lo until hi).foreach(i =>
            if (model.contains(i)) model(i) = s"u$round-$i")
          case 2 => (lo until hi).foreach(i => model(i) = s"m$round-$i")
          case _ => (lo until hi).foreach(i =>
            if (model.contains(i)) model(i) = s"w$round-$i")
        }
        val (ka, kb) = (rnd.nextInt(5), rnd.nextInt(5))
        val fa2 = pool.submit(new Callable[Unit] {
          def call(): Unit = { start.await(); verb(aLo, aHi, ka)() } })
        val fb2 = pool.submit(new Callable[Unit] {
          def call(): Unit = { start.await(); verb(bLo, bHi, kb)() } })
        start.countDown()
        fa2.get(120, TimeUnit.SECONDS); fb2.get(120, TimeUnit.SECONDS)
        applyModel(aLo, aHi, ka); applyModel(bLo, bHi, kb)
        val got = SnapshotManifest.read(spark, root)
          .as[(Long, String)].collect().toMap
        assert(got == model.toMap,
          s"round $round diverged (verbs $ka@[$aLo,$aHi) / $kb@[$bLo,$bHi))")
      }
    } finally pool.shutdownNow()
  }

  test("overlapping deletes under the retry wrapper stay serializable") {
    val root = freshTable()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def racer(pred: org.apache.spark.sql.Column) = pool.submit(new Callable[Long] {
        def call(): Long = {
          start.await()
          SnapshotManifest.retryOnConflict(sleep = _ => ())(
            SnapshotManifest.deleteWhere(spark, root, pred, Seq("id")))
        }
      })
      // both predicates hit the SAME [0,19] file — rebase is unsound for
      // the loser (its staged rewrite still CONTAINS the winner's targets),
      // so the wrapper's full re-run must produce the serial result
      val a = racer(col("id") < 5L)
      val b = racer(col("id") >= 3L && col("id") < 8L)
      start.countDown()
      a.get(60, TimeUnit.SECONDS); b.get(60, TimeUnit.SECONDS)
      assert(ids(root) == (8L until 200L).toSet)
    } finally pool.shutdownNow()
  }
}
