package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.Upsert
import graft.sources.SnapshotManifest

/** Snapshot-manifest commit protocol: atomicity (crash injection at every
  * pre-commit point), version conflicts, compaction, vacuum, and the
  * manifest-backed MERGE.
  */
class SnapshotManifestSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("snapmani").toString
  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("commit then read round-trips; versions increment") {
    val root = newRoot()
    val v0 = SnapshotManifest.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    assert(v0 == 0L)
    val v1 = SnapshotManifest.commit(spark, root, Seq((1L, "a2")).toDF("id", "x"))
    assert(v1 == 1L)
    assert(SnapshotManifest.currentVersion(spark, root).contains(1L))
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a2")))
    // the superseded snapshot stays readable until vacuumed
    val old = spark.read.parquet(SnapshotManifest.snapshotFiles(spark, root, 0L): _*)
    assert(old.count() == 2)
  }

  test("crash before the commit rename leaves the previous snapshot current") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((1L, "keep")).toDF("id", "x"))
    val fs = hfs(root)
    // simulate a writer killed AFTER data files and the tmp manifest are
    // written but BEFORE the commit rename: stage both by hand
    val staged = Seq((9L, "lost")).toDF("id", "x")
    staged.write.parquet(s"$root/data/v00000001")
    val tmp = new Path(root, ".manifest-1.tmp")
    val out = fs.create(tmp, true)
    out.write("version=1\ndata/v00000001/whatever.parquet\n".getBytes("UTF-8"))
    out.close()
    // readers are undisturbed: the garbage is invisible
    assert(SnapshotManifest.currentVersion(spark, root).contains(0L))
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((1L, "keep")))
    // the next commit wins the version WITHOUT touching the crashed
    // attempt's staging (disjoint nonce dirs — nothing to clear)
    val v = SnapshotManifest.commit(spark, root, Seq((2L, "next")).toDF("id", "x"))
    assert(v == 1L)
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((2L, "next")))
    assert(fs.exists(new Path(root, "data/v00000001"))) // crashed staging still inert
    // vacuum reclaims the unreferenced crashed attempt by reachability
    SnapshotManifest.vacuum(spark, root, keep = 2)
    assert(!fs.exists(new Path(root, "data/v00000001")))
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((2L, "next")))
  }

  test("losing the commit race fails loudly without touching the winner") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((1L, "w0")).toDF("id", "x"))
    // a concurrent writer wins version 1 first
    SnapshotManifest.commit(spark, root, Seq((1L, "winner")).toDF("id", "x"))
    val fs = hfs(root)
    // replay the loser: its currentVersion read happened BEFORE the winner's
    // rename, so it stages data for version 1 and tries to commit it
    val loserData = new Path(root, "data/v_loser")
    Seq((1L, "loser")).toDF("id", "x").write.parquet(loserData.toString)
    val tmp = new Path(root, ".manifest-1.tmp")
    val out = fs.create(tmp, true)
    out.write("version=1\ndata/v_loser/part.parquet\n".getBytes("UTF-8"))
    out.close()
    val renamed = fs.rename(tmp, new Path(root, "manifest-00000001.json"))
    assert(!renamed) // rename-to-existing fails: the winner's manifest survives
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((1L, "winner")))
  }

  test("compactSnapshot shrinks files as a new snapshot, byte-identical data") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(1000).repartition(8).select($"id", ($"id" % 7).alias("g")))
    assert(SnapshotManifest.snapshotFiles(spark, root, 0L).size == 8)
    val v = SnapshotManifest.compactSnapshot(spark, root)
    assert(v.contains(1L))
    assert(SnapshotManifest.snapshotFiles(spark, root, 1L).size == 1)
    val out = SnapshotManifest.read(spark, root)
    assert(out.count() == 1000 &&
      out.agg(sum($"id")).head().getLong(0) == 999L * 1000 / 2)
    // already-compact table: no-op, no new version
    assert(SnapshotManifest.compactSnapshot(spark, root).isEmpty)
    assert(SnapshotManifest.currentVersion(spark, root).contains(1L))
  }

  test("compactSnapshot preserves manifest stats — pruning survives maintenance") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(1000).select($"id", ($"id" * 2).alias("v"))
        .repartitionByRange(8, $"id"),
      Seq("id"))
    // before: a narrow range prunes to 1 of 8 files
    assert(SnapshotManifest.prunedFiles(spark, root, 0L, $"id" === 10L).size == 1)
    val v = SnapshotManifest.compactSnapshot(spark, root)
    assert(v.contains(1L))
    val stats = SnapshotManifest.snapshotFileStats(spark, root, 1L)
    assert(stats.nonEmpty && stats.values.forall(_.cols.contains("id")),
      "inherited stats columns re-collected for compacted files")
    // pruning still works off the fresh stats: an out-of-range point
    // provably matches no file, whatever the compacted layout
    assert(SnapshotManifest.prunedFiles(spark, root, 1L, $"id" === -5L).isEmpty)
    assert(SnapshotManifest.readWhere(spark, root, $"id" === 10L).count() == 1L)
    // explicit opt-out drops stats
    SnapshotManifest.commit(spark, root,
      spark.range(100).toDF("id").repartition(4), Seq("id"))
    val v2 = SnapshotManifest.compactSnapshot(spark, root,
      targetBytes = Long.MaxValue, statsCols = Some(Nil))
    assert(v2.isDefined)
    assert(SnapshotManifest.snapshotFileStats(spark, root, v2.get).isEmpty)
  }

  test("vacuum drops superseded snapshots and unreferenced dirs only") {
    val root = newRoot()
    (0 to 2).foreach(i => SnapshotManifest.commit(spark, root, Seq((i.toLong, "v")).toDF("id", "x")))
    val fs = hfs(root)
    val dirOf = (v: Long) => new Path(SnapshotManifest.snapshotFiles(spark, root, v).head).getParent
    val (d0, d1, d2) = (dirOf(0L), dirOf(1L), dirOf(2L))
    assert(SnapshotManifest.vacuum(spark, root, keep = 2) == Seq(0L))
    assert(!fs.exists(new Path(root, "manifest-00000000.json")))
    assert(!fs.exists(d0))
    assert(fs.exists(d1) && fs.exists(d2)) // referenced by surviving manifests
    // crashed-vacuum orphan: data dir whose manifest is already gone
    Seq((9L, "orphan")).toDF("id", "x").write.parquet(s"$root/data/v00000000-dead")
    assert(SnapshotManifest.vacuum(spark, root, keep = 2).isEmpty)
    assert(!fs.exists(new Path(root, "data/v00000000-dead"))) // swept by reachability
    assert(fs.exists(d1) && fs.exists(d2))
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((2L, "v")))
    // vacuum on an uncommitted table is a no-op (never eats bootstrap staging)
    val empty = newRoot()
    Seq((1L, "staging")).toDF("id", "x").write.parquet(s"$empty/data/v00000000-aaaa")
    assert(SnapshotManifest.vacuum(spark, empty).isEmpty)
    assert(hfs(empty).exists(new Path(empty, "data/v00000000-aaaa")))
  }

  test("vacuum minAgeMs: an in-flight commit's staging and young manifests survive") {
    val root = newRoot()
    (0 to 1).foreach(i => SnapshotManifest.commit(spark, root, Seq((i.toLong, "v")).toDF("id", "x")))
    val fs = hfs(root)
    // simulate an IN-FLIGHT commit: data staged (just now), manifest not yet
    // published — unreferenced, exactly what a reachability-only sweep eats
    val inflight = s"$root/data/v00000002-beef0001"
    Seq((7L, "inflight")).toDF("id", "x").write.parquet(inflight)
    // everything here is seconds old → an age-guarded vacuum touches nothing
    assert(SnapshotManifest.vacuum(spark, root, keep = 1, minAgeMs = 3600000L).isEmpty)
    assert(fs.exists(new Path(inflight)))
    assert(fs.exists(new Path(root, "manifest-00000000.json")))
    // the in-flight commit publishes (the racing writer's manifest) — then
    // an immediate vacuum reclaims only the now-superseded history
    val files = fs.listStatus(new Path(inflight))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"data/v00000002-beef0001/${s.getPath.getName}").sorted
    graft.sources.CommitProtocol.publishFile(fs, new Path(root, "manifest-00000002.json"),
      (s"version=2\n" + files.mkString("", "\n", "\n")).getBytes("UTF-8"))
    assert(SnapshotManifest.vacuum(spark, root, keep = 1) == Seq(0L, 1L))
    assert(fs.exists(new Path(inflight)), "committed snapshot's data must survive")
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((7L, "inflight")))
  }

  test("racing concurrent commits: one winner per version, no snapshot mixes files") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((0L, "base")).toDF("id", "x"))
    // Two writers commit DISTINGUISHABLE whole-table snapshots at once,
    // repeatedly. The old shared-staging layout let a loser's cleanup
    // delete a winner's in-progress files → a committed manifest over
    // partial data; with per-attempt dirs every committed snapshot must
    // read back as EXACTLY one writer's input.
    (1 to 3).foreach { round =>
      val attempts = Seq("a", "b").map { tag =>
        Future(scala.util.Try(SnapshotManifest.commit(spark, root,
          Seq((round.toLong, tag), (round.toLong + 100, tag)).toDF("id", "x"))))
      }
      val outcomes = Await.result(Future.sequence(attempts), 120.seconds)
      assert(outcomes.exists(_.isSuccess)) // at least one writer always lands
    }
    // every committed snapshot is internally consistent: exactly one tag
    val fs = hfs(root)
    val latest = SnapshotManifest.currentVersion(spark, root).get
    (0L to latest).foreach { v =>
      val snap = spark.read.parquet(SnapshotManifest.snapshotFiles(spark, root, v): _*)
      assert(snap.select($"x").distinct().count() == 1, s"version $v mixes writers")
      assert(snap.count() == (if (v == 0L) 1 else 2), s"version $v lost rows")
    }
    // vacuum reclaims every losing attempt's staging, keeps the live snapshot
    SnapshotManifest.vacuum(spark, root, keep = 1)
    val dataDirs = fs.listStatus(new Path(root, "data")).filter(_.isDirectory)
    assert(dataDirs.length == 1)
    assert(SnapshotManifest.read(spark, root).count() == 2)
  }

  test("retryOnConflict(commit): two deliberate racers land serialized") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((0L, "base")).toDF("id", "x"))
    // both writers read-modify-write: append one row to the CURRENT table.
    // The latch releases both first attempts together, and staging a
    // parquet write takes far longer than the subsequent currentVersion
    // read — so both attempts target the same version and exactly one
    // loses, retries, and recomputes against the winner's snapshot.
    val firstAttempts = new java.util.concurrent.CountDownLatch(2)
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    def appendRow(tag: Long) = SnapshotManifest.retryOnConflict(
        maxAttempts = 5, backoff = _ => Duration.Zero, sleep = _ => ()) {
      evals.incrementAndGet()
      val out = SnapshotManifest.read(spark, root)
        .unionByName(Seq((tag, s"w$tag")).toDF("id", "x"))
      firstAttempts.countDown()
      firstAttempts.await(30, java.util.concurrent.TimeUnit.SECONDS)
      // the frame is derived INSIDE the retried expression, so a loser
      // recomputes it against the winner's snapshot
      SnapshotManifest.commit(spark, root, out)
    }
    val done = Await.result(Future.sequence(Seq(
      Future(appendRow(1L)), Future(appendRow(2L)))), 120.seconds)
    // serialized: versions 1 and 2, one per writer, in either order
    assert(done.toSet == Set(1L, 2L), done.toString)
    // the final table integrates BOTH writers — the loser's recompute saw
    // the winner's row (a replayed pre-race frame would have dropped it)
    assert(SnapshotManifest.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((0L, "base"), (1L, "w1"), (2L, "w2")))
    // 2 first attempts + exactly 1 losing retry
    assert(evals.get == 3, s"expected 3 frame evaluations, got ${evals.get}")
  }

  test("retryOnConflict(commit): non-race failures propagate at once, no retry") {
    val root = newRoot()
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      SnapshotManifest.retryOnConflict(maxAttempts = 5,
          backoff = _ => scala.concurrent.duration.Duration.Zero,
          sleep = _ => ()) {
        SnapshotManifest.commit(spark, root, {
          evals.incrementAndGet()
          throw new IllegalStateException("broken frame")
        })
      }
    }
    assert(e.getMessage == "broken frame" && evals.get == 1)
  }

  test("racing DML twins: deleteWhereWithRetry + updateWhereWithRetry serialize, both effects land") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = newRoot()
    val rows = (1L to 40L).map(i => (i, i * 10.0)).toDF("id", "x")
    SnapshotManifest.commit(spark, root,
      rows.repartitionByRange(4, $"id"), Seq("id"))
    // launched together: each op re-reads the current version on entry, so
    // whichever loses the manifest race retries against the other's result
    val ops = Seq(
      Future(SnapshotManifest.retryOnConflict(sleep = _ => ())(
        SnapshotManifest.deleteWhere(spark, root, $"id".between(1, 5),
          Seq("id")))),
      Future(SnapshotManifest.retryOnConflict(sleep = _ => ())(
        SnapshotManifest.updateWhere(spark, root, $"id".between(31, 40),
          Map("x" -> lit(-1.0)), Seq("id")))))
    Await.result(Future.sequence(ops), 120.seconds)
    val out = SnapshotManifest.read(spark, root).as[(Long, Double)].collect().toSet
    val expected = (6L to 40L).map(i => (i, if (i >= 31) -1.0 else i * 10.0)).toSet
    assert(out == expected)
  }

  test("deleteWhere: copy-on-write — only stats-affected files rewrite, kept lines carry verbatim") {
    val root = newRoot()
    // range-clustered commit with stats: keys 1-100 over 4 files
    val rows = (1L to 100L).map(i => (i, s"payload_$i")).toDF("id", "x")
    SnapshotManifest.commit(spark, root,
      rows.repartitionByRange(4, $"id"), Seq("id"))
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet

    val v1 = SnapshotManifest.deleteWhere(spark, root,
      $"id".between(10, 15), Seq("id"))
    assert(v1 == 1L)
    val v1Files = SnapshotManifest.snapshotFiles(spark, root, 1L).toSet
    // most of v0's files are REUSED byte-for-byte (same absolute paths)
    val shared = v0Files intersect v1Files
    assert(shared.nonEmpty, "no file reuse — delete rewrote everything")
    assert((v1Files -- v0Files).nonEmpty, "no rewritten file appeared")
    // rows gone from the current snapshot, intact in the superseded one
    assert(SnapshotManifest.read(spark, root)
      .filter($"id".between(10, 15)).count() == 0)
    assert(SnapshotManifest.read(spark, root).count() == 94)
    assert(SnapshotManifest.readVersion(spark, root, 0L)
      .filter($"id".between(10, 15)).count() == 6)
    // stats survive for kept files AND are recorded for rewritten ones:
    // a narrow read still prunes to fewer files than the table holds
    val pruned = SnapshotManifest.prunedFiles(spark, root, 1L, $"id" === 99L)
    assert(pruned.size < v1Files.size)
    // no-op delete (nothing can match) commits nothing
    assert(SnapshotManifest.deleteWhere(spark, root, $"id" > 1000L, Seq("id")) == 1L)
    assert(SnapshotManifest.currentVersion(spark, root).contains(1L))
  }

  test("deleteWhere: NULL predicate rows are kept (SQL DELETE semantics)") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      Seq((1L, Some(5.0)), (2L, None), (3L, Some(50.0))).toDF("id", "score"))
    SnapshotManifest.deleteWhere(spark, root, $"score" > 10.0)
    assert(SnapshotManifest.read(spark, root)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("purge: deleteWhere + vacuum reclaims the rewritten file's old bytes inside a shared dir") {
    val root = newRoot()
    val fs = hfs(root)
    SnapshotManifest.commit(spark, root,
      (1L to 100L).map(i => (i, s"secret_$i")).toDF("id", "x")
        .repartitionByRange(4, $"id"), Seq("id"))
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
    SnapshotManifest.deleteWhere(spark, root, $"id".between(10, 15), Seq("id"))
    val v1Files = SnapshotManifest.snapshotFiles(spark, root, 1L).toSet
    val dereferenced = v0Files -- v1Files
    assert(dereferenced.nonEmpty)
    dereferenced.foreach(f => assert(fs.exists(new Path(f)))) // bytes still there pre-vacuum
    SnapshotManifest.vacuum(spark, root, keep = 1)
    // the old copies (the purged rows' bytes) are gone, the shared files
    // the current manifest references are not
    dereferenced.foreach(f => assert(!fs.exists(new Path(f)), s"purged bytes survive: $f"))
    v1Files.foreach(f => assert(fs.exists(new Path(f)), s"live file vacuumed: $f"))
    assert(SnapshotManifest.read(spark, root).count() == 94)
  }

  test("updateWhere: SET evaluates on the pre-update row; non-matching rows and files untouched") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      (1L to 100L).map(i => (i, i * 10.0, s"r$i")).toDF("id", "price", "tag")
        .repartitionByRange(4, $"id"), Seq("id"))
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L).toSet
    val v1 = SnapshotManifest.updateWhere(spark, root, $"id".between(10, 12),
      Map("price" -> ($"price" * 2), "tag" -> concat($"tag", lit("_x"))), Seq("id"))
    assert(v1 == 1L)
    // file reuse as with delete
    val v1Files = SnapshotManifest.snapshotFiles(spark, root, 1L).toSet
    assert((v0Files intersect v1Files).nonEmpty && (v1Files -- v0Files).nonEmpty)
    val out = SnapshotManifest.read(spark, root)
      .filter($"id".between(9, 13)).orderBy($"id")
      .as[(Long, Double, String)].collect().toSeq
    assert(out == Seq((9L, 90.0, "r9"), (10L, 200.0, "r10_x"), (11L, 220.0, "r11_x"),
      (12L, 240.0, "r12_x"), (13L, 130.0, "r13")))
    assert(SnapshotManifest.read(spark, root).count() == 100)
    // unknown SET column fails loudly
    val e = intercept[IllegalArgumentException] {
      SnapshotManifest.updateWhere(spark, root, $"id" === 1L, Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("SET column"))
  }

  test("deleteWhere removing every row leaves a readable empty snapshot") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    SnapshotManifest.deleteWhere(spark, root, lit(true))
    assert(SnapshotManifest.read(spark, root).count() == 0)
    assert(SnapshotManifest.read(spark, root).columns.toSeq == Seq("id", "x"))
  }

  test("commitChecked: failing checks abort with the report; passing checks publish") {
    import graft.schema.QualityChecks._
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((1L, "base")).toDF("id", "x"))
    // staged batch with a null PK and a duplicate — both gates trip
    val bad = Seq((Option(2L), "a"), (Option(2L), "b"), (Option.empty[Long], "c"))
      .toDF("id", "x")
    val e = intercept[graft.sources.QualityGateException] {
      SnapshotManifest.commitChecked(spark, root, bad,
        Seq(NotNull("id"), Unique(Seq("id"))))
    }
    assert(e.getMessage.contains("not_null_id") && e.getMessage.contains("unique_id"))
    assert(e.getMessage.contains("nothing committed"))
    // table untouched
    assert(SnapshotManifest.currentVersion(spark, root).contains(0L))
    assert(SnapshotManifest.read(spark, root).count() == 1L)
    // clean batch publishes; tolerance thresholds respected
    val ok = Seq((Option(2L), "a"), (Option(3L), "b"), (Option.empty[Long], "c"))
      .toDF("id", "x")
    // Unique counts the null-keyed row against distinct (doc'd contract),
    // so the tolerance covers it alongside the null-fraction allowance
    val v = SnapshotManifest.commitChecked(spark, root, ok,
      Seq(NotNull("id", maxNullFrac = 0.5), Unique(Seq("id"), maxDupFrac = 0.4)),
      Seq("id"))
    assert(v == 1L)
    assert(SnapshotManifest.read(spark, root).count() == 3L)
  }

  test("readVersion time-travels; changesBetween classifies the row-level feed") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "x", "v"))
    SnapshotManifest.commit(spark, root,
      Seq((2L, "b", 20.0), (3L, "c2", 30.0), (4L, "d", 40.0)).toDF("id", "x", "v"))
    // time travel: v0 is untouched by the v1 commit
    assert(SnapshotManifest.readVersion(spark, root, 0L)
      .as[(Long, String, Double)].collect().sorted.toSeq ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    val feed = SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id"))
      .select($"id", $"x", $"_change").as[(Long, String, String)].collect().sorted.toSeq
    assert(feed == Seq(
      (1L, "a", "delete"),
      (3L, "c", "update_preimage"), (3L, "c2", "update_postimage"),
      (4L, "d", "insert")))
    // self-diff: every file is shared → pruned to an empty feed, no scan
    assert(SnapshotManifest.changesBetween(spark, root, 1L, 1L, Seq("id")).isEmpty)
    // bad pk column fails loudly
    intercept[IllegalArgumentException] {
      SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("nope"))
    }
  }

  test("changesBetween: NULL-keyed rows are matched by presence, not pk nullness") {
    val root = newRoot()
    // a null-PK row present and UNCHANGED in both versions must emit
    // nothing (it is not "absent" on either side), even though every file
    // is rewritten between the commits
    SnapshotManifest.commit(spark, root,
      Seq((Option(1L), "a"), (Option.empty[Long], "nullkey")).toDF("id", "x"))
    SnapshotManifest.commit(spark, root,
      Seq((Option(1L), "a2"), (Option.empty[Long], "nullkey")).toDF("id", "x"))
    val feed = SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id"))
      .select($"x", $"_change").as[(String, String)].collect().sorted.toSeq
    assert(feed == Seq(("a", "update_preimage"), ("a2", "update_postimage")))
  }

  test("changesBetween across a schema-evolving commit: added column reads as null→value updates") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    // the next commit adds a column y (whole-table replace, new schema)
    SnapshotManifest.commit(spark, root,
      Seq((1L, "a", 10L), (2L, "b2", 20L)).toDF("id", "x", "y"))
    val feed = SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id"))
      .select($"id", $"x", $"y", $"_change")
      .as[(Long, String, Option[Long], String)].collect().toSet
    // every row changed (y: null → value); preimages carry y = null
    assert(feed == Set(
      (1L, "a", None, "update_preimage"), (1L, "a", Some(10L), "update_postimage"),
      (2L, "b", None, "update_preimage"), (2L, "b2", Some(20L), "update_postimage")))
    // and the reverse direction (column dropped) aligns the same way
    SnapshotManifest.commit(spark, root, Seq((1L, "a")).toDF("id", "x"))
    val drop = SnapshotManifest.changesBetween(spark, root, 1L, 2L, Seq("id"))
      .select($"id", $"_change").as[(Long, String)].collect().toSet
    assert(drop.contains((2L, "delete")) && drop.contains((1L, "update_preimage")))
  }

  test("restoreVersion: metadata-only undo, inverse change feed, vacuum-safe") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(0, 100).toDF("id").withColumn("v", $"id" * 10)
        .repartitionByRange(4, $"id"),
      Seq("id"))
    // a bad DML sequence: MoR delete + CoW update
    SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(10, 20))
    SnapshotManifest.updateWhere(spark, root, $"id" === 50L,
      Map("v" -> lit(-1L)), Seq("id"))
    assert(SnapshotManifest.read(spark, root).count() == 89L)
    // restore: pure metadata, v0's files (and absent DVs) verbatim
    val v0Files = SnapshotManifest.snapshotFiles(spark, root, 0L)
    val r = SnapshotManifest.restoreVersion(spark, root, 0L)
    assert(r == 3L)
    // SET equality: a delta-encoded restore resolves unchanged files in
    // base order with re-added ones appended — body order is not semantic
    assert(SnapshotManifest.snapshotFiles(spark, root, r).toSet == v0Files.toSet)
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 100L)
    assert(got.filter($"id" === 50L).head().getAs[Long]("v") == 500L)
    // the feed across (bad → restored) is exactly the inverse: the deleted
    // band resurrects as inserts, the clobbered row reverts
    val feed = SnapshotManifest.changesBetween(spark, root, 2L, 3L, Seq("id"))
    assert(feed.filter($"_change" === "insert").count() == 11L)
    assert(feed.filter($"_change" === "update_postimage" && $"id" === 50L)
      .head().getAs[Long]("v") == 500L)
    // restoring the current version is a no-op; a nonexistent one is loud
    assert(SnapshotManifest.restoreVersion(spark, root, 3L) == 3L)
    intercept[IllegalArgumentException] {
      SnapshotManifest.restoreVersion(spark, root, 99L)
    }
    // vacuum keeps the restored content reachable, drops the bad history
    SnapshotManifest.vacuum(spark, root, keep = 1)
    assert(SnapshotManifest.read(spark, root).count() == 100L)
    intercept[IllegalArgumentException] {
      SnapshotManifest.restoreVersion(spark, root, 1L) // vacuumed
    }
    // restore carries a recorded schema too
    SnapshotManifest.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val withNote = SnapshotManifest.currentVersion(spark, root).get
    SnapshotManifest.deleteWhere(spark, root, $"id" < 50L, Seq("id"))
    SnapshotManifest.retryOnConflict()(
      SnapshotManifest.restoreVersion(spark, root, withNote))
    val restored = SnapshotManifest.read(spark, root)
    assert(restored.count() == 100L && restored.columns.contains("note"))
  }

  test("changesBetween across a RETYPED column reconciles to the tightest common type") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      Seq((1L, 10), (2L, 20)).toDF("id", "y")) // y: int
    SnapshotManifest.commit(spark, root,
      Seq((1L, 10L), (2L, 21L)).toDF("id", "y")) // y: bigint (widened)
    val feed = SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id"))
    // union schema reconciles int→bigint (parquet mergeSchema would have
    // REFUSED this); unchanged row 1 drops out, row 2's change survives
    assert(feed.schema("y").dataType ==
      org.apache.spark.sql.types.LongType, feed.schema.simpleString)
    val rows = feed.select($"id", $"y", $"_change")
      .as[(Long, Long, String)].collect().toSet
    assert(rows == Set((2L, 20L, "update_preimage"), (2L, 21L, "update_postimage")),
      rows.toString)
  }

  test("changesBetween across compaction: rewritten-but-unchanged rows emit nothing") {
    val root = newRoot()
    SnapshotManifest.commit(spark, root,
      spark.range(100).repartition(8).select($"id", ($"id" % 7).alias("g")))
    assert(SnapshotManifest.compactSnapshot(spark, root).contains(1L))
    // every row moved files; none changed → the feed is empty
    assert(SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id")).isEmpty)
    // metadata-only commit (manifest reuses v1's files, e.g. a retention
    // bump): the file-level prune leaves NOTHING to read on either side
    val fs = hfs(root)
    val files = SnapshotManifest.snapshotFiles(spark, root, 1L)
      .map(f => new Path(f).toString.stripPrefix(new Path(root).toString).stripPrefix("/"))
    graft.sources.CommitProtocol.publishFile(fs, new Path(root, "manifest-00000002.json"),
      ("version=2\n" + files.mkString("", "\n", "\n")).getBytes("UTF-8"))
    val feed = SnapshotManifest.changesBetween(spark, root, 1L, 2L, Seq("id"))
    assert(feed.isEmpty)
  }

  test("mergeAndCommit: manifest-backed MERGE, previous snapshot intact") {
    val root = newRoot()
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    SnapshotManifest.commit(spark, root,
      Seq((1L, "old", ts, ts), (2L, "keep", ts, ts))
        .toDF("id", "payload", Upsert.InsertTs, Upsert.UpdateTs))
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    val stagedDf = Seq((1L, "new", now, now), (3L, "ins", now, now))
      .toDF("id", "payload", Upsert.InsertTs, Upsert.UpdateTs)
    val (version, audited) = Upsert.mergeAndCommit(spark, root, stagedDf, Seq("id"))
    assert(version == 1L)
    assert(audited == 2L) // the updated row + the inserted row carry today's ts
    val out = SnapshotManifest.read(spark, root)
      .select($"id", $"payload").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
    // matched row keeps the target INSERT_TIMESTAMP
    val insTs = SnapshotManifest.read(spark, root).filter($"id" === 1L)
      .select(col(Upsert.InsertTs)).head().getTimestamp(0)
    assert(insTs == ts)
    // time travel: version 0 still serves the pre-merge table
    assert(spark.read.parquet(SnapshotManifest.snapshotFiles(spark, root, 0L): _*)
      .count() == 2)
  }
}
