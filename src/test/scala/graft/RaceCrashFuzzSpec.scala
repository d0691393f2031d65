package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotManifest
import graft.operators.Upsert

/** The PRODUCT of the two failure axes: concurrent writers
  * ([[MultiWriterFuzzSpec]]) × injected crashes ([[CrashFuzzSpec]]), on the
  * HDFS-semantics [[FaultyFileSystem]]. Each round releases 3 writers on a
  * latch and arms [[FaultGate]] at a random mutating-IO countdown; once it
  * trips, EVERY writer's subsequent mutating IO fails (the gate is
  * JVM-global — executor tasks cannot be attributed to a writer, and a real
  * machine crash kills all in-flight writers at once anyway).
  *
  * Adjudication generalizes both parents': a writer that RETURNED committed
  * its verb; a writer that THREW may or may not have (the crash can fall on
  * either side of its commit point, or inside a post-publish hook). So the
  * observed state must equal SOME serial order of SOME subset of the
  * round's verbs that contains every returned verb — and any round where a
  * writer fails WITHOUT the gate having tripped is itself a failure (races
  * alone must always land through the retry wrappers). The periodic clean
  * vacuum and the distributed pruned read run over the combined debris of
  * races AND crashes.
  *
  * Hunts the interaction bugs neither parent can reach: a loser rebasing
  * onto a winner that crashed inside its post-commit hooks (twin staged but
  * not landed, feed half-materialized), recovery racing a concurrent
  * publish, a crashed boundary commit demoting the next writer's edits
  * path mid-race.
  */
class RaceCrashFuzzSpec extends SparkSpec {
  import spark.implicits._

  private type Model = Map[Long, Long]
  private val noSleep: scala.concurrent.duration.FiniteDuration => Unit = _ => ()
  private def retried[A](verb: => A): A =
    SnapshotManifest.retryOnConflict(maxAttempts = 10, sleep = noSleep)(verb)

  private sealed trait Verb {
    def run(root: String): Unit
    def apply(m: Model): Model
  }
  private case class CowDelete(lo: Long, hi: Long) extends Verb {
    def run(root: String): Unit = {
      retried(SnapshotManifest.deleteWhere(spark, root,
        col("id").between(lo, hi), Seq("id")))
      ()
    }
    def apply(m: Model): Model = m.filterNot { case (k, _) => k >= lo && k <= hi }
  }
  private case class MorDelete(lo: Long, hi: Long) extends Verb {
    def run(root: String): Unit = {
      retried(SnapshotManifest.deleteWhereMoR(spark, root,
        col("id").between(lo, hi)))
      ()
    }
    def apply(m: Model): Model = m.filterNot { case (k, _) => k >= lo && k <= hi }
  }
  private case class CowUpdate(lo: Long, hi: Long, d: Long) extends Verb {
    def run(root: String): Unit = {
      retried(SnapshotManifest.updateWhere(spark, root,
        col("id").between(lo, hi), Map("v" -> (col("v") + d)), Seq("id")))
      ()
    }
    def apply(m: Model): Model =
      m.map { case (k, v) => k -> (if (k >= lo && k <= hi) v + d else v) }
  }
  private case class CowMerge(rows: Seq[(Long, Long)]) extends Verb {
    def run(root: String): Unit = {
      retried(Upsert.mergeWhere(spark, root, rows.toDF("id", "v"), Seq("id"),
        Seq("id")))
      ()
    }
    def apply(m: Model): Model = m ++ rows
  }
  private case class MorMerge(rows: Seq[(Long, Long)]) extends Verb {
    def run(root: String): Unit = {
      retried(Upsert.mergeWhereMoR(spark, root, rows.toDF("id", "v"), Seq("id"),
        Seq("id")))
      ()
    }
    def apply(m: Model): Model = m ++ rows
  }
  private case class AppendIdem(rows: Seq[(Long, Long)], appId: String)
      extends Verb {
    def run(root: String): Unit = {
      SnapshotManifest.appendRowsIdempotent(spark, root,
        rows.toDF("id", "v").repartition(1), appId, txnVersion = 1L, Seq("id"),
        maxAttempts = 10, sleep = noSleep)
      ()
    }
    def apply(m: Model): Model = m ++ rows // fresh keys by construction
  }
  private case object Compact extends Verb {
    def run(root: String): Unit = {
      retried(SnapshotManifest.compactSnapshot(spark, root))
      ()
    }
    def apply(m: Model): Model = m
  }
  private case object CompactSmall extends Verb {
    def run(root: String): Unit = {
      retried(SnapshotManifest.compactSmallFiles(spark, root))
      ()
    }
    def apply(m: Model): Model = m
  }
  private case object VacuumGuarded extends Verb {
    // retention far above the round length — the documented concurrent
    // regime; under a crash this exercises recovery racing live writers
    def run(root: String): Unit = {
      SnapshotManifest.vacuum(spark, root, keep = 3, minAgeMs = 10L * 60 * 1000)
      ()
    }
    def apply(m: Model): Model = m
  }

  private def genVerb(rnd: scala.util.Random, freshKey: () => Long): Verb = {
    def range(): (Long, Long) = {
      val lo = rnd.nextLong(91); (lo, lo + rnd.nextLong(9))
    }
    def kv(n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((rnd.nextLong(121), rnd.nextLong(199) - 99))
        .distinctBy(_._1)
    rnd.nextInt(16) match {
      case 0 | 1 | 2    => val (l, h) = range(); CowDelete(l, h)
      case 3 | 4        => val (l, h) = range(); MorDelete(l, h)
      case 5 | 6        => val (l, h) = range(); CowUpdate(l, h, 1L + rnd.nextLong(9))
      case 7 | 8 | 9    => CowMerge(kv(3))
      case 10 | 11 | 12 => MorMerge(kv(3))
      case 13 | 14 =>
        val k = freshKey()
        AppendIdem(Seq((k, k), (freshKey(), -k)), s"racecrash-$k")
      case _ => rnd.nextInt(3) match {
        case 0 => Compact
        case 1 => CompactSmall
        case _ => VacuumGuarded
      }
    }
  }

  test("3 racing writers x injected crash per round: observed state is SOME serial order of SOME superset of the returned verbs; history survives 50 rounds of combined debris") {
    val dir = java.nio.file.Files.createTempDirectory("racecrash").toString
    val root = s"faulty://$dir/t"
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val pool = Executors.newFixedThreadPool(3)
    val rounds = 50
    try {
      FaultGate.disarm()
      spark.conf.set("graft.manifest.checkpointInterval", "4")
      spark.conf.set("graft.manifest.parquetCheckpointMinLines", "1")
      SnapshotManifest.commit(spark, root,
        (0L until 100L).map(i => (i, i * 10L)).toDF("id", "v")
          .repartitionByRange(4, $"id"), Seq("id"))
      var model: Model = (0L until 100L).map(i => i -> i * 10L).toMap
      val rnd = new scala.util.Random(20260817L)
      val keyCounter = new java.util.concurrent.atomic.AtomicLong(1000L)
      var trippedRounds = 0
      var crashedVerbs = 0
      (0 until rounds).foreach { round =>
        if (round % 10 == 9) {
          // serial clean reclamation over the combined race+crash debris
          SnapshotManifest.vacuum(spark, root, keep = 1)
          val after = SnapshotManifest.read(spark, root)
            .as[(Long, Long)].collect().toMap
          assert(after == model,
            s"round $round: clean vacuum over race+crash debris changed content")
        }
        val verbs = (0 until 3).map(_ => genVerb(rnd, () => keyCounter.getAndIncrement()))
        val start = new CountDownLatch(1)
        val futures = verbs.map { v =>
          pool.submit(new Callable[Option[Throwable]] {
            def call(): Option[Throwable] = {
              start.await()
              try { v.run(root); None }
              catch { case t: Throwable => Some(t) }
            }
          })
        }
        // arm AFTER submission, right at the release: the countdown spans
        // whatever IO the three interleaved verbs issue
        FaultGate.arm(1L + rnd.nextInt(140))
        start.countDown()
        val outcomes = futures.map(_.get(180, TimeUnit.SECONDS))
        val tripped = FaultGate.tripped
        FaultGate.disarm()
        if (tripped) trippedRounds += 1
        crashedVerbs += outcomes.count(_.isDefined)
        assert(tripped || outcomes.forall(_.isEmpty),
          s"round $round: a verb failed WITHOUT an injected fault — " +
            s"${outcomes.flatten.map(_.toString)} (schedule: $verbs)")
        val observed = SnapshotManifest.read(spark, root)
          .as[(Long, Long)].collect().toMap
        // returned verbs MUST be in the committed set; crashed verbs MAY be
        val returned = verbs.indices.filter(i => outcomes(i).isEmpty)
        val maybe = verbs.indices.filterNot(returned.contains)
        val serial = maybe.toSet.subsets().flatMap { extra =>
          val committed = (returned ++ extra).map(verbs)
          committed.permutations.map(p => p.foldLeft(model)((m, v) => v.apply(m)))
        }.find(_ == observed)
        assert(serial.isDefined,
          s"round $round: observed state matches NO serial order of any " +
            s"returned-superset of $verbs (returned: ${returned.map(verbs)}; " +
            s"crashed: ${maybe.map(verbs)}; trip: ${FaultGate.trippedAt}) — " +
            s"diff vs all-committed: ${
              val m = verbs.foldLeft(model)((m, v) => v.apply(m))
              ((m.toSet diff observed.toSet) ++ (observed.toSet diff m.toSet)).take(10)
            }")
        model = serial.get
        // the distributed pruned read must agree over the combined debris
        val pruned = SnapshotManifest.readWhere(spark, root, col("id") >= 0L)
          .as[(Long, Long)].collect().toMap
        assert(pruned == model,
          s"round $round: readWhere through the checkpoint frame diverged " +
            s"from the adjudicated model — ${
              ((pruned.toSet diff model.toSet) ++
                (model.toSet diff pruned.toSet)).take(10)
            }")
      }
      assert(trippedRounds >= rounds / 4,
        s"degenerate run: the fault fired in only $trippedRounds/$rounds rounds")
      assert(crashedVerbs >= rounds / 4,
        s"degenerate run: only $crashedVerbs verbs crashed across $rounds rounds")
    } finally {
      FaultGate.disarm()
      pool.shutdownNow()
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }
}
