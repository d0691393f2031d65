package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotManifest
import graft.operators.Upsert

/** N-writer randomized linearizability fuzz: three concurrent writers per
  * round, each running a random verb — CoW/MoR delete, update, merge,
  * idempotent append, compaction, small-file compaction, an age-guarded
  * vacuum — released on one latch against the same table. The accepted
  * history must LINEARIZE: the observed table state after every round
  * equals SOME serial order of the three committed verbs applied to the
  * pre-round state. [[DmlRebaseSpec]] pins the pairwise conflict/commute
  * cases; this hunts the interaction bugs only arbitrary 3-way schedules
  * reach (a rebase adopting the wrong winner body, masks composing
  * non-serializably, a maintenance rebase dropping a racer's rows).
  *
  * Verbs run under `retryOnConflict` (zero-sleep backoff), so
  * every lost race re-runs to success — a verb that cannot land after its
  * retries is itself a failure. Every 10 rounds a SERIAL vacuum(keep=1)
  * reclaims history (exercising the chain guard over whatever delta
  * chains the races produced) and bounds the manifest count; the IN-RACE
  * vacuum runs with a retention age far above the round length, the
  * documented concurrent-safe regime (the age gate is what makes a
  * mis-timed vacuum unable to eat in-flight staging).
  */
class MultiWriterFuzzSpec extends SparkSpec {
  import spark.implicits._

  private type Model = Map[Long, Long]

  private sealed trait Verb {
    def run(root: String): Unit
    def apply(m: Model): Model
  }
  private val noSleep: scala.concurrent.duration.FiniteDuration => Unit = _ => ()
  private def retried[A](verb: => A): A =
    SnapshotManifest.retryOnConflict(maxAttempts = 10, sleep = noSleep)(verb)

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
  private case class MorUpdate(lo: Long, hi: Long, d: Long) extends Verb {
    def run(root: String): Unit = {
      retried(SnapshotManifest.updateWhereMoR(spark, root,
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
    def run(root: String): Unit = {
      // retention far above the round length: the documented concurrent
      // regime — planning + (at most) reclaiming long-dead history
      SnapshotManifest.vacuum(spark, root, keep = 3,
        minAgeMs = 10L * 60 * 1000)
      ()
    }
    def apply(m: Model): Model = m
  }

  private def genVerb(rnd: scala.util.Random, freshKey: () => Long,
      round: Int, slot: Int): Verb = {
    def range(): (Long, Long) = {
      val lo = rnd.nextLong(91); (lo, lo + rnd.nextLong(9))
    }
    def kv(n: Int): Seq[(Long, Long)] =
      Seq.fill(n)((rnd.nextLong(121), rnd.nextLong(199) - 99))
        .distinctBy(_._1)
    rnd.nextInt(19) match {
      case 0 | 1 => val (l, h) = range(); CowDelete(l, h)
      case 2 | 3 => val (l, h) = range(); MorDelete(l, h)
      case 4 | 5 => val (l, h) = range(); CowUpdate(l, h, 1L + rnd.nextLong(9))
      case 6 | 7 => val (l, h) = range(); MorUpdate(l, h, 1L + rnd.nextLong(9))
      case 8 | 9 | 10 => CowMerge(kv(3))
      case 11 | 12 | 13 => MorMerge(kv(3))
      case 14 | 15 =>
        AppendIdem(Seq.fill(2)((freshKey(), rnd.nextLong(199) - 99)),
          s"fuzz-$round-$slot")
      case 16 => Compact
      case 17 => CompactSmall
      case _ => VacuumGuarded
    }
  }

  test("3 concurrent writers x 100 random schedules: every observed state is SOME serial order of the committed verbs") {
    val root = java.nio.file.Files.createTempDirectory("mwfuzz").toString + "/t"
    // short checkpoint cadence + a floor of 1 so the races ALSO exercise
    // parquet twin writes at every boundary, twin reclamation under the
    // periodic vacuum, chain-guard re-twinning, and the DISTRIBUTED
    // pruned-read path (asserted against the same model each round)
    var model: Model = (0L until 100L).map(i => i -> i * 10L).toMap
    val rnd = new scala.util.Random(20260815L)
    val keyCounter = new java.util.concurrent.atomic.AtomicLong(1000L)
    val freshKey: () => Long = () => keyCounter.getAndIncrement()
    val pool = Executors.newFixedThreadPool(3)
    try {
      // conf set INSIDE the try: a bootstrap failure must not leak the
      // short cadence/floor into the shared session for later suites
      spark.conf.set("graft.manifest.checkpointInterval", "4")
      spark.conf.set("graft.manifest.parquetCheckpointMinLines", "1")
      SnapshotManifest.commit(spark, root,
        (0L until 100L).map(i => (i, i * 10L)).toDF("id", "v")
          .repartitionByRange(4, $"id"), Seq("id"))
      (0 until 100).foreach { round =>
        if (round % 10 == 9) {
          // serial history reclamation: no concurrent writers at this
          // point, so keep=1/minAge=0 is in-contract — and it drags the
          // chain guard across whatever delta chains the races left
          SnapshotManifest.vacuum(spark, root, keep = 1)
        }
        val verbs = (0 until 3).map(slot => genVerb(rnd, freshKey, round, slot))
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
        start.countDown()
        val errs = futures.flatMap(_.get(180, TimeUnit.SECONDS))
        assert(errs.isEmpty,
          s"round $round: verbs failed under race — ${errs.map(_.toString)} " +
            s"(schedule: $verbs)")
        val observed = SnapshotManifest.read(spark, root)
          .as[(Long, Long)].collect().toMap
        val serial = verbs.permutations
          .map(p => p.foldLeft(model)((m, v) => v.apply(m)))
          .find(_ == observed)
        assert(serial.isDefined,
          s"round $round: observed state matches NO serial order of $verbs — " +
            s"diff vs one order: ${
              val m = verbs.foldLeft(model)((m, v) => v.apply(m))
              ((m.toSet diff observed.toSet) ++ (observed.toSet diff m.toSet)).take(10)
            }")
        model = serial.get
        // the DISTRIBUTED pruned read must agree with the model too —
        // checkpoint twins, tail-edit composition, and executor-side
        // stats pruning fuzzed across the same arbitrary histories
        val pruned = SnapshotManifest.readWhere(spark, root, col("id") >= 0L)
          .as[(Long, Long)].collect().toMap
        assert(pruned == model,
          s"round $round: readWhere through the checkpoint frame diverged " +
            s"from the model — ${((pruned.toSet diff model.toSet) ++
              (model.toSet diff pruned.toSet)).take(10)}")
      }
    } finally {
      pool.shutdownNow()
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }
}
