package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.sources.SnapshotManifest
import graft.operators.Upsert

/** Model-based DML fuzz: random interleavings of every table verb — CoW
  * and MoR delete/update/merge, fold, compaction, vacuum — applied to BOTH
  * the snapshot table and an in-memory reference model, compared after
  * every step. Pairwise specs pin each verb; this hunts the INTERACTION
  * bugs (a DV surviving a rewrite, a fold resurrecting a row, a merge
  * missing a masked position) across arbitrary histories.
  */
class DmlModelSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private case class CowDelete(lo: Long, hi: Long) extends Op
  private case class MorDelete(lo: Long, hi: Long) extends Op
  private case class CowUpdate(lo: Long, hi: Long, d: Long) extends Op
  private case class MorUpdate(lo: Long, hi: Long, d: Long) extends Op
  private case class CowMerge(rows: List[(Long, Long)]) extends Op
  private case class MorMerge(rows: List[(Long, Long)]) extends Op
  private case object Fold extends Op
  private case object Compact extends Op
  private case object Vacuum extends Op
  private case object Optimize extends Op
  // content-neutral metadata verbs: stats retrofit and the declared
  // properties — fuzzed so the TableMeta carry holds under ARBITRARY
  // interleavings (a rewrite verb dropping pk/bloom, an analyze
  // publishing stale lines, a compaction losing a property)
  private case object Analyze extends Op
  private case object SetPk extends Op
  private case object SetBloom extends Op
  // fresh-key idempotent append (txn records fuzzed through every verb's
  // TableMeta carry) and the partial tail compaction (content-neutral)
  private case class Append(rows: List[(Long, Long)]) extends Op
  private case object CompactSmall extends Op
  // round-14 SQL-surface verbs: TRUNCATE (one empty property-carrying
  // commit), RESTORE to a retained version (model AND property flags
  // revert — restore republishes the target's meta verbatim), and the
  // atomic multi-property declare
  private case object Truncate extends Op
  private case object Restore extends Op
  private case object SetProps extends Op

  private val genRange = for {
    lo <- Gen.choose(0L, 90L); w <- Gen.choose(0L, 15L)
  } yield (lo, lo + w)
  private val genOp: Gen[Op] = Gen.frequency(
    2 -> genRange.map { case (l, h) => CowDelete(l, h) },
    3 -> genRange.map { case (l, h) => MorDelete(l, h) },
    2 -> (for { (l, h) <- genRange; d <- Gen.choose(1L, 9L) } yield CowUpdate(l, h, d)),
    3 -> (for { (l, h) <- genRange; d <- Gen.choose(1L, 9L) } yield MorUpdate(l, h, d)),
    2 -> Gen.listOfN(4, for { k <- Gen.choose(0L, 120L); v <- Gen.choose(-99L, 99L) }
      yield (k, v)).map(rs => CowMerge(rs.distinctBy(_._1))),
    3 -> Gen.listOfN(4, for { k <- Gen.choose(0L, 120L); v <- Gen.choose(-99L, 99L) }
      yield (k, v)).map(rs => MorMerge(rs.distinctBy(_._1))),
    2 -> Gen.const(Fold),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Vacuum),
    1 -> Gen.const(Optimize),
    1 -> Gen.const(Analyze),
    1 -> Gen.const(SetPk),
    1 -> Gen.const(SetBloom),
    2 -> Gen.listOfN(3, Gen.choose(-99L, 99L)).map(vs => Append(vs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) })),
    1 -> Gen.const(CompactSmall),
    1 -> Gen.const(Truncate),
    1 -> Gen.const(Restore),
    1 -> Gen.const(SetProps))

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed + i)))

  test("any interleaving of CoW/MoR verbs + maintenance matches the in-memory model") {
    (0 until 3).foreach { trial =>
      // vary the manifest cadence per trial: 1 = every manifest full (the
      // pre-delta behavior), 2/3 = most commits write churn-sized deltas —
      // so every interleaving ALSO fuzzes chain resolution, the vacuum
      // chain guard, and delta rendering across verbs
      spark.conf.set("graft.manifest.checkpointInterval", (trial + 1).toString)
      try {
      val root = Files.createTempDirectory(s"dmlmodel$trial").toString + "/t"
      SnapshotManifest.commit(spark, root,
        (0L until 100L).map(i => (i, i * 10L)).toDF("id", "v")
          .repartitionByRange(4, $"id"),
        Seq("id"))
      val model = scala.collection.mutable.Map[Long, Long](
        (0L until 100L).map(i => i -> i * 10L): _*)
      var pkSet = false
      var bloomSet = false
      // (version, expected content, pk/bloom flags) after each step
      // — replayed at the end as time-travel reads resolving through
      // whatever delta chains the history produced, and the RESTORE op's
      // revert targets. Vacuum clears it (old versions are reclaimed).
      val hist = scala.collection.mutable.ArrayBuffer[
        (Long, Map[Long, Long], Boolean, Boolean)]()
      val ops = samples(genOp, 10, 5000L + trial * 100L)
      ops.zipWithIndex.foreach { case (op, step) =>
        op match {
          case CowDelete(lo, hi) =>
            SnapshotManifest.deleteWhere(spark, root, $"id".between(lo, hi), Seq("id"))
            model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
          case MorDelete(lo, hi) =>
            SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(lo, hi))
            model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
          case CowUpdate(lo, hi, d) =>
            SnapshotManifest.updateWhere(spark, root, $"id".between(lo, hi),
              Map("v" -> ($"v" + d)), Seq("id"))
            model.keys.filter(k => k >= lo && k <= hi).toSeq
              .foreach(k => model(k) = model(k) + d)
          case MorUpdate(lo, hi, d) =>
            SnapshotManifest.updateWhereMoR(spark, root, $"id".between(lo, hi),
              Map("v" -> ($"v" + d)), Seq("id"))
            model.keys.filter(k => k >= lo && k <= hi).toSeq
              .foreach(k => model(k) = model(k) + d)
          case CowMerge(rows) =>
            Upsert.mergeWhere(spark, root, rows.toDF("id", "v"), Seq("id"), Seq("id"))
            rows.foreach { case (k, v) => model(k) = v }
          case MorMerge(rows) =>
            Upsert.mergeWhereMoR(spark, root, rows.toDF("id", "v"), Seq("id"), Seq("id"))
            rows.foreach { case (k, v) => model(k) = v }
          case Fold =>
            SnapshotManifest.foldDeletes(spark, root)
          case Compact =>
            SnapshotManifest.compactSnapshot(spark, root)
          case Vacuum =>
            SnapshotManifest.vacuum(spark, root, keep = 1)
            hist.clear() // reclaimed versions are no longer readable
          case Optimize if model.nonEmpty =>
            // z-order rewrite reads DV-APPLIED and must be content-neutral
            graft.operators.Layout.optimizeSnapshot(spark, root,
              Seq("id", "v"), bits = 4, numFiles = 4)
          case Optimize => () // empty table: nothing to cluster
          case Analyze =>
            SnapshotManifest.analyzeTable(spark, root, Seq("id", "v"))
          case SetPk =>
            SnapshotManifest.setPrimaryKey(spark, root, Seq("id")); pkSet = true
          case SetBloom =>
            SnapshotManifest.setBloomCols(spark, root, Seq("id")); bloomSet = true
          case Append(rows) =>
            val fresh = rows.zipWithIndex
              .map { case ((_, v), i) => (5000L + step * 10L + i, v) }
            val va = SnapshotManifest.appendRowsIdempotent(spark, root,
              fresh.toDF("id", "v"), "fuzz", step.toLong, Seq("id"))
            // the orchestrator replays the batch: it must land NOTHING,
            // whatever history preceded it (version-pinned — a Map
            // comparison would silently collapse duplicate rows)
            assert(SnapshotManifest.appendRowsIdempotent(spark, root,
              fresh.toDF("id", "v"), "fuzz", step.toLong, Seq("id")) == va,
              s"replayed append committed at step $step")
            fresh.foreach { case (k, v) => model(k) = v }
          case CompactSmall =>
            SnapshotManifest.compactSmallFiles(spark, root, smallBytes = 1L << 20)
          case Truncate =>
            // the SQL TRUNCATE path: one empty commit, properties carry
            new graft.sources.SnapshotTable(spark, root, None, None,
              org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
              .truncateTable()
            model.clear()
          case Restore if hist.nonEmpty =>
            val (tv, want, p, bl) = hist(step % hist.size)
            SnapshotManifest.restoreVersion(spark, root, tv)
            model.clear(); model ++= want
            pkSet = p; bloomSet = bl
          case Restore => () // nothing retained to restore to
          case SetProps =>
            // the atomic multi-property declare (SQL ALTER's one-publish)
            SnapshotManifest.setProperties(spark, root,
              bloomCols = Some(Seq("id")), pk = Some(Seq("id")))
            pkSet = true; bloomSet = true
        }
        val got = SnapshotManifest.read(spark, root)
          .as[(Long, Long)].collect().toMap
        assert(got == model.toMap,
          s"trial $trial diverged after step $step ($op): " +
            s"extra=${(got.keySet -- model.keySet).take(5)} " +
            s"missing=${(model.keySet -- got.keySet).take(5)} " +
            s"wrong=${got.collect { case (k, v) if model.get(k).exists(_ != v) => k }.take(5)}")
        // declared properties must survive whatever verb just ran
        val curV = SnapshotManifest.currentVersion(spark, root).get
        assert(SnapshotManifest.primaryKey(spark, root, curV) ==
          (if (pkSet) Seq("id") else Nil),
          s"trial $trial step $step ($op): pk property lost")
        assert(SnapshotManifest.bloomCols(spark, root, curV) ==
          (if (bloomSet) Seq("id") else Nil),
          s"trial $trial step $step ($op): bloom property lost")
        hist += ((curV, model.toMap, pkSet, bloomSet))
      }
      // time-travel replay: every retained historical version must read
      // back to the content the model had at that step — exercising delta
      // resolution from an arbitrary chain position, not just the head
      hist.foreach { case (v, want, _, _) =>
        val got = SnapshotManifest.readVersion(spark, root, v)
          .select($"id", $"v").as[(Long, Long)].collect().toMap
        assert(got == want,
          s"trial $trial: version $v read back ${got.size} rows != model " +
            s"${want.size} (interval ${trial + 1})")
      }
      } finally spark.conf.unset("graft.manifest.checkpointInterval")
    }
  }

  // ---- SQL-mode fuzz (round-14 VERDICT ask #4) ----------------------

  private sealed trait SqlOp
  private case class SqlDelete(lo: Long, hi: Long) extends SqlOp
  private case class SqlUpdate(lo: Long, hi: Long, d: Long) extends SqlOp
  // IN-subquery DELETE; withNull renders the NOT IN null-bearing shape,
  // which must be a provable no-op under SQL three-valued logic
  private case class SqlDeleteIn(keys: List[Long], withNull: Boolean) extends SqlOp
  private case class SqlMergeUpsert(rows: List[(Long, Long)]) extends SqlOp
  // conditional multi-action MERGE: op 'D' deletes matched, otherwise
  // update; unmatched 'U' rows insert, unmatched 'D' rows do nothing
  private case class SqlMergeOps(rows: List[(Long, Long, String)]) extends SqlOp
  // NOT MATCHED BY SOURCE sync: source = model keys ≡0 (mod m) with v+1;
  // unmatched target rows at/above the cutoff are dropped
  private case class SqlMergeSync(mod: Long, cutoff: Long) extends SqlOp
  private case object SqlTruncate extends SqlOp
  private case object SqlRestore extends SqlOp
  private case object SqlVacuum extends SqlOp
  private case object SqlOptimize extends SqlOp
  private case object SqlFold extends SqlOp
  private case object SqlSetProps extends SqlOp

  private val genSqlOp: Gen[SqlOp] = Gen.frequency(
    3 -> genRange.map { case (l, h) => SqlDelete(l, h) },
    3 -> (for { (l, h) <- genRange; d <- Gen.choose(1L, 9L) } yield SqlUpdate(l, h, d)),
    2 -> (for {
      ks <- Gen.listOfN(5, Gen.choose(0L, 120L)); n <- Gen.oneOf(true, false)
    } yield SqlDeleteIn(ks.distinct, n)),
    3 -> Gen.listOfN(4, for { k <- Gen.choose(0L, 120L); v <- Gen.choose(-99L, 99L) }
      yield (k, v)).map(rs => SqlMergeUpsert(rs.distinctBy(_._1))),
    3 -> Gen.listOfN(5, for {
      k <- Gen.choose(0L, 120L); v <- Gen.choose(-99L, 99L)
      op <- Gen.frequency(1 -> Gen.const("D"), 2 -> Gen.const("U"))
    } yield (k, v, op)).map(rs => SqlMergeOps(rs.distinctBy(_._1))),
    2 -> (for { m <- Gen.choose(2L, 5L); c <- Gen.choose(0L, 120L) }
      yield SqlMergeSync(m, c)),
    1 -> Gen.const(SqlTruncate),
    1 -> Gen.const(SqlRestore),
    1 -> Gen.const(SqlVacuum),
    1 -> Gen.const(SqlOptimize),
    1 -> Gen.const(SqlFold),
    1 -> Gen.const(SqlSetProps))

  test("SQL-mode fuzz: every verb rendered as a SQL statement against a catalog table matches the model") {
    withExtSession { ext =>
      import ext.implicits._
      (0 until 2).foreach { trial =>
        ext.conf.set("graft.manifest.checkpointInterval", (trial + 2).toString)
        val root = Files.createTempDirectory(s"dmlsql$trial").toString + "/t"
        val tbl = s"dmlsql_t$trial"
        SnapshotManifest.commit(ext, root,
          (0L until 100L).map(i => (i, i * 10L)).toDF("id", "v")
            .repartitionByRange(4, $"id"),
          Seq("id"))
        ext.sql(s"CREATE TABLE $tbl USING `graft-snapshot` LOCATION '$root'")
        try {
          val model = scala.collection.mutable.Map[Long, Long](
            (0L until 100L).map(i => i -> i * 10L): _*)
          var pkSet = false; var bloomSet = false
          val hist = scala.collection.mutable.ArrayBuffer[
            (Long, Map[Long, Long], Boolean, Boolean)]()
          val ops = samples(genSqlOp, 12, 7300L + trial * 100L)
          ops.zipWithIndex.foreach { case (op, step) =>
            op match {
              case SqlDelete(lo, hi) =>
                ext.sql(s"DELETE FROM $tbl WHERE id BETWEEN $lo AND $hi")
                model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
              case SqlUpdate(lo, hi, d) =>
                ext.sql(s"UPDATE $tbl SET v = v + $d WHERE id BETWEEN $lo AND $hi")
                model.keys.filter(k => k >= lo && k <= hi).toSeq
                  .foreach(k => model(k) = model(k) + d)
              case SqlDeleteIn(keys, withNull) =>
                val view = s"dmlsql_keys$trial"
                (keys.map(Option(_)) ++ (if (withNull) Seq(None) else Nil))
                  .toDF("k").createOrReplaceTempView(view)
                if (withNull) {
                  // NOT IN over a null-bearing subquery: provable no-op
                  val v0 = SnapshotManifest.currentVersion(ext, root)
                  ext.sql(s"DELETE FROM $tbl WHERE id NOT IN (SELECT k FROM $view)")
                  assert(SnapshotManifest.currentVersion(ext, root) == v0,
                    s"trial $trial step $step: null-bearing NOT IN committed")
                } else {
                  ext.sql(s"DELETE FROM $tbl WHERE id IN (SELECT k FROM $view)")
                  keys.foreach(model.remove)
                }
              case SqlMergeUpsert(rows) =>
                val view = s"dmlsql_ups$trial"
                rows.toDF("id", "v").createOrReplaceTempView(view)
                ext.sql(
                  s"""MERGE INTO $tbl t USING $view s ON t.id = s.id
                     |WHEN MATCHED THEN UPDATE SET *
                     |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
                rows.foreach { case (k, v) => model(k) = v }
              case SqlMergeOps(rows) =>
                val view = s"dmlsql_ops$trial"
                rows.toDF("id", "v", "op").createOrReplaceTempView(view)
                ext.sql(
                  s"""MERGE INTO $tbl t USING $view s ON t.id = s.id
                     |WHEN MATCHED AND s.op = 'D' THEN DELETE
                     |WHEN MATCHED THEN UPDATE SET v = s.v
                     |WHEN NOT MATCHED AND s.op = 'U' THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
                rows.foreach { case (k, v, o) =>
                  if (model.contains(k)) { if (o == "D") model.remove(k) else model(k) = v }
                  else if (o == "U") model(k) = v
                }
              case SqlMergeSync(m, cutoff) =>
                val src = model.toSeq.collect {
                  case (k, v) if k % m == 0 => (k, v + 1) }
                val view = s"dmlsql_sync$trial"
                src.toDF("id", "v").createOrReplaceTempView(view)
                ext.sql(
                  s"""MERGE INTO $tbl t USING $view s ON t.id = s.id
                     |WHEN MATCHED THEN UPDATE SET *
                     |WHEN NOT MATCHED THEN INSERT *
                     |WHEN NOT MATCHED BY SOURCE AND t.id >= $cutoff THEN DELETE""".stripMargin)
                val srcKeys = src.map(_._1).toSet
                model.keys.toSeq.foreach { k =>
                  if (srcKeys(k)) model(k) = model(k) + 1
                  else if (k >= cutoff) model.remove(k)
                }
              case SqlTruncate =>
                ext.sql(s"TRUNCATE TABLE $tbl")
                model.clear()
              case SqlRestore if hist.nonEmpty =>
                val (tv, want, p, bl) = hist(step % hist.size)
                ext.sql(s"CALL graft.restore_version('$tbl', $tv)").collect()
                model.clear(); model ++= want; pkSet = p; bloomSet = bl
              case SqlRestore => ()
              case SqlVacuum =>
                ext.sql(s"CALL graft.vacuum('$tbl', keep => 1)").collect()
                hist.clear()
              case SqlOptimize if model.nonEmpty =>
                ext.sql(s"CALL graft.optimize('$tbl', zorder_by => 'id,v', num_files => 4)")
                  .collect()
              case SqlOptimize => ()
              case SqlFold =>
                ext.sql(s"CALL graft.fold_deletes('$tbl')").collect()
              case SqlSetProps =>
                ext.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES" +
                  "('bloomCols'='id', 'primaryKey'='id')")
                pkSet = true; bloomSet = true
            }
            // compare through the SQL read path (catalog relation, DV-live
            // serve rule and all) — any SQL/API divergence lands here
            val got = ext.sql(s"SELECT id, v FROM $tbl")
              .as[(Long, Long)].collect().toMap
            assert(got == model.toMap,
              s"SQL trial $trial diverged after step $step ($op): " +
                s"extra=${(got.keySet -- model.keySet).take(5)} " +
                s"missing=${(model.keySet -- got.keySet).take(5)} " +
                s"wrong=${got.collect { case (k, v) if model.get(k).exists(_ != v) => k }.take(5)}")
            val curV = SnapshotManifest.currentVersion(ext, root).get
            assert(SnapshotManifest.primaryKey(ext, root, curV) ==
              (if (pkSet) Seq("id") else Nil),
              s"SQL trial $trial step $step ($op): pk property lost")
            assert(SnapshotManifest.bloomCols(ext, root, curV) ==
              (if (bloomSet) Seq("id") else Nil),
              s"SQL trial $trial step $step ($op): bloom property lost")
            hist += ((curV, model.toMap, pkSet, bloomSet))
          }
        } finally {
          ext.sql(s"DROP TABLE IF EXISTS $tbl")
          ext.conf.unset("graft.manifest.checkpointInterval")
        }
      }
    }
  }

  test("addColumns interleaves with every DML verb; the declared column tracks the model") {
    // schema evolution lands mid-history: before it the table is (id, v);
    // after it (id, v, note) where merges may or may not carry note.
    // Hunts the interaction bugs of the RECORDED schema: a verb dropping
    // the schema header, a CoW rewrite losing the column, a post-image
    // select missing it, a legacy merge nulling populated notes.
    (0 until 2).foreach { trial =>
      val root = Files.createTempDirectory(s"evomodel$trial").toString + "/t"
      SnapshotManifest.commit(spark, root,
        (0L until 100L).map(i => (i, i * 10L)).toDF("id", "v")
          .repartitionByRange(4, $"id"),
        Seq("id"))
      // model: id -> (v, note)
      val model = scala.collection.mutable.Map[Long, (Long, Option[Long])](
        (0L until 100L).map(i => i -> ((i * 10L, Option.empty[Long]))): _*)
      var evolved = false
      val ops = samples(genOp, 12, 9100L + trial * 100L)
      ops.zipWithIndex.foreach { case (op, step) =>
        // deterministically evolve a third of the way through the history
        if (step == 4) {
          SnapshotManifest.addColumns(spark, root, Seq(
            org.apache.spark.sql.types.StructField("note",
              org.apache.spark.sql.types.LongType, nullable = true)))
          evolved = true
        }
        op match {
          case CowDelete(lo, hi) =>
            SnapshotManifest.deleteWhere(spark, root, $"id".between(lo, hi), Seq("id"))
            model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
          case MorDelete(lo, hi) =>
            SnapshotManifest.deleteWhereMoR(spark, root, $"id".between(lo, hi))
            model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
          case CowUpdate(lo, hi, d) =>
            SnapshotManifest.updateWhere(spark, root, $"id".between(lo, hi),
              Map("v" -> ($"v" + d)), Seq("id"))
            model.keys.filter(k => k >= lo && k <= hi).toSeq
              .foreach(k => model(k) = (model(k)._1 + d, model(k)._2))
          case MorUpdate(lo, hi, d) =>
            SnapshotManifest.updateWhereMoR(spark, root, $"id".between(lo, hi),
              Map("v" -> ($"v" + d)), Seq("id"))
            model.keys.filter(k => k >= lo && k <= hi).toSeq
              .foreach(k => model(k) = (model(k)._1 + d, model(k)._2))
          case CowMerge(rows) =>
            if (evolved && step % 2 == 0) {
              // staged batch CARRIES the new column (note = v)
              Upsert.mergeWhere(spark, root,
                rows.map { case (k, v) => (k, v, v) }.toDF("id", "v", "note"),
                Seq("id"), Seq("id"))
              rows.foreach { case (k, v) => model(k) = (v, Some(v)) }
            } else {
              // legacy batch: matched rows must KEEP their note (ANSI
              // MERGE sets only staged columns), inserts get null
              Upsert.mergeWhere(spark, root, rows.toDF("id", "v"),
                Seq("id"), Seq("id"))
              rows.foreach { case (k, v) =>
                model(k) = (v, model.get(k).flatMap(_._2)) }
            }
          case MorMerge(rows) =>
            if (evolved && step % 2 == 1) {
              Upsert.mergeWhereMoR(spark, root,
                rows.map { case (k, v) => (k, v, v) }.toDF("id", "v", "note"),
                Seq("id"), Seq("id"))
              rows.foreach { case (k, v) => model(k) = (v, Some(v)) }
            } else {
              Upsert.mergeWhereMoR(spark, root, rows.toDF("id", "v"),
                Seq("id"), Seq("id"))
              rows.foreach { case (k, v) =>
                model(k) = (v, model.get(k).flatMap(_._2)) }
            }
          case Fold =>
            SnapshotManifest.foldDeletes(spark, root)
          case Compact =>
            SnapshotManifest.compactSnapshot(spark, root)
          case Vacuum =>
            SnapshotManifest.vacuum(spark, root, keep = 1)
          case Optimize if model.nonEmpty =>
            graft.operators.Layout.optimizeSnapshot(spark, root,
              Seq("id", "v"), bits = 4, numFiles = 4)
          case Optimize => ()
          // content-neutral metadata verbs: the recorded schema must
          // survive them exactly as it survives the DML verbs
          case Analyze =>
            SnapshotManifest.analyzeTable(spark, root,
              if (evolved) Seq("id", "v", "note") else Seq("id", "v"))
          case SetPk => SnapshotManifest.setPrimaryKey(spark, root, Seq("id"))
          case SetBloom => SnapshotManifest.setBloomCols(spark, root, Seq("id"))
          case Append(rows) =>
            val fresh = rows.zipWithIndex
              .map { case ((_, v), i) => (5000L + step * 10L + i, v) }
            // the append frame must carry the evolved table's EXACT shape
            val frame =
              if (evolved) fresh.map { case (k, v) => (k, v, Option.empty[Long]) }
                .toDF("id", "v", "note")
              else fresh.toDF("id", "v")
            val va = SnapshotManifest.appendRowsIdempotent(spark, root, frame,
              "fuzz", step.toLong, Seq("id"))
            assert(SnapshotManifest.appendRowsIdempotent(spark, root, frame,
              "fuzz", step.toLong, Seq("id")) == va, // replay lands nothing
              s"evo: replayed append committed at step $step")
            fresh.foreach { case (k, v) => model(k) = (v, None) }
          case CompactSmall =>
            SnapshotManifest.compactSmallFiles(spark, root, smallBytes = 1L << 20)
          case SetProps =>
            SnapshotManifest.setProperties(spark, root,
              bloomCols = Some(Seq("id")), pk = Some(Seq("id")))
          case Truncate =>
            // evolution × TRUNCATE: the empty commit's one schema-bearing
            // file must carry the WIDENED shape
            new graft.sources.SnapshotTable(spark, root, None, None,
              org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
              .truncateTable()
            model.clear()
          case Restore => () // revert targets are tracked in the first fuzz
        }
        if (!evolved) {
          val got = SnapshotManifest.read(spark, root)
            .as[(Long, Long)].collect().toMap
          assert(got == model.toMap.map { case (k, (v, _)) => k -> v },
            s"evo trial $trial diverged pre-evolution after step $step ($op)")
        } else {
          val df = SnapshotManifest.read(spark, root)
          assert(df.columns.toSeq == Seq("id", "v", "note"),
            s"evo trial $trial: schema lost after step $step ($op): ${df.columns.toSeq}")
          val got = df.as[(Long, Long, Option[Long])].collect()
            .map(r => r._1 -> ((r._2, r._3))).toMap
          assert(got == model.toMap,
            s"evo trial $trial diverged after step $step ($op): " +
              s"extra=${(got.keySet -- model.keySet).take(5)} " +
              s"missing=${(model.keySet -- got.keySet).take(5)} " +
              s"wrong=${got.collect { case (k, v) if model.get(k).exists(_ != v) => (k, v, model(k)) }.take(3)}")
        }
      }
    }
  }
}
