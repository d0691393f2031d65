package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.Upsert
import graft.sources.{ChangeFeed, SnapshotManifest}

/** Codegen budgets per verb family: once the engine is warm, a call with
  * new keys must compile no generated class. The count is Spark's own
  * Janino compile counter, JVM-wide and deterministic like a job count.
  * The deck runs every family once on a seeded table (warm), then once
  * more on an identically seeded table with new keys (measured), so both
  * decks see the same plan shapes and only the keys differ. All families
  * run before any is measured, so the whole deck's working set must stay
  * in the codegen cache, not just one family's.
  */
class CodegenBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A 200-row, 4-file table keyed and stats-tracked on `id`, registered
    * in `ext`'s catalog as `table`.
    */
  private def seeded(ext: SparkSession, table: String): String = {
    import ext.implicits._
    val root = Files.createTempDirectory("codegen").toString
    SnapshotManifest.commit(ext, root,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "x").repartition(4), Seq("id"))
    ext.sql(s"CREATE TABLE $table USING `graft-snapshot` LOCATION '$root'")
    root
  }

  /** One call of every family on a fresh table, with keys offset by `off`;
    * returns each family's compile count, in deck order. Nine commits
    * precede the feed catch-up.
    */
  private def deck(ext: SparkSession, table: String, off: Long)
      : mutable.LinkedHashMap[String, Long] = {
    import ext.implicits._
    val root = seeded(ext, table)
    val out = mutable.LinkedHashMap.empty[String, Long]
    def family(name: String)(body: => Any): Unit = {
      val c0 = compiles
      body
      out(name) = out.getOrElse(name, 0L) + compiles - c0
    }
    val k = 10L + off
    family("point readWhere")(
      assert(SnapshotManifest.readWhere(ext, root, col("id") === k).collect().length == 1))
    family("appendRows")(SnapshotManifest.appendRows(ext, root,
      Seq((1000L + off, "a")).toDF("id", "x"), Seq("id")))
    family("CoW deleteWhere")(
      SnapshotManifest.deleteWhere(ext, root, col("id") === k + 1, Seq("id")))
    family("CoW updateWhere")(SnapshotManifest.updateWhere(ext, root,
      col("id") === k + 2, Map("x" -> lit("u")), Seq("id")))
    family("deleteWhereMoR")(SnapshotManifest.deleteWhereMoR(ext, root, col("id") === k + 3))
    // every file admits every key, so these scan the DV'd file too: the
    // mask holds this deck's new positions
    family("DV readWhere")(
      assert(SnapshotManifest.readWhere(ext, root, col("id") === k + 7).collect().length == 1))
    family("DV deleteWhereMoR")(
      SnapshotManifest.deleteWhereMoR(ext, root, col("id") === k + 8))
    family("keyed mergeWhere")(Upsert.mergeWhere(ext, root,
      Seq((k + 4, "m"), (2000L + off, "n")).toDF("id", "x"), Seq("id"), Seq("id")))
    family("SQL DELETE")(ext.sql(s"DELETE FROM $table WHERE id = ${k + 5}"))
    Seq((k + 6, "s"), (3000L + off, "t")).toDF("id", "x")
      .createOrReplaceTempView("codegen_src")
    family("SQL MERGE INTO")(ext.sql(
      s"""MERGE INTO $table t USING codegen_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    family("appendRows")(SnapshotManifest.appendRows(ext, root,
      Seq((4000L + off, "b")).toDF("id", "x"), Seq("id")))
    family("materializeNew")(
      assert(ChangeFeed.materializeNew(ext, root, Seq("id")).size == 9))
    family("feed")(assert(ChangeFeed.feed(ext, root).collect().nonEmpty))
    family("compactSmallFiles")(SnapshotManifest.compactSmallFiles(ext, root))
    family("vacuum")(SnapshotManifest.vacuum(ext, root, keep = 2))
    // 200 seeded, +2 appends, +2 merge inserts, -4 deletes
    assert(SnapshotManifest.read(ext, root).count() == 200L)
    assert(SnapshotManifest.readWhere(ext, root, col("id") === k + 2)
      .as[(Long, String)].collect().toSeq == Seq((k + 2, "u")))
    out
  }

  test("after one warm deck, each verb family's next call with new keys compiles nothing") {
    withExtSession { ext =>
      val warm = try deck(ext, "codegen_warm", 0L)
        finally ext.sql("DROP TABLE IF EXISTS codegen_warm")
      val next = try deck(ext, "codegen_next", 50L)
        finally ext.sql("DROP TABLE IF EXISTS codegen_next")
      def show(m: mutable.LinkedHashMap[String, Long]) =
        m.map { case (f, n) => s"$f $n" }.mkString(", ")
      assert(next.values.forall(_ == 0L),
        s"a warm deck with new keys compiled classes: ${show(next)} " +
          s"(the warm-up deck compiled: ${show(warm)})")
    }
  }

  test("a point readWhere still pushes its key equality into the parquet scan") {
    import spark.implicits._
    val root = Files.createTempDirectory("codegen").toString
    SnapshotManifest.commit(spark, root,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "x").repartition(4), Seq("id"))
    val df = SnapshotManifest.readWhere(spark, root, col("id") === 6L)
    assert(df.as[(Long, String)].collect().toSeq == Seq((6L, "v6")))
    val pushed = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.nonEmpty && pushed.forall(_.contains("EqualTo(id,6)")),
      s"the scan's pushed filters lost the key: $pushed")
  }
}
