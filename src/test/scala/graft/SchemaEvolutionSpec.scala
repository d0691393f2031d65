package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}
import graft.sources.SnapshotManifest
import graft.operators.Upsert
import graft.schema.SchemaAudit

/** Metadata-only widening schema evolution (`SnapshotManifest.addColumns`):
  * no data file is touched, readers answer the new column as typed nulls,
  * every content verb carries the recorded schema forward, and later
  * merges populate the column physically.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String = {
    val root = Files.createTempDirectory("evo").toString + "/t"
    SnapshotManifest.commit(spark, root,
      spark.range(0, 100).toDF("id").withColumn("v", $"id" * 10)
        .repartitionByRange(4, $"id"),
      Seq("id"))
    root
  }

  test("addColumns is metadata-only: files verbatim, new column reads as nulls") {
    val root = newTable()
    val v0Body = SnapshotManifest.manifestBody(spark, root, 0L)
    val v1 = SnapshotManifest.addColumns(spark, root,
      Seq(StructField("note", StringType, nullable = true)))
    assert(v1 == 1L)
    // body lines — paths AND stats — carry over verbatim; no data write
    assert(SnapshotManifest.manifestBody(spark, root, 1L) == v0Body)
    assert(SnapshotManifest.manifestSchema(spark, root, 1L).isDefined)
    val got = SnapshotManifest.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "v", "note"))
    assert(got.count() == 100L && got.filter($"note".isNotNull).count() == 0L)
    // time travel: the pre-widening snapshot keeps its original shape
    assert(SnapshotManifest.readVersion(spark, root, 0L).columns.toSeq == Seq("id", "v"))
    // the metadata-only diff reads nothing and emits nothing — but its
    // schema already exposes the declared column
    val cdf = SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id"))
    assert(cdf.count() == 0L)
    assert(cdf.columns.contains("note"))
    // stats-skipping still prunes on the ORIGINAL column
    assert(SnapshotManifest.readWhere(spark, root, $"id" === 5L).count() == 1L)
    // and a predicate on the DECLARED column resolves (conservatively
    // unpruned — no file has stats for it)
    assert(SnapshotManifest.readWhere(spark, root, $"note".isNull).count() == 100L)
  }

  test("addColumns guards: non-nullable, duplicate, case-insensitive collision") {
    val root = newTable()
    intercept[IllegalArgumentException] {
      SnapshotManifest.addColumns(spark, root,
        Seq(StructField("note", StringType, nullable = false)))
    }
    intercept[IllegalArgumentException] {
      SnapshotManifest.addColumns(spark, root,
        Seq(StructField("V", LongType, nullable = true))) // collides with v
    }
    intercept[IllegalArgumentException] {
      SnapshotManifest.addColumns(spark, root, Seq(
        StructField("a", LongType, nullable = true),
        StructField("A", StringType, nullable = true)))
    }
  }

  test("merge after addColumns populates the new column; old rows stay null") {
    val root = newTable()
    SnapshotManifest.addColumns(spark, root,
      Seq(StructField("note", StringType, nullable = true)))
    // commit v+2 WITH the new column: staged batch updates one row and
    // inserts one, both carrying note
    val staged = Seq((5L, -50L, "updated"), (500L, 1L, "fresh"))
      .toDF("id", "v", "note")
    val v2 = Upsert.mergeWhere(spark, root, staged, Seq("id"), Seq("id"))
    assert(v2 == 2L)
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 101L)
    assert(got.filter($"id" === 5L).head().getAs[String]("note") == "updated")
    assert(got.filter($"id" === 500L).head().getAs[String]("note") == "fresh")
    assert(got.filter($"note".isNull).count() == 99L)
    // a LEGACY staged batch (predating the widening) still merges: the
    // matched row KEEPS its note (ANSI MERGE sets only staged columns)
    val legacy = Seq((5L, -51L)).toDF("id", "v")
    Upsert.mergeWhere(spark, root, legacy, Seq("id"), Seq("id"))
    val after = SnapshotManifest.read(spark, root)
    assert(after.filter($"id" === 5L).head().getAs[Long]("v") == -51L)
    assert(after.filter($"id" === 5L).head().getAs[String]("note") == "updated")
    // change feed across the widening+merge exposes the new column
    val cdf = SnapshotManifest.changesBetween(spark, root, 0L, 2L, Seq("id"))
    assert(cdf.columns.contains("note"))
    assert(cdf.filter($"_change" === "insert" && $"id" === 500L).count() == 1L)
  }

  test("every content verb carries the recorded schema forward") {
    val root = newTable()
    SnapshotManifest.addColumns(spark, root,
      Seq(StructField("note", StringType, nullable = true)))
    // MoR delete → schema survives
    SnapshotManifest.deleteWhereMoR(spark, root, $"id" === 7L)
    assert(SnapshotManifest.manifestSchema(spark, root,
      SnapshotManifest.currentVersion(spark, root).get).isDefined)
    assert(SnapshotManifest.read(spark, root).columns.contains("note"))
    // CoW update → schema survives AND the rewritten file carries the
    // column physically (it read under the declared schema)
    SnapshotManifest.updateWhere(spark, root, $"id" === 8L, Map("v" -> lit(-8L)), Seq("id"))
    assert(SnapshotManifest.read(spark, root).columns.contains("note"))
    // fold → schema survives, deletions materialized
    SnapshotManifest.foldDeletes(spark, root)
    val folded = SnapshotManifest.read(spark, root)
    assert(folded.columns.contains("note"))
    assert(folded.count() == 99L && folded.filter($"id" === 7L).count() == 0L)
    assert(folded.filter($"id" === 8L).head().getAs[Long]("v") == -8L)
    // a full truncate-and-load commit REPLACES the table, schema included
    SnapshotManifest.commit(spark, root, Seq((1L, 2L)).toDF("id", "v"), Seq("id"))
    val replaced = SnapshotManifest.read(spark, root)
    assert(replaced.columns.toSeq == Seq("id", "v"))
    assert(SnapshotManifest.manifestSchema(spark, root,
      SnapshotManifest.currentVersion(spark, root).get).isEmpty)
  }

  test("full-rewrite maintenance materializes declared columns and retires the header") {
    val root = newTable()
    SnapshotManifest.addColumns(spark, root,
      Seq(StructField("note", StringType, nullable = true)))
    Upsert.mergeWhere(spark, root,
      Seq((5L, -50L, "x")).toDF("id", "v", "note"), Seq("id"), Seq("id"))
    // compaction reads under the recorded schema → its output files carry
    // note PHYSICALLY, so the header is no longer needed and is dropped
    val v = SnapshotManifest.compactSnapshot(spark, root,
      targetBytes = 1024L * 1024 * 1024)
    assert(v.isDefined)
    assert(SnapshotManifest.manifestSchema(spark, root, v.get).isEmpty)
    val got = SnapshotManifest.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "v", "note"))
    assert(got.filter($"id" === 5L).head().getAs[String]("note") == "x")
    assert(got.filter($"note".isNull).count() == 99L)
  }

  test("incremental rollup refresh crosses an addColumns boundary") {
    import graft.operators.IncrementalRollup
    val base = Files.createTempDirectory("evoroll").toString
    val (src, roll) = (s"$base/src", s"$base/rollup")
    val aggs = Seq(count(lit(1)).alias("n"),
      sum($"v".cast("decimal(30,6)")).cast("decimal(38,6)").alias("sum_v"))
    SnapshotManifest.commit(spark, src,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("id", "grp", "v"),
      Seq("id"))
    IncrementalRollup.refresh(spark, src, roll, Seq("id"), Seq("grp"), aggs)
    // the source widens mid-stream; the rollup's aggregates don't touch
    // the new column, so refresh off the widened change feed must still
    // land on the from-scratch answer
    SnapshotManifest.addColumns(spark, src,
      Seq(StructField("note", StringType, nullable = true)))
    Upsert.mergeWhere(spark, src,
      Seq((2L, "a", -5L, "x"), (4L, "b", 40L, "y")).toDF("id", "grp", "v", "note"),
      Seq("id"), Seq("id"))
    IncrementalRollup.refresh(spark, src, roll, Seq("id"), Seq("grp"), aggs)
    val got = IncrementalRollup.read(spark, roll)
      .select($"grp", $"n", $"sum_v").as[(String, Long, BigDecimal)]
      .collect().map(r => r._1 -> ((r._2, r._3.toLong))).toMap
    assert(got == Map("a" -> ((2L, 5L)), "b" -> ((2L, 70L))), got.toString)
    // and a rollup over the DECLARED column works once it has data
    val roll2 = s"$base/rollup2"
    IncrementalRollup.refresh(spark, src, roll2, Seq("id"), Seq("grp"),
      Seq(sum(when($"note".isNotNull, 1L).otherwise(0L)).alias("n_noted")))
    val noted = IncrementalRollup.read(spark, roll2)
      .select($"grp", $"n_noted").as[(String, Long)].collect().toMap
    assert(noted == Map("a" -> 1L, "b" -> 1L), noted.toString)
  }

  test("streaming upsert rides across an addColumns widening mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingUpsert
    val root = newTable()
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("evo_ck").toString
    // batch 0: legacy-shaped stream lands before the widening
    val legacy = MemoryStream[(Long, Long, Long)]
    legacy.addData(Seq((5L, -50L, 1L)))
    StreamingUpsert.runAvailableNow(spark,
      legacy.toDF().toDF("id", "v", "ts"), root, Seq("id"), "ts",
      s"$ckpt/a", statsCols = Seq("id"))
    // the table widens; a NEW stream shape carries the declared column
    SnapshotManifest.addColumns(spark, root,
      Seq(StructField("note", StringType, nullable = true)))
    val noted = MemoryStream[(Long, Long, String, Long)]
    noted.addData(Seq((6L, -60L, "n6", 2L), (500L, 1L, "fresh", 2L)))
    StreamingUpsert.runAvailableNow(spark,
      noted.toDF().toDF("id", "v", "note", "ts"), root, Seq("id"), "ts",
      s"$ckpt/b", statsCols = Seq("id"))
    // and a LEGACY-shaped batch after the widening keeps notes intact
    val legacy2 = MemoryStream[(Long, Long, Long)]
    legacy2.addData(Seq((6L, -61L, 3L)))
    StreamingUpsert.runAvailableNow(spark,
      legacy2.toDF().toDF("id", "v", "ts"), root, Seq("id"), "ts",
      s"$ckpt/c", statsCols = Seq("id"))
    val got = SnapshotManifest.read(spark, root)
    assert(got.count() == 101L)
    assert(got.filter($"id" === 5L).head().getAs[Long]("v") == -50L)
    assert(got.filter($"id" === 6L).head().getAs[Long]("v") == -61L)
    assert(got.filter($"id" === 6L).head().getAs[String]("note") == "n6")
    assert(got.filter($"id" === 500L).head().getAs[String]("note") == "fresh")
    assert(got.filter($"note".isNotNull).count() == 2L)
  }

  test("racing addColumns: losers retry onto the winner's schema; same-name collision is loud") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = newTable()
    // two writers race DIFFERENT columns: each retries past the lost race
    // and re-widens the winner's schema — both columns land
    val fa = Future(SnapshotManifest.retryOnConflict()(
      SnapshotManifest.addColumns(spark, root,
        Seq(StructField("nota", StringType, nullable = true)))))
    val fb = Future(SnapshotManifest.retryOnConflict()(
      SnapshotManifest.addColumns(spark, root,
        Seq(StructField("notb", LongType, nullable = true)))))
    Await.result(fa, 2.minutes); Await.result(fb, 2.minutes)
    val cols = SnapshotManifest.read(spark, root).columns.toSeq
    assert(cols.contains("nota") && cols.contains("notb"), cols.toString)
    assert(SnapshotManifest.currentVersion(spark, root).contains(2L))
    // a retry that finds the winner already added the SAME name fails
    // loudly (require), never double-declares
    intercept[IllegalArgumentException] {
      SnapshotManifest.retryOnConflict()(
        SnapshotManifest.addColumns(spark, root,
          Seq(StructField("nota", StringType, nullable = true))))
    }
  }

  test("E3 schema diff drives the widening (audit -> addColumns composition)") {
    val root = newTable()
    val incoming = Seq((0L, 0L, "x")).toDF("id", "v", "note").schema
    val current = SnapshotManifest.read(spark, root).schema
    val adds = SchemaAudit.schemaDiff("t", current, incoming)
      .filter(_.change == "added")
      .map(c => StructField(c.column, incoming(c.column).dataType, nullable = true))
    assert(adds.map(_.name) == Seq("note"))
    SnapshotManifest.retryOnConflict()(
      SnapshotManifest.addColumns(spark, root, adds))
    assert(SnapshotManifest.read(spark, root).columns.contains("note"))
  }

  test("E3 load-report walker: one message per changed column across the load's tables, dlt message shape") {
    graft.operators.SlackSink.memorySink.clear()
    val ordersPre = Seq((1L, "a")).toDF("id", "status").schema
    val ordersPost = Seq((1L, "a", 2.5)).toDF("id", "status", "total").schema
    val itemsPre = Seq((1L, 2)).toDF("id", "qty").schema
    val itemsPost = Seq((1L, 2L)).toDF("id", "qty").schema // qty retyped
    val unchanged = Seq((1L, "x")).toDF("id", "x").schema
    val n = SchemaAudit.notifyLoadSchemaChanges(spark, "nightly_load",
      Seq(("orders", ordersPre, ordersPost),
        ("items", itemsPre, itemsPost),
        ("untouched", unchanged, unchanged)),
      "memory://alerts")
    assert(n == 2L)
    val got = graft.operators.SlackSink.memorySink.toArray.map(_.toString).toSet
    assert(got.size == 2)
    // reference message shape (dlt_utils.py:28-33): pipeline, table,
    // column, data type — each on its own backticked line
    val added = got.find(_.contains("`orders`")).get
    assert(added.contains("*Warning*, schema-change detected in pipeline: `nightly_load`"))
    assert(added.contains("Table updated: `orders`"))
    assert(added.contains("Column added: `total`"))
    assert(added.contains("Data type: `double`"))
    val retyped = got.find(_.contains("`items`")).get
    assert(retyped.contains("Column retyped: `qty`"))
    assert(retyped.contains("Data type: `int -> bigint`"))
    // an all-unchanged load sends nothing
    graft.operators.SlackSink.memorySink.clear()
    assert(SchemaAudit.notifyLoadSchemaChanges(spark, "nightly_load",
      Seq(("untouched", unchanged, unchanged)), "memory://alerts") == 0L)
    assert(graft.operators.SlackSink.memorySink.isEmpty)
  }
}
