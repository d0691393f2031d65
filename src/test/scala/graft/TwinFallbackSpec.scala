package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.Upsert
import graft.sources.SnapshotManifest

/** A broken parquet checkpoint twin must cost only speed, and must show.
  * Each verb with a derived twin path runs on a twin-anchored table whose
  * `_ckpt/v<N>/` parts are deleted or overwritten with garbage (the
  * `_anchor` stamp kept, so the twin still claims the version), and on a
  * twin-less copy of the same table. The two must answer the same, the
  * broken twin must raise `SnapshotManifest.twinFallbacks`, and the
  * twin-less copy must not.
  */
class TwinFallbackSpec extends SparkSpec {
  import spark.implicits._

  /** v0: 400 rows in 8 files with `id` stats, twinned; v1: a 1-row append. */
  private def twinned(): String = {
    val root = Files.createTempDirectory("twinfb").toString
    SnapshotManifest.commit(spark, root,
      (0L until 400L).map(i => (i, s"v$i")).toDF("id", "x")
        .repartitionByRange(8, col("id")), Seq("id"))
    SnapshotManifest.appendRows(spark, root, Seq((1000L, "a")).toDF("id", "x"), Seq("id"))
    root
  }

  /** A copy of `root` with its `_ckpt` twins removed. */
  private def twinlessCopy(root: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(root)
    val fs = src.getFileSystem(conf)
    val dst = new Path(Files.createTempDirectory("twinless").toString, "t")
    assert(FileUtil.copy(fs, src, fs, dst, false, conf))
    fs.delete(new Path(dst, "_ckpt"), true)
    dst.toString
  }

  /** Break every parquet part of the version-0 twin, keeping `_anchor`. */
  private def breakTwin(root: String, garbage: Boolean): Unit = {
    val dir = java.nio.file.Paths.get(root, "_ckpt", "v00000000")
    val parts = Files.list(dir)
    val names = try parts.iterator().asScala.toSeq finally parts.close()
    assert(names.exists(_.getFileName.toString == "_anchor"))
    val data = names.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(data.nonEmpty, "the version-0 twin must hold parquet parts")
    data.foreach { p =>
      // the checksum sidecar would reject the bytes before the reader saw them
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      if (garbage) Files.write(p, "not a parquet file".getBytes("UTF-8"))
      else Files.delete(p)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def table(root: String): Seq[String] = rows(SnapshotManifest.read(spark, root))

  /** Each verb's answer on one table: its result, and the table it leaves. */
  private val verbs: Seq[(String, String => Seq[String])] = Seq(
    "prunedFiles" -> { root =>
      SnapshotManifest.prunedFiles(spark, root, 1L, col("id") === 123L)
        .map(new Path(_).getName).sorted
    },
    "readWhere" -> { root =>
      rows(SnapshotManifest.readWhere(spark, root, col("id").between(120L, 130L)))
    },
    "deleteWhere" -> { root =>
      SnapshotManifest.deleteWhere(spark, root, col("id") === 7L, Seq("id"))
      table(root)
    },
    "Upsert.mergeWhere" -> { root =>
      Upsert.mergeWhere(spark, root,
        Seq((8L, "m8"), (2000L, "n")).toDF("id", "x"), Seq("id"), Seq("id"))
      table(root)
    },
    "appendRows" -> { root =>
      SnapshotManifest.appendRows(spark, root, Seq((3000L, "b")).toDF("id", "x"), Seq("id"))
      table(root)
    },
    "changesBetween" -> { root =>
      rows(SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("id")))
    }
  )

  test("every twin path falls back to the driver answer, and counts the fallback") {
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "1")
    try {
      for ((verb, run) <- verbs; garbage <- Seq(false, true)) {
        val broken = twinned()
        val twinless = twinlessCopy(broken)
        breakTwin(broken, garbage)
        val how = if (garbage) "garbage" else "deleted"

        val before = SnapshotManifest.twinFallbacks.get()
        val expected = run(twinless)
        assert(SnapshotManifest.twinFallbacks.get() == before,
          s"$verb: a twin-less table must not count a fallback")
        val got = run(broken)
        assert(SnapshotManifest.twinFallbacks.get() > before,
          s"$verb over $how twin parts must count its fallback")
        assert(got == expected, s"$verb over $how twin parts diverged")
        assert(got.nonEmpty, s"$verb must answer something")
      }
    } finally {
      spark.conf.unset("graft.manifest.checkpointInterval")
      spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
    }
  }
}
