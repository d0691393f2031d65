package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.SnapshotManifest

/** What a snapshot table leaves on disk, measured from outside the engine:
  * the live file count, the bytes of its log (the manifests and checkpoints
  * beside `data/`; the change feed under `_cdf*` is not counted), and its
  * storage amplification.
  */
final case class TableFiles(spark: SparkSession, root: String) {
  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toList

  private lazy val all = files(Paths.get(root))
  private def top(p: Path) = Paths.get(root).relativize(p).getName(0).toString
  private def isData(p: Path) = top(p) == "data"
  private def inFeed(p: Path) = top(p).startsWith("_cdf")
  private def size(ps: Seq[Path]) = ps.map(Files.size).sum

  lazy val version: Long = SnapshotManifest.currentVersion(spark, root).get
  def versions: Long = SnapshotManifest.history(spark, root).size.toLong
  def liveFiles: Int = SnapshotManifest.snapshotFiles(spark, root, version).size
  def logBytes: Long = size(all.filterNot(p => isData(p) || inFeed(p)))

  /** Bytes under the table root, feed excluded, over the bytes of the same
    * live rows written once as plain parquet.
    */
  def storageAmp(plainDir: String): Double = {
    SnapshotManifest.read(spark, root).write.mode("overwrite").parquet(plainDir)
    size(all.filterNot(inFeed)).toDouble /
      size(files(Paths.get(plainDir)).filter(_.getFileName.toString.endsWith(".parquet")))
  }
}

object TableFiles {
  /** Removes `dir` and everything under it, if it exists. */
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
  }
}
