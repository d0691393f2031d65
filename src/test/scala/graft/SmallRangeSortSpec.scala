package graft

import java.nio.file.Files

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** Adaptive prep rule SmallRangeSort: a global sort over an input that
  * coalescing would merge into one partition gets a one-partition range
  * exchange, and so no sampling job. Rows and their order must equal the
  * same query's with AQE off; above the one-partition size, on a
  * `repartitionByRange` and on a sort with a limit, nothing changes. The
  * shared session has no extensions, so it runs the same queries without
  * the rule.
  */
class SmallRangeSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def query(name: String)(s: SparkSession): DataFrame = SparkEntry.queries(name)(s, sfDir)

  /** The partition count of each range exchange in `df`'s executed plan. */
  private def rangePartitions(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) {
      case ShuffleExchangeExec(r: RangePartitioning, _, _, _) => r.numPartitions
    }

  /** `df`'s rows, with the range-exchange partition counts of its plan. */
  private def run(df: DataFrame): (Seq[Row], Seq[Int]) = {
    val rows = df.collect().toSeq
    (rows, rangePartitions(df))
  }

  /** The query's rows in `ext` with AQE off. */
  private def aqeOffRows(ext: SparkSession, q: SparkSession => DataFrame): Seq[Row] = {
    ext.conf.set("spark.sql.adaptive.enabled", "false")
    try q(ext).collect().toSeq
    finally ext.conf.unset("spark.sql.adaptive.enabled")
  }

  private def jobs(s: SparkSession, q: SparkSession => DataFrame): Int =
    GraftTestBus.jobsOf(s.sparkContext)(
      q(s).write.format("noop").mode("overwrite").save()).size

  private def assertOnePartition(name: String): Unit = {
    val q = query(name) _
    val stock = jobs(spark, q)
    withExtSession { ext =>
      val (rows, parts) = run(q(ext))
      assert(parts == Seq(1), s"$name: range exchanges $parts")
      assert(rows.nonEmpty)
      assert(rows == aqeOffRows(ext, q), s"$name: rows differ from the AQE-off plan's")
      assert(jobs(ext, q) == stock - 1, s"$name: the sampling job is still there")
    }
  }

  test("an aggregate-then-sort query takes one range partition, rows as with AQE off") {
    assertOnePartition("q11_having")
  }

  test("a scan-then-sort query takes one range partition, rows as with AQE off") {
    assertOnePartition("q24_minhash_signature")
  }

  test("above the one-partition size the exchange keeps its partitions, still sorted") {
    withExtSession { ext =>
      ext.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
      try Seq("q11_having" -> "o_custkey", "q24_minhash_signature" -> "doc_id").foreach {
        case (name, key) =>
          val q = query(name) _
          val (rows, parts) = run(q(ext))
          assert(parts == Seq(ext.conf.get("spark.sql.shuffle.partitions").toInt),
            s"$name: range exchanges $parts")
          val keys = rows.map(_.getAs[Number](key).longValue)
          assert(keys == keys.sorted, s"$name: output not globally sorted")
          assert(rows == aqeOffRows(ext, q), s"$name: rows differ from the AQE-off plan's")
      }
      finally ext.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }
  }

  test("Layout's repartitionByRange(numFiles) still writes numFiles files") {
    withExtSession { ext =>
      val out = Files.createTempDirectory("layout").toString + "/t"
      val df = ext.range(0, 2000).select(col("id").alias("a"), (col("id") % 37).alias("b"))
      graft.operators.Layout.zOrderByN(df, Seq("a", "b"), numFiles = 3)
        .write.parquet(out)
      val files = new java.io.File(out).list().filter(_.endsWith(".parquet"))
      assert(files.length == 3, s"wrote ${files.toSeq}")
      assert(ext.read.parquet(out).count() == 2000L)
    }
  }

  test("a sort with a limit keeps its plan and job count") {
    val q = query("q61_vocab_topk") _
    def shape(df: DataFrame): (Int, Seq[Int]) = {
      df.collect()
      (collect(df.queryExecution.executedPlan) { case t: TakeOrderedAndProjectExec => t }.size,
        rangePartitions(df))
    }
    val stock = (shape(q(spark)), jobs(spark, q))
    assert(stock._1 == ((1, Nil)))
    withExtSession { ext =>
      assert((shape(q(ext)), jobs(ext, q)) == stock)
    }
  }
}
