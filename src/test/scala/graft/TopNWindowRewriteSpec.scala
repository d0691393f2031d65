package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Optimizer rule TopNWindowRewrite: the window top-N idiom must produce
  * identical results with the rule on (rewritten to a topk aggregate) and
  * off (stock WindowExec), across directions, null orderings, rank reuse,
  * extra filter conjuncts — and must DECLINE on shapes it cannot reverse.
  */
class TopNWindowRewriteSpec extends SparkSpec {

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString()

  /** rows: (g, v, tag) with nulls in v; build the same top-N query in a
    * session WITH the rule and compare against the stock result from the
    * shared session (no extensions).
    */
  private val rows: Seq[(Long, Option[Double], String)] = Seq(
    (1L, Some(5.0), "a"), (1L, Some(9.0), "b"), (1L, Some(7.0), "c"),
    (1L, None, "d"), (1L, Some(9.5), "e"),
    (2L, Some(1.0), "f"), (2L, None, "g"),
    (3L, None, "h") // all-null group
  )

  private def topN(s: SparkSession, n: Int, order: Seq[org.apache.spark.sql.Column],
      keepRn: Boolean): Array[(Long, Option[Double], String, Option[Int])] = {
    import s.implicits._
    val df = rows.toDF("g", "v", "tag")
    val w = Window.partitionBy($"g").orderBy(order: _*)
    val out = df.withColumn("rn", row_number().over(w)).filter($"rn" <= n)
    val sel = if (keepRn) out else out.drop("rn")
    sel.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getString(2),
        if (keepRn && !r.isNullAt(3)) Some(r.getInt(3)) else None)
    }.sortBy(t => (t._1, t._4, t._3))
  }

  private def assertSameAndRewritten(n: Int, order: SparkSession => Seq[org.apache.spark.sql.Column],
      keepRn: Boolean = true): Unit = {
    val stock = topN(spark, n, order(spark), keepRn)
    withExtSession { ext =>
      import ext.implicits._
      val df = rows.toDF("g", "v", "tag")
      val w = Window.partitionBy($"g").orderBy(order(ext): _*)
      val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= n)
      assert(optimized(q).contains("topk"), s"rule did not fire:\n${optimized(q)}")
      assert(!optimized(q).contains("row_number"), "window survived rewrite")
      val got = topN(ext, n, order(ext), keepRn)
      assert(got.toSeq == stock.toSeq, s"mismatch:\n got: ${got.toSeq}\nwant: ${stock.toSeq}")
    }
  }

  test("desc double (NULLS LAST default): identical to stock window") {
    assertSameAndRewritten(2, s => { import s.implicits._; Seq($"v".desc, $"tag") })
  }

  test("asc double (NULLS FIRST default): identical to stock window") {
    assertSameAndRewritten(2, s => { import s.implicits._; Seq($"v".asc, $"tag") })
  }

  test("explicit desc NULLS FIRST and asc NULLS LAST round-trip") {
    assertSameAndRewritten(3, s => { import s.implicits._; Seq($"v".desc_nulls_first, $"tag") })
    assertSameAndRewritten(3, s => { import s.implicits._; Seq($"v".asc_nulls_last, $"tag") })
  }

  test("rn == 1 (latest-per-key dedup shape) rewrites and matches") {
    assertSameAndRewritten(1, s => { import s.implicits._; Seq($"v".desc, $"tag".asc) },
      keepRn = false)
  }

  test("string desc order key declines the rewrite but stays correct") {
    withExtSession { ext =>
      import ext.implicits._
      val df = rows.toDF("g", "v", "tag")
      val w = Window.partitionBy($"g").orderBy($"tag".desc)
      val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      assert(!optimized(q).contains("topk"))
      assert(q.count() > 0)
    }
  }

  test("extra filter conjuncts are preserved above the rewrite") {
    val stockFiltered = topN(spark, 2,
      { import spark.implicits._; Seq($"v".desc, $"tag") }, keepRn = true)
      .filter(r => r._2.exists(_ > 6.0))
    withExtSession { ext =>
      import ext.implicits._
      val df = rows.toDF("g", "v", "tag")
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"tag")
      val q = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2 && $"v" > 6.0)
      assert(optimized(q).contains("topk"), optimized(q))
      val got = q.collect().map { r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getString(2),
          Some(r.getInt(3)): Option[Int])
      }.sortBy(t => (t._1, t._4, t._3))
      assert(got.toSeq == stockFiltered.toSeq)
    }
  }

  test("timestamp desc order key rewrites exactly (micros precision)") {
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val data = Seq(
      (1L, ts(1000), "a"), (1L, ts(1001), "b"), (1L, ts(999), "c"),
      (2L, ts(500), "d"))
    def run(s: SparkSession) = {
      import s.implicits._
      val w = Window.partitionBy($"g").orderBy($"t".desc, $"tag")
      data.toDF("g", "t", "tag").withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    }
    val stock = run(spark)
    withExtSession { ext =>
      import ext.implicits._
      val w = Window.partitionBy($"g").orderBy($"t".desc, $"tag")
      val q = data.toDF("g", "t", "tag").withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
      assert(optimized(q).contains("topk"), optimized(q))
      assert(run(ext).toSeq == stock.toSeq)
    }
  }

  test("NaN in a desc double key keeps Spark's NaN-greatest placement") {
    val data = Seq((1L, Double.NaN, "nan"), (1L, 5.0, "five"), (1L, 3.0, "three"))
    def run(s: SparkSession) = {
      import s.implicits._
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"tag")
      data.toDF("g", "v", "tag").withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2).collect()
        .map(r => (r.getInt(3), r.getString(2))).sortBy(_._1)
    }
    val stock = run(spark)
    assert(stock.head._2 == "nan") // Spark: NaN sorts greatest
    withExtSession { ext =>
      import ext.implicits._
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"tag")
      val q = data.toDF("g", "v", "tag").withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
      assert(optimized(q).contains("topk"), optimized(q))
      assert(run(ext).toSeq == stock.toSeq)
    }
  }

  test("non-orderable payload column (map) declines the rewrite, query still runs") {
    withExtSession { ext =>
      import ext.implicits._
      val df = Seq((1L, 2.0, Map("a" -> 1)), (1L, 3.0, Map("b" -> 2)))
        .toDF("g", "v", "m")
      val w = Window.partitionBy($"g").orderBy($"v".desc)
      val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 1)
      assert(!optimized(q).contains("topk"))
      assert(q.count() == 1)
    }
  }

  test("rank() (non-row_number) windows are left alone") {
    withExtSession { ext =>
      import ext.implicits._
      val df = rows.toDF("g", "v", "tag")
      val w = Window.partitionBy($"g").orderBy($"v".desc)
      val q = df.withColumn("rk", rank().over(w)).filter($"rk" <= 2)
      assert(!optimized(q).contains("topk"))
    }
  }
}
