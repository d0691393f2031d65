package perfbench

import scala.collection.mutable.ArrayBuffer

/** `read_mix`: a seeded shuffle of engine queries that write no table, each
  * materialised through the noop sink. Catalyst/AQE, the parquet scan,
  * shuffle and the expression kernels do all the work; the snapshot commit
  * path does none. One cycle is one pass over the whole mix, so every run
  * executes the same multiset of queries, in a seed-dependent order.
  *
  * Correctness: the set-up pass writes every query's result as parquet under
  * `workDir/results/<query>`; the runner hashes each against the query's
  * DuckDB oracle over the same generated inputs.
  */
final class ReadMix(val ctx: Ctx) extends Workload {
  import ReadMix._
  private val spark = ctx.spark
  private val rng = new scala.util.Random(ctx.seed)
  private val fns = graft.SparkEntry.queries
  private val planMs = ArrayBuffer.empty[Double]

  Mix.foreach { case (q, _) =>
    require(fns.contains(q), s"read_mix: no query $q")
    require(graft.SparkEntry.oracleSql.contains(q), s"read_mix: no oracle for $q")
  }

  def seed(): Unit =
    InputTables.foreach(t => graft.Tables.load(spark, ctx.dataDir, t).count())

  def warm(): Unit = Mix.foreach { case (q, family) =>
    attempt(q, family) {
      fns(q)(spark, ctx.dataDir).write.mode("overwrite")
        .parquet(s"${ctx.workDir}/results/$q")
    }
  }

  def unit(): Unit = ctx.rec.cycle("read_mix.pass") {
    rng.shuffle(Mix).foreach { case (q, family) =>
      attempt(q, family) {
        val df = fns(q)(spark, ctx.dataDir)
        if (ctx.rec.tracing) {
          val t0 = System.nanoTime()
          df.queryExecution.executedPlan
          planMs += (System.nanoTime() - t0) / 1e6
        }
        df.write.format("noop").mode("overwrite").save()
      }
    }
  }

  def check(): Unit = ()

  /** Query name -> DuckDB SQL, for the runner's oracle comparison. */
  def oracles: Map[String, String] =
    Mix.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap

  def layerMetrics(traced: Seq[Span], jobs: Map[Long, Seq[JobListener#Job]])
      : Map[String, Double] = {
    def fam(f: String) = Stats.p50OrZero(traced.filter(_.family == f).map(_.ms))
    Map("read.relational_ms" -> fam("relational"), "read.nested_ms" -> fam("nested"),
      "read.kernel_ms" -> fam("kernel"), "read.plan_ms" -> Stats.p50OrZero(planMs.toSeq))
  }
}

object ReadMix {
  val InputTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (query, family): relational joins/aggregates/windows, nested JSON and
    * arrays (including `Normalize`), and text/vector kernels.
    */
  val Mix: Seq[(String, String)] = Seq(
    "q01_pricing_summary", "q08_semi_anti", "q10_window_rank", "q11_having",
    "q37_cube").map(_ -> "relational") ++
    Seq("q13_json_extract", "q14_check_for_key", "q15_flatten_json").map(_ -> "nested") ++
    Seq("q24_minhash_signature", "q27_cosine_topk", "q29_text_profile",
      "q61_vocab_topk").map(_ -> "kernel")
}
