package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group exact quantile thresholds and threshold-keep filtering — the
  * FineWeb/CCNet-style corpus-curation step "keep each language's top
  * (1−q) fraction by quality score".
  *
  * Exact quantiles are usually priced as a per-group sort; this
  * implementation instead aggregates a (group, score) value histogram —
  * map-side-combined, so the shuffle carries one row per distinct
  * (group, score), not per document — and finds the quantile by cumulative
  * count over that histogram. For bounded-cardinality scores (rubric
  * scores, rounded-decimal quality signals) the histogram is tiny
  * regardless of corpus size, which makes the exact quantile as cheap as
  * any approximate one; for a continuous score it degrades gracefully to
  * one histogram row per distinct value (where `percentile_approx` is the
  * honest 100-TB alternative — see [[groupQuantileApprox]]).
  *
  * Definition (percentile_disc, lower): the threshold for group g at
  * fraction q is the score at ascending position `max(1, ceil(q·n_g))` —
  * the smallest score v with `|{x ≤ v}| ≥ ceil(q·n_g)`. Value-based, so
  * ties need no ordering beyond the score itself; both engines compute
  * `ceil` on the same IEEE double product, so the cut row set is exact.
  */
object Thresholds {

  /** Per-group discrete quantile: one row `(groupCol, threshold, n)` per
    * group. `scoreCol` should be an exactly-comparable type (decimal, int,
    * string) — float scores compare at the bit level, which is fine iff
    * both producers compute them identically.
    *
    * Null-score contract (every operator here): null scores are EXCLUDED —
    * from the histogram, from `n`, and from the kept set. An unscored row
    * can neither be kept nor shift the cut; leaving nulls in would also
    * make the quantile engine-dependent (Spark windows order nulls first,
    * DuckDB last), breaking the differential gate.
    */
  def groupQuantileDisc(df: DataFrame, groupCol: String, scoreCol: String,
      q: Double): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0,1], got $q")
    val hist = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).alias("__cnt"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val wAll = Window.partitionBy(col(groupCol))
    hist
      .withColumn("__cum", sum(col("__cnt")).over(w))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .withColumn("__k", greatest(lit(1L), ceil(lit(q) * col("__n"))))
      // the first histogram bucket whose cumulative count crosses k
      .filter(col("__cum") >= col("__k") && col("__cum") - col("__cnt") < col("__k"))
      .select(col(groupCol), col(scoreCol).alias("threshold"),
        col("__n").alias("n"))
  }

  /** Approximate sibling for continuous scores at scale: one aggregation,
    * no histogram blow-up, `accuracy` trades memory for error exactly as
    * `percentile_approx` documents. Not oracle-comparable (sketch-based);
    * spec-gated only.
    */
  def groupQuantileApprox(df: DataFrame, groupCol: String, scoreCol: String,
      q: Double, accuracy: Int = 10000): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0,1], got $q")
    // percentile_approx skips nulls on its own; the filter keeps `n`
    // consistent with the exact sibling's null-score contract
    df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol), lit(q), lit(accuracy))
             .alias("threshold"),
           count(lit(1)).alias("n"))
  }

  /** Curation summary per group — `(groupCol, n_docs, threshold, n_kept,
    * min_kept_q, sum_kept_q)` — from ONE corpus aggregation. The naive
    * form (filter to kept rows, re-aggregate) prices the score expression
    * and the corpus scan twice (three times if the threshold is also
    * reported); but every one of these statistics is a function of the
    * (group, score) histogram alone, so this computes the histogram once
    * and derives both the quantile cut and the kept-side stats from its
    * handful of rows. The corpus is scanned exactly once; everything after
    * the histogram aggregation is group×distinct-score-sized.
    *
    * Exactness: kept counts and score sums are tallied as `score·cnt` over
    * whole histogram buckets — identical to summing per-row (the kept set
    * is `score >= threshold`, a union of complete buckets). With a decimal
    * `scoreCol` the sum is exact, so `sum_kept_q` matches a per-row
    * aggregation bit-for-bit. The mean of the kept scores is deliberately
    * NOT reported as a value: `sum_kept_q / n_kept` is a quotient, and a
    * double quotient is engine-dependent at the last ulp (Spark divides
    * the correctly-rounded DECIMAL→DOUBLE cast; other engines integer-
    * scale then `rint`), so no rounding of it can be a stable differential
    * input — two rounds of gate history (exact cast in r7, `round(·,8)` in
    * r8) proved that empirically. Callers wanting the mean compute
    * `sum_kept_q / n_kept` themselves: the pair IS the exact
    * numerator/denominator representation of the mean.
    */
  def groupQuantileSummary(df: DataFrame, groupCol: String, scoreCol: String,
      q: Double): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0,1], got $q")
    val hist = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).alias("__cnt"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val wAll = Window.partitionBy(col(groupCol))
    hist
      .withColumn("__cum", sum(col("__cnt")).over(w))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .withColumn("__k", greatest(lit(1L), ceil(lit(q) * col("__n"))))
      .withColumn("threshold",
        min(when(col("__cum") >= col("__k"), col(scoreCol))).over(wAll))
      .groupBy(col(groupCol))
      .agg(
        first(col("__n")).alias("n_docs"),
        first(col("threshold")).alias("threshold"),
        sum(when(col(scoreCol) >= col("threshold"), col("__cnt"))
          .otherwise(lit(0L))).alias("n_kept"),
        min(when(col(scoreCol) >= col("threshold"), col(scoreCol)))
          .alias("min_kept_q"),
        sum(when(col(scoreCol) >= col("threshold"),
            col(scoreCol) * col("__cnt"))).alias("sum_kept_q"))
  }

  /** Keep rows at-or-above their group's q-quantile score. The threshold
    * table is group-cardinality-sized, so it broadcasts; the corpus-side
    * plan is scan → broadcast-hash-join → filter, no corpus shuffle.
    */
  def keepAboveGroupQuantile(df: DataFrame, groupCol: String,
      scoreCol: String, q: Double): DataFrame = {
    val th = groupQuantileDisc(df, groupCol, scoreCol, q)
      .select(col(groupCol), col("threshold"))
    df.join(broadcast(th), Seq(groupCol))
      .filter(col(scoreCol) >= col("threshold"))
  }
}
