package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Functions
import graft.nested.Normalize
import graft.operators.{AlertGate, Dedup, Multimodal, Similarity, TextAnalysis, Upsert}
import graft.schema.SchemaAudit
import graft.sources.{KeysetSource, SheetSource, SqlScript}

/** The driver-checked operator inventory (SURVEY §2) as named queries.
  *
  * Every query here has a DuckDB-equivalent oracle in [[Oracles]]; the
  * differential-test determinism rules are:
  *   - no `current_date`/`current_timestamp` (pinned literals instead —
  *     SURVEY §7.3's "pin a runTimestamp" rule)
  *   - double aggregation goes through decimal casts (exact, order-free) and
  *     is cast back to double at the end, so both engines produce identical
  *     bits; bare double sums would differ by summation order
  *   - every output is totally ordered by an explicit key
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Decimal-exact sum of a double column, surfaced as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(30,6)")).cast("double")

  // ==========================================================================
  // Relational core (SURVEY §2.2-§2.8)
  // ==========================================================================

  /** A5/A1/P8/F8 — grouped aggregation with post-agg filter (TPC-H Q1 shape).
    * One shuffle (partial aggs map-side); scan prunes to 7 columns.
    *
    * avg_qty is a BIGINT-sum / count quotient (quantities are integral):
    * int64→double conversion is hardware-specified correct rounding in
    * every engine, and one IEEE division of those exact operands is
    * correctly rounded — bit-stable. A DECIMAL→DOUBLE cast in the dividend
    * would NOT be (engine-library territory; the proven q109 failure
    * class), which is why the integral sum is taken as a long.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).alias("sum_qty"),
        dsum(col("l_extendedprice")).alias("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).alias("sum_disc_price"),
        (sum(col("l_quantity").cast("long")).cast("double") /
          count(lit(1)).cast("double")).alias("avg_qty"),
        count(lit(1)).alias("count_order"))
      .filter(col("count_order") > 100)
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J5 — star join with broadcast dims (region/nation/customer broadcast;
    * the only real shuffle is lineitem⋈orders on orderkey).
    */
  def q02RevenueByNation(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).alias("revenue"),
        count(lit(1)).alias("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  /** P1/P3/P6/P7 — existence-tolerant projection + conjunctive filters.
    * Requested columns include one that does not exist (silently dropped,
    * `ct_utils.py:116-119`); filters push to the parquet scan.
    */
  def q03ProjectFilter(spark: SparkSession, dir: String): DataFrame = {
    val projected = Functions.selectExisting(
      t(spark, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_no_such_column"))
    projected
      .filter(col("o_orderstatus").isin("F", "O") &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp") &&
        col("o_totalprice") > 1000.0)
      .drop("o_orderdate")
      .orderBy(col("o_orderkey"))
  }

  /** F1/P5 — hash_id with null/empty guard (md5 digest for cross-engine
    * differential testing; sha1 parity covered in unit tests).
    */
  def q04HashId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(
        col("c_custkey"),
        Functions.hashId(col("c_name"), "md5").alias("name_hash"),
        Functions.nullIfEmpty(col("c_mktsegment")).alias("segment"))
      .orderBy(col("c_custkey"))

  /** W1 — latest-per-key window (set-based form of the reference's
    * ORDER BY ... DESC LIMIT 1 point query, `utils.py:210-219`).
    */
  def q05LatestEventPerUser(spark: SparkSession, dir: String): DataFrame =
    AlertGate
      .latestPerKeyAgg(
        t(spark, dir, "events").withColumn("__ord", struct(col("ts"), col("event_id"))),
        Seq("user_id"), "__ord")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .orderBy(col("user_id"))

  /** J4/S10/§2.9 — MERGE upsert with the PK/INSERT_TIMESTAMP carve-outs.
    * Target = events before 2024-01-20 (INSERT/UPDATE_TIMESTAMP = ts);
    * staged = events on/after 2024-01-10, value+100, timestamps ts+1h.
    * Matched rows keep the target's INSERT_TIMESTAMP — the heart of the
    * reference's merge semantics.
    */
  def q06MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val cut1 = lit("2024-01-10").cast("timestamp")
    val cut2 = lit("2024-01-20").cast("timestamp")
    val target = ev.filter(col("ts") < cut2).select(
      col("event_id"),
      col("ts").alias(Upsert.InsertTs),
      col("ts").alias(Upsert.UpdateTs),
      col("value"))
    val staged = ev.filter(col("ts") >= cut1).select(
      col("event_id"),
      (col("ts") + expr("INTERVAL 1 HOUR")).alias(Upsert.InsertTs),
      (col("ts") + expr("INTERVAL 1 HOUR")).alias(Upsert.UpdateTs),
      (col("value") + 100.0).alias("value"))
    Upsert.merge(target, staged, Seq("event_id"))
      .select(col("event_id"),
        col(Upsert.InsertTs).alias("insert_timestamp"),
        col(Upsert.UpdateTs).alias("update_timestamp"),
        col("value"))
      .orderBy(col("event_id"))
  }

  /** U1 — name-aligned union with missing columns → null
    * (`pd.concat` semantics, `ct_utils.py:258`).
    */
  def q07UnionPages(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val page1 = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val page2 = o.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"))
    page1.unionByName(page2, allowMissingColumns = true)
      .orderBy(col("o_orderkey"))
  }

  /** J6 — semi/anti join: per segment, customers with vs without big orders. */
  def q08SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val big = t(spark, dir, "orders").filter(col("o_totalprice") > 5000.0)
    val withOrders = c.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).alias("n_with"))
    val withoutOrders = c.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).alias("n_without"))
    withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with"), lit(0L)).alias("n_with"),
        coalesce(col("n_without"), lit(0L)).alias("n_without"))
      .orderBy(col("c_mktsegment"))
  }

  /** A6 — rollup over the region/nation hierarchy. */
  def q09Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(dsum(col("c_acctbal")).alias("sum_acctbal"), count(lit(1)).alias("n_customers"))
      .select(
        coalesce(col("r_name"), lit("ALL")).alias("region"),
        coalesce(col("n_name"), lit("ALL")).alias("nation"),
        col("sum_acctbal"), col("n_customers"))
      .orderBy(col("region"), col("nation"))

  /** W2 — ranking window: top-3 orders per customer by price. */
  def q10WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** P8 — GROUP BY + HAVING via post-agg filter (`utils.py:322-323`). */
  def q11Having(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).alias("n_orders"), dsum(col("o_totalprice")).alias("total_spend"))
      .filter(col("n_orders") >= 12)
      .orderBy(col("o_custkey"))

  /** A3/E1 — observed max string length per column, one scan (string and
    * integer columns only: double→string formatting is engine-specific).
    */
  def q12SchemaLengths(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("c_custkey", "c_name", "c_mktsegment")
    val lengths = SchemaAudit.maxColumnLengths(t(spark, dir, "customer"), cols)
    import spark.implicits._
    lengths.toSeq.sortBy(_._1).toDF("column_name", "max_len")
  }

  // ==========================================================================
  // JSON / nested (SURVEY §2.5) + timestamps (§2.10)
  // ==========================================================================

  /** N6/F10 — JSON path extraction + aggregation over extracted values. */
  def q13JsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(Functions.jsonPath(col("props"), "k").cast("int").alias("k"))
      .groupBy(col("k")).agg(count(lit(1)).alias("n"))
      .orderBy(col("k"))

  /** N7 — dynamic key lookup with "empty" default over a MapType column. */
  def q14CheckForKey(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("m", from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
      .select(
        col("event_id"),
        Functions.checkForKey(col("m"), "k").alias("k_value"),
        Functions.checkForKey(col("m"), "missing_key").alias("missing_value"))
      .orderBy(col("event_id"))

  /** N4 — normalize-to-flat fixpoint over a parsed JSON struct column. */
  def q15FlattenJson(spark: SparkSession, dir: String): DataFrame = {
    val parsed = t(spark, dir, "events")
      .select(col("event_id"), from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("struct<k:int>")).alias("props"))
    Normalize.normalize(parsed)
      .orderBy(col("event_id"))
  }

  /** F2/F3 — ISO-8601 round trip: format to the commercetools wire format,
    * parse back (null on unparseable ≡ the reference's len<5 guard).
    */
  def q16ParseTimestamp(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(
        col("event_id"),
        Functions.formatCtTimestamp(col("ts")).alias("ct_string"),
        Functions.parseTimestamp(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")).alias("reparsed"),
        Functions.parseTimestamp(lit("nan")).alias("bad_parse"))
      .orderBy(col("event_id"))

  /** S4/A1/F4 — delta-load watermark: MAX(ts) − 3 s, ct-formatted. */
  def q17Watermark(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .agg(max(Functions.formatCtTimestamp(
        Functions.minusSeconds(col("ts"), 3))).alias("watermark"))

  /** A2/F5 — predicated count on a pinned date (the reference's
    * TO_DATE(ts)=CURRENT_DATE audit, `utils.py:293-294`, with the date
    * pinned for determinism).
    */
  def q18CountOnDate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(to_date(col("ts")) === lit("2024-01-15").cast("date"))
      .agg(count(lit(1)).alias("n"))

  /** O1 — top-1 most-recent row (scalable max_by form, not sort-limit). */
  def q19Top1Latest(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(struct(col("ts"), col("event_id"), col("user_id"), col("value")).alias("s"))
      .agg(max(col("s")).alias("m"))
      .select(
        col("m.ts").alias("ts"), col("m.event_id").alias("event_id"),
        col("m.user_id").alias("user_id"), col("m.value").alias("value"))

  /** S6 — parameterized SQL script entry: the full Spark SQL surface through
    * the reference's `{param}` template contract.
    */
  def q20SqlTemplate(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_v")
    SqlScript.fromString(spark,
      """SELECT o_orderpriority,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
        |FROM orders_v
        |WHERE o_orderdate >= CAST('{start_date}' AS TIMESTAMP)
        |GROUP BY o_orderpriority
        |HAVING count(*) > {min_cnt}
        |ORDER BY o_orderpriority""".stripMargin,
      Map("start_date" -> "1997-01-01", "min_cnt" -> 10))
  }

  // ==========================================================================
  // Streaming-shaped + alerting (SURVEY §2.11, §2.12)
  // ==========================================================================

  /** §2.11 — tumbling-window aggregation (batch twin of the streaming shape;
    * identical code path via IncrementalLoad.windowedCounts).
    */
  def q21WindowedEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).alias("n"), dsum(col("value")).alias("sum_value"))
      .select(col("window.start").alias("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** C1/W1/P9 — set-based alert dedup gate: candidates vs latest-per-key
    * history, resend iff |cur − last| ≥ threshold (`utils.py:191-234`).
    */
  def q22AlertGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val cut = lit("2024-01-20").cast("timestamp")
    val asOf = lit("2024-01-10").cast("date")
    val history = ev.filter(col("ts") < cut).select(
      col("event_type").alias(AlertGate.Identifier),
      col("user_id").alias(AlertGate.DedupKey),
      col("value").alias(AlertGate.DedupValue),
      col("ts").alias(AlertGate.LastAlert))
    val candidates = AlertGate
      .latestPerKeyAgg(
        ev.filter(col("ts") >= cut)
          .withColumn("__ord", struct(col("ts"), col("event_id"))),
        Seq("event_type", "user_id"), "__ord")
      .select(
        col("event_type").alias(AlertGate.Identifier),
        col("user_id").alias(AlertGate.DedupKey),
        col("value").alias(AlertGate.DedupValue))
    AlertGate.shouldSend(candidates, history, resendThreshold = 50.0, asOfDate = asOf)
      .select(col(AlertGate.Identifier), col(AlertGate.DedupKey),
        col(AlertGate.DedupValue), col("last_value"))
      .orderBy(col(AlertGate.Identifier), col(AlertGate.DedupKey))
  }

  // ==========================================================================
  // Training-data extensions (BASELINE north star)
  // ==========================================================================

  /** Documents with planted near-duplicates: each src0 document reappears
    * with doc_id+100000 and a one-word suffix — deterministic ground truth
    * for the near-dup operators, derivable identically in any engine.
    */
  private def docsWithPlantedDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val dups = docs.filter(col("source") === "src0").select(
      (col("doc_id") + 100000L).alias("doc_id"),
      concat(col("text"), lit(" nearduplicate")).alias("text"),
      col("lang"), col("source"), col("n_chars"))
    docs.unionByName(dups)
  }

  /** Dedup/exact — groupBy on content digest; dup_count > 1 ⇔ planted dup
    * pairs where the suffix did not change the canonical text (none here, so
    * this also proves absence of false positives).
    */
  def q23DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithPlantedDups(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Dedup/MinHash — signature head (2 of 12 hashes) per document: pins the
    * shingle → seeded-min-hash pipeline itself.
    */
  def q24MinhashSignature(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), Dedup.minhashSignature(col("text"), 2).alias("sig"))
      .select(col("doc_id"),
        col("sig").getItem(0).alias("sig0"),
        col("sig").getItem(1).alias("sig1"))
      .orderBy(col("doc_id"))

  /** Dedup/LSH+Jaccard — near-duplicate pairs over the planted corpus:
    * LSH band-bucket candidates, exact n-gram Jaccard verification ≥ 0.7.
    * Recovers exactly the planted (id, id+100000) pairs.
    */
  def q25NearDupPairs(spark: SparkSession, dir: String): DataFrame =
    // jaccard is |∩|/|∪| — ONE IEEE division of exact counts, bit-stable
    // as-is; a round() canonicalization would ADD risk (dyadic-denominator
    // ratios land on exact decimal midpoints, where engines' rounding
    // conventions legitimately differ)
    Dedup.nearDuplicates(docsWithPlantedDups(spark, dir), "doc_id", "text",
      threshold = 0.7, bands = 4, rowsPerBand = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Dedup/SimHash — 60-bit fingerprint per document (bit-vote pipeline). */
  def q26Simhash(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), Dedup.simhash(col("text")).alias("fingerprint"))
      .orderBy(col("doc_id"))

  /** Similarity/brute-force — exact cosine top-5 per query vector (first 20
    * vectors as queries). Decimal-exact dot products (order-independent) make
    * the scores engine-reproducible to the last bit.
    */
  def q27CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    Similarity.bruteForceTopK(queries, emb, k = 5)
      .withColumn("cosine", round(col("cosine"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Similarity/embedding near-dup — planted exact-duplicate vectors
    * (vec_id+100000) recovered by cosine ≥ 0.999 over LSH buckets.
    */
  def q28EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val planted = emb.filter(col("vec_id") < 25)
      .select((col("vec_id") + 100000L).alias("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    Similarity.embeddingNearDuplicates(corpus, threshold = 0.999, numPlanes = 4)
      .withColumn("cosine", round(col("cosine"), 8))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Text analysis — full per-document profile (token counts, punct ratio,
    * mean word length, language-ID, md5 content fingerprint) in ONE scan.
    */
  def q29TextProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.select(
      col("doc_id"),
      TextAnalysis.tokenCountWhitespace(col("text")).cast("long").alias("n_tokens_ws"),
      TextAnalysis.tokenCountBpe(col("text")).cast("long").alias("n_tokens_bpe"),
      // raw single-division ratios of exact integer counts: bit-stable
      // without (and safer than) a round() canonicalization
      TextAnalysis.punctRatio(col("text")).alias("punct_ratio"),
      TextAnalysis.meanWordLength(col("text")).alias("mean_word_len"),
      TextAnalysis.langId(col("text")).alias("lang_pred"),
      md5(Dedup.canonical(col("text"))).alias("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Text quality — corpus quality report grouped by language: docs kept by
    * the quality gate, and the exact (sum_q_decis, n_docs) ratio pair for
    * the mean score. The score is [[TextAnalysis.qualityDecis]] — integer
    * decis end-to-end, because even CAST(double AS DECIMAL) proved
    * engine-dependent (Spark rounds the shortest decimal repr HALF_UP,
    * DuckDB rounds the exact binary expansion — the r9 q30/q38/q109/q115
    * divergence). No float exists anywhere in this derivation; the mean in
    * [0,1] is the caller's `sum_q_decis / (10·n_docs)`.
    */
  def q30QualityByLang(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"), TextAnalysis.qualityDecis(col("text")).alias("q"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).alias("n_docs"),
        sum(when(col("q") >= 7, 1L).otherwise(0L)).alias("n_kept"),
        sum(col("q").cast("long")).alias("sum_q_decis"))
      .orderBy(col("lang"))

  /** Multimodal — binary asset plumbing: documents as opaque payloads with
    * metadata-only profile (column-pruned scan; decode stubs live behind the
    * mapPartitions surface, unit-tested separately).
    */
  def q31MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(t(spark, dir, "documents"), "doc_id", "text", "text/plain")
    Multimodal.metadataProfile(assets)
      .select(col("asset_id"), col("media_type"), col("byte_len"),
        col("is_empty"), col("content_md5"))
      .orderBy(col("asset_id"))
  }

  /** S5 — spreadsheet source: header promotion + ragged-row padding over a
    * fixed fixture range (the driver-side fetch is stubbed; semantics are
    * `read.option("header",true)`).
    */
  def q32SheetSource(spark: SparkSession, dir: String): DataFrame = {
    val values = Seq(
      Seq("campaign", "channel", "budget"),
      Seq("summer_sale", "email", "1200"),
      Seq("winter_push", "social"), // ragged row → null-padded
      Seq("spring_launch", "search", "800"))
    SheetSource.fromValues(spark, values).orderBy(col("campaign"))
  }

  /** E3 — schema drift detection between two fixture schemas. */
  def q33SchemaDiff(spark: SparkSession, dir: String): DataFrame = {
    val current = t(spark, dir, "orders").schema
    val incoming = org.apache.spark.sql.types.StructType(
      current.fields.filterNot(_.name == "o_orderpriority") :+
        org.apache.spark.sql.types.StructField("o_channel",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("o_comment",
          org.apache.spark.sql.types.StringType))
    val retyped = org.apache.spark.sql.types.StructType(incoming.fields.map {
      case f if f.name == "o_totalprice" =>
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      case f => f
    })
    import spark.implicits._
    SchemaAudit.schemaDiff("orders", current, retyped)
      .toDF()
      .toDF("table_name", "column_name", "data_type", "change")
      .orderBy(col("change"), col("column_name"))
  }

  /** S2-S4 + N4 — the reference's flagship pipeline (§3 entry point 1):
    * keyset-paginated JSON pages → name-aligned union → recursive
    * normalize-to-flat. Pages are authored fixtures with schema drift across
    * pages, empty/null arrays, and null structs (FIXTURES.md).
    */
  def q34KeysetNormalize(spark: SparkSession, dir: String): DataFrame = {
    val pagesDir = "/root/repo/src/test/resources/json/pages"
    val raw = KeysetSource.load(spark, KeysetSource.fixtureFetcher(pagesDir), maxPages = 50)
    Normalize.normalize(raw)
      .orderBy(col("id"), col("lineItems__sku"))
  }

  /** §2.11 — session windows (30-minute inactivity gap) per user: the
    * stateful-streaming shape, batch-checkable via gaps-and-islands SQL.
    */
  def q35SessionWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).alias("n"), dsum(col("value")).alias("sum_value"))
      .select(col("session_window.start").alias("session_start"), col("user_id"),
        col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** §2.11 — sliding windows (12 h window, 6 h slide): each event lands in
    * two overlapping windows.
    */
  def q36SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "12 hours", "6 hours"), col("event_type"))
      .agg(count(lit(1)).alias("n"))
      .select(col("window.start").alias("window_start"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** A6 — full cube over (status, priority). */
  def q37Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).alias("n"), dsum(col("o_totalprice")).alias("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).alias("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).alias("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** A-family — exact moment statistics per group: the sufficient
    * statistics (n, Σ⌊x·10⁶⌋, Σ⌊x²·10⁶⌋) as BIGINT, order-independent
    * sums. `floor(x · 1e6)` is a fixed IEEE DAG over the raw parquet
    * double (multiply by an exactly-representable constant, floor) —
    * bit-identical in every engine — where the previous
    * `CAST(x AS DECIMAL)` form was NOT: Spark rounds the double's shortest
    * decimal repr HALF_UP, DuckDB rounds the exact binary expansion, and
    * scale-6 midpoints diverged (r9 q38). Mean and sample variance are the
    * caller's one-line divisions of the micro-scaled sums; headroom:
    * |x| ≤ ~10³ here, so Σx²·10⁶ stays under 2⁶³ beyond sf100.
    */
  def q38Stats(spark: SparkSession, dir: String): DataFrame = {
    val x = col("value")
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).alias("n"),
        sum(floor(x * lit(1e6)).cast("long")).alias("sum_x_micro"),
        sum(floor(x * x * lit(1e6)).cast("long")).alias("sum_xx_micro"))
      .orderBy(col("event_type"))
  }

  /** U3 — intersect / except over yearly customer sets. */
  def q39SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    def custsIn(year: Int) =
      o.filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
    val both = custsIn(1996).intersect(custsIn(1997))
      .withColumn("set_op", lit("both_years"))
    val only96 = custsIn(1996).except(custsIn(1997))
      .withColumn("set_op", lit("only_1996"))
    both.unionByName(only96)
      .orderBy(col("set_op"), col("o_custkey"))
  }

  /** W2 — lag/lead analytics: per-user value delta between consecutive
    * events.
    */
  def q40LagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .select(col("event_id"), col("user_id"),
        (col("value") - col("prev_value")).alias("delta"))
      .orderBy(col("event_id"))
  }

  /** A6 — approximate distinct (HLL). No cross-engine oracle exists for the
    * sketch itself (engine-specific), so this query is registered WITHOUT
    * oracle SQL — the driver records the weaker rows-only check; the exact
    * distinct count is covered by q08/q39.
    */
  def q41ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).alias("approx_parts"),
        countDistinct(col("l_partkey")).alias("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        // HLL++ estimates are engine-specific, so the DIFFERENTIAL check is
        // on the accuracy CONTRACT: the estimate must land within 3× the
        // default rsd (5%) of the exact count — the oracle pins TRUE
        (abs(col("approx_parts") - col("exact_parts"))
          .cast("double") / col("exact_parts") <= 0.15).alias("approx_within_15pct"))
      .orderBy(col("l_returnflag"))

  /** Similarity/IVF — inverted-file ANN over the planted corpus: probe-based
    * approximate top-3. The whole pipeline (md5-ordered centroid election,
    * cell assignment, probing, re-score) is deterministic and engine-
    * portable, so the DuckDB oracle replays it verbatim; recall is
    * additionally spec-tested against brute force.
    */
  def q43IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    Similarity.ivfTopK(queries, emb, k = 3, cells = 16, nprobe = 4)
      .withColumn("cosine", round(col("cosine"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Dedup/SimHash pairs — planted corpus, Hamming ≤ 16 within blocking
    * buckets (top-8 fingerprint bits). The planted suffix changes one token,
    * flipping few fingerprint bits, so (id, id+100000) pairs survive.
    */
  def q42SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDuplicates(docsWithPlantedDups(spark, dir), "doc_id", "text",
      maxDistance = 16, blockBits = 8)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy(col("id_a"), col("id_b"))

  /** Pivot — per-user activity matrix: one column per event type. Pivot
    * values are pinned (the scalable form: no extra distinct-values job; at
    * 100 TB an unpinned pivot scans twice).
    */
  def q44Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** N2 on numeric arrays — posexplode of embeddings (position-preserving
    * array flattening; the array↔rows bridge for vector post-processing).
    */
  def q45Posexplode(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").alias("pos"),
        col("col").cast("double").alias("value"))
      .orderBy(col("vec_id"), col("pos"))

  /** W2 frame specs — running (cumulative) aggregate per user over event
    * time; decimal accumulation keeps the running values engine-exact.
    */
  def q46RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .withColumn("running_value",
        sum(col("value").cast("decimal(30,6)")).over(w).cast("double"))
      .withColumn("running_n", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("running_value"), col("running_n"))
      .orderBy(col("event_id"))
  }

  /** Null-semantics pack — the fixtures carry no nulls, so manufacture them
    * (`nullif`) and pin the contracts that differ across engines if handled
    * sloppily: null grouping keys form their own group, aggregates skip
    * nulls, count(*) does not, coalesce fills.
    */
  def q47NullSemantics(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("maybe_value", when(col("value") < 50.0, lit(null)).otherwise(col("value")))
      .withColumn("maybe_type", nullif(col("event_type"), lit("error")))
      .groupBy(col("maybe_type"))
      .agg(
        count(lit(1)).alias("n_rows"),
        count(col("maybe_value")).alias("n_nonnull"),
        dsum(coalesce(col("maybe_value"), lit(0.0))).alias("sum_filled"),
        dsum(col("maybe_value")).alias("sum_skipnull"))
      .orderBy(col("maybe_type").asc_nulls_first)

  /** String-function pack over customer names (engine-portable subset:
    * no regex classes beyond literals).
    */
  def q48StringFns(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).alias("up"),
        substring(col("c_name"), 1, 8).alias("prefix"),
        length(col("c_name")).cast("long").alias("len"),
        regexp_replace(col("c_name"), "Customer", "C").alias("shortened"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey").cast("string")).alias("seg_key"),
        lpad(col("c_custkey").cast("string"), 10, "0").alias("padded"))
      .orderBy(col("c_custkey"))

  /** Date-part extraction over order dates (year/quarter/month/day — the
    * parts with identical semantics across engines; week/dow conventions
    * deliberately excluded).
    */
  def q49DateParts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).alias("y"),
        quarter(col("o_orderdate")).alias("q"),
        month(col("o_orderdate")).alias("m"))
      .agg(count(lit(1)).alias("n"), dsum(col("o_totalprice")).alias("total"))
      .orderBy(col("y"), col("q"), col("m"))

  /** N7/map-ops — dynamic-key introspection: per-document key inventory of
    * the JSON payload (map_keys + explode over a MapType column), the
    * schema-on-read primitive for payloads whose keys are data.
    */
  def q50MapKeys(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(explode(map_keys(from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))).alias("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("key"))

  /** As-of join (J6 extension) — for each event, the customer's most recent
    * order day at event time: one shuffle on the key (union + running
    * window), never a range-join row explosion. Right side pre-aggregated
    * per (custkey, day) so the as-of tie contract (unique key+ts) holds.
    */
  def q51AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val orderDays = t(spark, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(dsum(col("o_totalprice")).alias("day_total"), count(lit(1)).alias("n_orders"))
      .select(col("o_custkey").alias("user_id"), col("o_orderdate"),
        col("o_orderdate").alias("last_order_date"), col("day_total"), col("n_orders"))
    graft.operators.AsOfJoin.backward(
      events, orderDays, on = Seq("user_id"), leftTs = "ts", rightTs = "o_orderdate")
      .select(col("event_id"), col("user_id"), col("last_order_date"),
        col("day_total"), col("n_orders"))
      .orderBy(col("event_id"))
  }

  /** Range (interval) join — classify line items into price bands: the
    * band table is tiny and broadcast, so the theta-join is a broadcast
    * nested loop over 12 rows per item, not a shuffle.
    */
  def q52RangeJoin(spark: SparkSession, dir: String): DataFrame =
    priceBandSummary(
      t(spark, dir, "lineitem").join(broadcast(priceBands(spark)),
        col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi")))

  /** The 12 price bands q52/q97 share — ONE definition, so the two
    * result-identical queries (and their shared oracle) cannot drift.
    */
  private def priceBands(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      (0 until 12).map(i => (i.toLong, i * 10000.0, (i + 1) * 10000.0)))
      .toDF("band_id", "lo", "hi")

  /** Shared q52/q97 aggregation tail over the joined (lineitem × band) rows. */
  private def priceBandSummary(joined: DataFrame): DataFrame =
    joined.groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).alias("n"), dsum(col("l_extendedprice")).alias("total"))
      .orderBy(col("band_id"))

  /** Dedup clustering — connected components over the near-dup pair graph
    * (min-label propagation, O(diameter) shuffles): every document that has
    * a near-duplicate, labeled with its dedup-group representative.
    */
  def q53DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDuplicates(docsWithPlantedDups(spark, dir), "doc_id", "text",
      threshold = 0.7, bands = 4, rowsPerBand = 3)
    Dedup.clusters(pairs)
      .select(col("id").alias("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic hash sampling — the reproducible Bernoulli sample every
    * training-data pipeline needs (same rows on every engine/run, unlike
    * `TABLESAMPLE`): keep a row iff its key's md5 bucket < rate.
    */
  def q54HashSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("__bucket",
        conv(substring(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))), 1, 8),
          16, 10).cast("long") % 100)
      .filter(col("__bucket") < 10) // 10% sample
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).alias("n_sampled"), dsum(col("l_quantity")).alias("sum_qty"))
      .orderBy(col("l_returnflag"))

  /** GROUPING SETS (A6 family beyond rollup/cube) — explicit set list with
    * GROUPING() sentinels, through the SQL entry point (S6).
    */
  def q55GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("v_lineitem_gs")
    spark.sql(
      """SELECT
        |  CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
        |FROM v_lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY returnflag, linestatus""".stripMargin)
  }

  /** Unpivot (wide→long melt) — per-priority metrics unpivoted to
    * (priority, metric, value) rows; the inverse bridge to q44's pivot.
    */
  def q56Unpivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("double").alias("n_orders"),
        dsum(col("o_totalprice")).alias("total_price"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("total_price")), "metric", "value")
      .orderBy(col("o_orderpriority"), col("metric"))

  /** Exact interpolated percentiles (quantile_cont semantics) per group —
    * quantity quartiles by return flag.
    */
  def q57Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.25)).alias("p25"),
        percentile(col("l_quantity"), lit(0.5)).alias("p50"),
        percentile(col("l_quantity"), lit(0.75)).alias("p75"),
        min(col("l_quantity")).alias("mn"),
        max(col("l_quantity")).alias("mx"))
      .orderBy(col("l_returnflag"))

  /** Training-corpus selection — the end-to-end LLM-data pipeline in one
    * query: quality-score filter → language filter → exact dedup (keep min
    * doc id per canonical digest) → top-20 per language by quality. One
    * corpus scan; dedup and ranking are the only shuffles.
    */
  def q58CorpusSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // quality is the integer-decis rubric (quality ≥ 7 ⟺ score ≥ 0.7):
    // ranking and filtering on decis is order-identical to the double
    // score and cross-engine exact (no float in any gated column)
    val scored = docs.select(
      col("doc_id"), col("text"),
      TextAnalysis.langId(col("text")).alias("lang_pred"),
      TextAnalysis.qualityDecis(col("text")).alias("quality"),
      TextAnalysis.tokenCountWhitespace(col("text")).cast("long").alias("n_tokens"),
      md5(Dedup.canonical(col("text"))).alias("__fp"))
      .filter(col("quality") >= 7 && col("lang_pred") =!= "und")
    // exact dedup: keep the min doc_id per fingerprint (one shuffle)
    val wDedup = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
    val deduped = scored
      .withColumn("__rn", row_number().over(wDedup))
      .filter(col("__rn") === 1)
    // top-20 per language by quality (deterministic tie-break on doc_id)
    val wTop = Window.partitionBy(col("lang_pred"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    deduped
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 20)
      .select(col("lang_pred"), col("rank").cast("long").alias("rank"),
        col("doc_id"), col("quality"), col("n_tokens"))
      .orderBy(col("lang_pred"), col("rank"))
  }

  /** Global running total WITHOUT a single-partition window — the two-pass
    * prefix-sum operator (bucketed cumulative sums + broadcast offsets);
    * decimal accumulation makes the result bit-equal to `sum() OVER
    * (ORDER BY)` in any engine.
    */
  def q59RunningTotal(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PrefixSum.runningTotal(
      t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      orderCol = "o_orderkey", valueCol = "o_totalprice", buckets = 64)
      .select(col("o_orderkey"), col("running_total").cast("double").alias("running_total"))
      .orderBy(col("o_orderkey"))

  /** SCD2 history build (§2.9 family extension): change-compress the event
    * log per user on event_type, then attach validity intervals — both steps
    * one window shuffle on the key. `change_id` keeps the output totally
    * ordered even when a user changes type twice at the same timestamp.
    */
  def q60Scd2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Scd2.fromChangeLog(
      t(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
      keyCols = Seq("user_id"), tsCol = "ts",
      attrCols = Seq("event_type"), tieBreakCols = Seq("event_id"))
      .select(col("user_id"), col("event_id").alias("change_id"),
        col("event_type"), col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("change_id"))

  /** Vocabulary build — global token frequencies, top 50 (corpus statistics
    * for tokenizer training). One explode + one shuffle with map-side
    * partial counts; top-k via sort+limit on the aggregated (small) side.
    */
  def q61VocabTopk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(TextAnalysis.canonicalTokens(col("text"))).alias("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).alias("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50)

  /** Stratified deterministic sampling — per-language corpus mixing rates
    * keyed on content hash (reproducible on any cluster layout / engine).
    * Pure row-local predicate: no shuffle, composes with pushdown.
    */
  def q62StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratified(
      t(spark, dir, "documents"), "lang",
      rates = Map("en" -> 0.2, "de" -> 0.5, "fr" -> 0.1, "es" -> 0.1, "zh" -> 0.3),
      keys = Seq(col("doc_id")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).alias("n_sampled"),
        sum(col("n_chars")).alias("sum_chars"))
      .orderBy(col("lang"))

  /** Intra-document repetition profile (Gopher-style quality rule): docs
    * whose most frequent token dominates or whose duplicate-token ratio is
    * high are boilerplate candidates.
    */
  def q63Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(t(spark, dir, "documents"), "doc_id", "text")
      .filter(col("dup_token_ratio") >= 0.5)
      .orderBy(col("doc_id"))

  /** Symmetric int8 embedding quantization — the ANN storage path (4× vs
    * float32). floor(x·scale + 0.5) is engine-portable rounding; codes and
    * scale verified bit-exactly against the oracle. Codes are emitted as a
    * comma-joined string: the correctness harness canonicalizes rows in
    * pandas, which cannot sort/hash raw array cells.
    */
  def q64Quantize(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.operators.Similarity.quantizeInt8(col("embedding"))
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < 100)
      .select(col("vec_id"),
        // scale = 127/max|x|: max is a selection of a raw stored double and
        // the division is one IEEE op — bit-stable raw, so no round()
        q.getField("scale").alias("scale"),
        array_join(q.getField("codes").cast("array<string>"), ",").alias("codes"))
      .orderBy(col("vec_id"))
  }

  /** Benchmark-contamination check: shingle containment of each planted
    * "benchmark" probe (doc_id ≥ 100000) in every corpus document. Each
    * probe is caught embedded in its source document at ~0.95 containment.
    */
  def q65Contamination(spark: SparkSession, dir: String): DataFrame = {
    val all = docsWithPlantedDups(spark, dir)
    Dedup.containment(
      corpus = all.filter(col("doc_id") < 100000L),
      probes = all.filter(col("doc_id") >= 100000L),
      corpusIdCol = "doc_id", probeIdCol = "doc_id", textCol = "text",
      minContainment = 0.8)
      .orderBy(col("probe_id"), col("doc_id"))
  }

  /** Skew-salted fact⋈dim join (deterministic salt, small side replicated
    * factor×) — result provably identical to the unsalted join; the shape
    * that survives a hot orderkey at 100 TB.
    */
  def q66SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .select(col("l_orderkey").alias("orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
    val small = t(spark, dir, "orders")
      .select(col("o_orderkey").alias("orderkey"), col("o_orderpriority"))
    graft.operators.Skew.saltedJoin(big, small, Seq("orderkey"), factor = 4,
      saltBy = Seq(col("l_linenumber")))
      .groupBy(col("o_orderpriority"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).alias("revenue"),
        count(lit(1)).alias("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** Forward as-of join — next order day at/after each event per user
    * (same single-shuffle union+window plan as q51, direction reversed).
    */
  def q67AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val orderDays = t(spark, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(dsum(col("o_totalprice")).alias("day_total"), count(lit(1)).alias("n_orders"))
      .select(col("o_custkey").alias("user_id"), col("o_orderdate"),
        col("o_orderdate").alias("next_order_date"), col("day_total"), col("n_orders"))
    graft.operators.AsOfJoin.forward(
      events, orderDays, on = Seq("user_id"), leftTs = "ts", rightTs = "o_orderdate")
      .select(col("event_id"), col("user_id"), col("next_order_date"),
        col("day_total"), col("n_orders"))
      .orderBy(col("event_id"))
  }

  /** Native bounded top-k AGGREGATE (custom TypedImperativeAggregate with
    * map-side partials) — top order totals per customer. The window idiom
    * (q10) shuffles every row; this moves ≤ k values per group per
    * partition.
    */
  def q68TopkAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        Functions.topK(col("o_totalprice"), 3).alias("__top"),
        count(lit(1)).alias("n_orders"))
      // comma-joined DECIMAL(30,2) strings: harness-sortable scalar output,
      // and the decimal cast pins double→string formatting in both engines
      .select(col("o_custkey"),
        array_join(transform(col("__top"),
          x => x.cast("decimal(30,2)").cast("string")), ",").alias("top_totals"),
        col("n_orders"))
      .orderBy(col("o_custkey"))

  /** Calendar-spine gap fill — daily event counts over a pinned date spine,
    * empty days present with 0 (the warehouse reporting staple pandas
    * pipelines do with reindex). Spine = sequence+explode (narrow), counts
    * join on date.
    */
  def q69GapFill(spark: SparkSession, dir: String): DataFrame = {
    val spine = spark.range(1)
      .select(explode(sequence(
        lit("2024-01-01").cast("date"), lit("2024-02-10").cast("date"))).alias("day"))
    val daily = t(spark, dir, "events")
      .groupBy(to_date(col("ts")).alias("day"))
      .agg(count(lit(1)).alias("__n"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("__n"), lit(0L)).alias("n_events"))
      .orderBy(col("day"))
  }

  /** ntile quartiles per partition (W2 family beyond rank/lag) — spend
    * quartile of each order within its priority class; total order via
    * (totalprice, orderkey) keeps the bucketing engine-deterministic.
    */
  def q70Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).alias("spend_quartile"))
      .orderBy(col("o_orderkey"))
  }

  /** Regex redaction (data-cleaning / PII-style scrub): digits masked in the
    * JSON payload. Pure row-local projection — composes with pushdown, no
    * shuffle.
    */
  def q71Redact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
        TextAnalysis.redact(col("props")).alias("props_redacted"))
      .orderBy(col("event_id"))

  /** Sequence packing — assign documents to fixed-token-budget training
    * bins per language: bin = (running token total before the doc) div
    * budget. Per-language running sums parallelize across languages; for a
    * single giant stratum the PrefixSum two-pass operator (q59) is the
    * drop-in replacement.
    */
  def q72SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountWhitespace(col("text")).cast("long").alias("n_tokens"))
      .withColumn("__run", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr("(__run - n_tokens) div 2000"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin"))
      .orderBy(col("doc_id"))
  }

  /** Point-in-time (temporal) dimension lookup — each event joined to the
    * SCD2 attribute valid AT its timestamp: the feature-store correctness
    * primitive (no leakage from the future). Composition: q60's change
    * compression → backward as-of join; intervals tile, so as-of on
    * valid_from ≡ the interval join without the range-explosion.
    */
  def q73PointInTime(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val changes = graft.operators.Scd2.collapseUnchanged(
      t(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
      keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
      attrCols = Seq("event_type"))
      .select(col("user_id"), col("ts").alias("valid_from"),
        col("event_type").alias("type_at_ts"), col("event_id").alias("change_id"))
    graft.operators.AsOfJoin.backward(
      events, changes, on = Seq("user_id"), leftTs = "ts", rightTs = "valid_from")
      .select(col("event_id"), col("user_id"), col("type_at_ts"), col("change_id"))
      .orderBy(col("event_id"))
  }

  /** W2 analytic ratios — percent_rank and cume_dist per priority class
    * (total order via (totalprice, orderkey) keeps both engine-exact:
    * identical integer ranks → identical double divisions).
    */
  def q74PercentRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        percent_rank().over(w).alias("pct_rank"),
        cume_dist().over(w).alias("cume"))
      .orderBy(col("o_orderkey"))
  }

  /** F11 array surface — slice / element-wise floor / sort / reverse /
    * contains over the embedding vectors (floor(x·1000) instead of round:
    * half-way rounding is engine convention, floor is IEEE-pinned).
    */
  def q75ArrayOps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        slice(transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")), 1, 4).alias("__h4"))
      // arrays serialized to comma-joined strings for the pandas-based
      // correctness harness (raw array cells are unhashable there)
      .select(col("vec_id"),
        array_join(col("__h4").cast("array<string>"), ",").alias("head4"),
        array_join(array_sort(col("__h4")).cast("array<string>"), ",").alias("sorted4"),
        array_join(reverse(array_sort(col("__h4"))).cast("array<string>"), ",").alias("desc4"),
        exists(col("__h4"), _ > 0).alias("any_positive"))
      .orderBy(col("vec_id"))

  /** TF-IDF keyword extraction — top-3 scoring terms per document. The
    * score is kept cross-engine exact by avoiding irrational math: with
    * tf = cnt/doc_len and idf = n_docs/df, score = (cnt·n_docs)/(doc_len·df)
    * is ONE IEEE division of two exactly-representable integers (no log, no
    * accumulated float error). Plan: one shuffle on (doc, token), one on
    * token for document frequencies (corpus-wide, as TF-IDF requires), the
    * scored subset joins the vocab-sized df table, and the 1-row corpus
    * count broadcasts.
    */
  def q76Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.canonicalTokens(col("text"))).alias("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).alias("cnt"))
    val withLen = tf.withColumn("doc_len",
      sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).alias("df"))
    val nDocs = docs.agg(count(lit(1)).alias("n_docs"))
    val scored = withLen
      .filter(col("doc_id") < 100)
      .join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("cnt") * col("n_docs")).cast("double") /
          (col("doc_len") * col("df")).cast("double"))
    val rk = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    scored
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").alias("rk"), col("token"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Last-touch attribution — each click joined to the most recent view by
    * the same user within a 12 h lookback. As-of join with tolerance: the
    * single-shuffle union+window as-of attaches the latest preceding view,
    * then the tolerance is a row-local post-filter (clicks whose only view
    * is older drop out). Views are pre-aggregated to one row per
    * (user, ts) so the as-of pick is deterministic under timestamp ties.
    */
  def q77Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).alias("view_event_id"))
      .select(col("user_id"), col("ts").alias("vts"),
        col("view_event_id"), col("ts").alias("view_ts"))
    graft.operators.AsOfJoin.backward(
      clicks, views, on = Seq("user_id"), leftTs = "ts", rightTs = "vts")
      .filter(col("view_ts").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("view_ts")) <= 12L * 3600 * 1000000)
      .select(col("event_id"), col("user_id"), col("ts").alias("click_ts"),
        col("view_event_id"), col("view_ts"))
      .orderBy(col("event_id"))
  }

  /** W-frame RANGE — event-time rolling 12 h totals per user (frame bounds
    * by VALUE of the order key, not row count: peers at the boundary are
    * included, unlike q46's ROWS frame). Partitioned by user so the window
    * parallelizes; decimal accumulation keeps the sums order-free.
    */
  def q78RollingRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsm"))
      .rangeBetween(-12L * 3600 * 1000000, 0)
    t(spark, dir, "events")
      .filter(col("user_id") < 30)
      .withColumn("tsm", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).alias("n_12h"),
        sum(col("value").cast("decimal(30,6)")).over(w).cast("double").alias("sum_12h"))
      .orderBy(col("event_id"))
  }

  /** Ordered string aggregation (LISTAGG/string_agg) — collect_list is
    * UNordered in a distributed engine (partition arrival order), so the
    * deterministic form is collect → sort_array → join: the order lives in
    * the data, not in the plan's accident. Numeric sort before cast (string
    * sort would put "10" before "9").
    */
  def q79StringAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .groupBy(col("o_orderpriority"))
      .agg(
        array_join(
          transform(sort_array(collect_list(col("o_orderkey"))),
            _.cast("string")), ",").alias("keys_csv"),
        count(lit(1)).alias("n"))
      .orderBy(col("o_orderpriority"))

  /** LOCF forward fill — carry the last non-null observation forward
    * (`last(..., ignoreNulls)` over a running frame): the standard
    * sparse-observation densify (sensor readings, SCD snapshots). Per-user
    * partitions parallelize; the frame streams in event-time order with
    * O(1) state (last seen value), so the fill costs one window pass.
    */
  def q80Locf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "purchase", col("value")).alias("pv"))
      .select(col("event_id"), col("user_id"),
        last(col("pv"), ignoreNulls = true).over(w).alias("locf"))
      .orderBy(col("event_id"))
  }

  /** Conversion funnel — first view, first click strictly after it, first
    * purchase strictly after that, per user. Three keyed min-aggregations
    * chained by inequality joins on user_id: each stage's output is one row
    * per user (≤ |users|), so after the first aggregation every join input
    * is cardinality-bounded and AQE broadcasts the small side — no
    * event×event blowup at any stage.
    */
  def q81Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).alias("first_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).alias("first_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("first_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).alias("first_purchase"))
    v.join(c, "user_id").join(p, "user_id")
      .select(col("user_id"), col("first_view"), col("first_click"),
        col("first_purchase"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention — users bucketed by first-activity week, counted per
    * (cohort, weeks-since-cohort). Week index is day-arithmetic from a
    * pinned epoch (not date_trunc: week-start conventions differ across
    * engines). Two shuffles: first-activity per user, then the cohort
    * matrix aggregation; the per-user cohort frame broadcasts back onto
    * events via AQE.
    */
  def q82Retention(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit("2024-01-01").cast("date")
    val ev = t(spark, dir, "events")
      .select(col("user_id"),
        floor(datediff(col("ts").cast("date"), epoch) / 7).alias("wk"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).alias("cohort_wk"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).alias("weeks_since"))
      .agg(countDistinct(col("user_id")).alias("n_users"))
      .orderBy(col("cohort_wk"), col("weeks_since"))
  }

  /** Declarative data-quality gate — four expectation checks compiled into
    * ONE aggregation pass over orders (see [[graft.schema.QualityChecks]]):
    * null fraction, key uniqueness, range conformance, domain membership.
    * The metric is a raw division of exact counts (engine-exact); the
    * report is the 1-row agg exploded, so the scan cost is independent of
    * the number of checks.
    */
  def q83QualityChecks(spark: SparkSession, dir: String): DataFrame = {
    import graft.schema.QualityChecks._
    run(t(spark, dir, "orders"), Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      InRange("o_totalprice", 0, 300000, maxOutFrac = 0.5),
      Satisfies("status_f_or_o", col("o_orderstatus").isin("F", "O"))))
      .orderBy(col("check_name"))
  }

  /** S2 — offset-paginated source: the same fixture pages q34 loads by
    * keyset, loaded via the limit/offset loop (pageSize 3 exercises several
    * iterations and a short final page). Projection only — the normalize
    * stage is q34's job.
    */
  def q84OffsetPages(spark: SparkSession, dir: String): DataFrame = {
    val pagesDir = "/root/repo/src/test/resources/json/pages"
    KeysetSource.loadOffset(spark, KeysetSource.fixtureOffsetFetcher(pagesDir),
      pageSize = 3, maxPages = 50)
      .select(col("id"), col("lastModifiedAt"), col("channel"))
      .orderBy(col("id"))
  }

  /** SemDeDup — semantic dedup over embeddings: near-dup pairs (cosine ≥
    * 0.999 via LSH buckets, the q28 pair set) → connected components → keep
    * the min-id representative. Planted exact duplicates (vec_id+100000)
    * cluster with their source and are dropped; everything else survives.
    */
  def q85SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val planted = emb.filter(col("vec_id") < 25)
      .select((col("vec_id") + 100000L).alias("vec_id"), col("embedding"), col("label"))
    graft.operators.Similarity.semanticDedup(
      emb.unionByName(planted), threshold = 0.999, numPlanes = 4)
      .orderBy(col("vec_id"))
  }

  /** Incremental dedup — the continuous-ingest shape: a new crawl batch
    * (the planted near-duplicates) matched against the base corpus's
    * persisted MinHash signature index; corpus text is never re-read.
    * jaccard_est is the signature-agreement fraction (k=12), exact
    * rational arithmetic in both engines.
    */
  def q86IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val newBatch = docs.filter(col("source") === "src0")
      .select((col("doc_id") + 100000L).alias("doc_id"),
        concat(col("text"), lit(" nearduplicate")).alias("text"))
    val index = Dedup.signatureIndex(docs, "doc_id", "text")
    Dedup.incrementalNearDuplicates(newBatch, index, "doc_id", "text",
      threshold = 0.5)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** PQ ANN — product-quantization top-3 by ADC (8 subspaces × 16 centroids
    * over the 64-dim embeddings): codes are 8 bytes per corpus vector,
    * scoring is 8 table lookups per pair. The md5-sampled codebook is
    * refined by 4 deterministic Lloyd passes (DECIMAL-sum means — order-
    * independent, engine-exact), so the DuckDB oracle replays election,
    * refinement, encode, and ADC bit-exactly.
    */
  def q87PqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    graft.operators.Similarity.pqTopK(queries, emb, k = 3, refineIters = 4)
      .withColumn("score", round(col("score"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Token chunking — fixed 64-token windows with 8-token overlap over the
    * canonical token stream (training/RAG preprocessing). Row-local; one
    * scan at any corpus size.
    */
  def q88Chunking(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunk(
      t(spark, dir, "documents").filter(col("doc_id") < 200),
      "doc_id", "text", chunkTokens = 64, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** PQ + exact re-rank — the two-stage ANN deployment: byte-code ADC
    * shortlist (20 candidates) re-scored with the exact cosine kernel,
    * top-3 by true similarity. Raw vectors are touched for shortlist rows
    * only.
    */
  def q89PqRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    graft.operators.Similarity.pqRerankTopK(queries, emb, k = 3, candidates = 20,
      refineIters = 4)
      .withColumn("cosine", round(col("cosine"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN evaluation — recall@3 of the PQ path against exact brute force,
    * per query. Both pipelines and the recall arithmetic are deterministic,
    * so the approximation QUALITY itself is correctness-gated (the check
    * the IVF/LSH/PQ family needs before anyone trusts it at scale).
    */
  def q90AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    val approx = graft.operators.Similarity.pqTopK(queries, emb, k = 3, refineIters = 4)
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, k = 3)
    graft.operators.Similarity.recallAtK(approx, exact, k = 3)
      .orderBy(col("query_id"))
  }

  /** ANN evaluation (LSH) — recall@3 of the hyperplane-LSH path against
    * exact brute force, per query. Promotes the LSH quality check from a
    * unit spec to the oracle gate: the bucketing (md5-derived plane
    * constants), candidate join, re-scoring, and recall arithmetic are all
    * deterministic, so DuckDB replays the whole evaluation.
    */
  def q91LshRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    val approx = graft.operators.Similarity.lshTopK(queries, emb, k = 3, numPlanes = 6)
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, k = 3)
    graft.operators.Similarity.recallAtK(approx, exact, k = 3)
      .orderBy(col("query_id"))
  }

  /** ANN evaluation (IVF, refined) — recall@3 of the inverted-file path
    * with 4 Lloyd refinement passes against exact brute force. Gates both
    * the IVF recall promotion and the centroid refinement itself: the
    * DuckDB oracle replays sample election, every refinement pass
    * (DECIMAL-sum means), probing, and the recall join.
    */
  def q92IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    val approx = graft.operators.Similarity.ivfTopK(queries, emb, k = 3,
      cells = 16, nprobe = 4, refineIters = 4)
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, k = 3)
    graft.operators.Similarity.recallAtK(approx, exact, k = 3)
      .orderBy(col("query_id"))
  }

  /** PII scrubbing — the redaction pass every public-web training corpus
    * runs before anything else: emails, IPv4s, and phone-shaped numbers
    * replaced with typed tags, with per-type hit counts for the audit
    * trail. Patterns are restricted to the Java-regex/RE2-identical subset,
    * so the DuckDB oracle replays the chain (and the counts on the
    * progressively-redacted text) exactly. PII is planted deterministically
    * on every third document — the fixture itself is clean.
    */
  def q93PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 300)
    val planted = docs.withColumn("__t0",
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" contact jane.doe@example.com or +1 (555) 123-4567 from 10.0.0.1")))
        .otherwise(col("text")))
    val s = TextAnalysis.piiScrub(col("__t0"))
    planted.select(col("doc_id"),
      s.getField("clean_text").alias("clean_text"),
      s.getField("n_email").cast("long").alias("n_email"),
      s.getField("n_ipv4").cast("long").alias("n_ipv4"),
      (s.getField("n_phone_intl") + s.getField("n_phone_paren"))
        .cast("long").alias("n_phone"))
      .orderBy(col("doc_id"))
  }

  /** ANN serving path — the materialized-index deployment shape
    * (Similarity.ivfTopKFromIndex's doc): the refined IVF index (cell
    * assignments + centroids, both plain DataFrames) is built ONCE,
    * persisted to parquet, RELOADED, and a query batch is served from the
    * reloaded frames. Same parameters as q92's inline pipeline, so the
    * DuckDB oracle replays that pipeline — the hash match gates that the
    * parquet round-trip of float vectors and DECIMAL-mean double centroids
    * is bit-exact, which is what makes the build-once/serve-many split
    * safe to deploy. At scale this is the shape that never rescans or
    * reassigns the corpus per query batch.
    */
  /** Per-JVM root for the serving queries' persisted index artifacts:
    * deleted on JVM exit, so bench's 4 executions per query per round (and
    * plan-only constructions in specs) don't strand corpus-sized dirs.
    */
  private lazy val serveIdxRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_serve_idx")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }))
    root
  }

  def q94IvfServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    val (assigned, centroids) =
      Similarity.ivfAssignCells(emb, 16, refineIters = 4)
    val idx = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q94").toString
    assigned.write.mode("overwrite").parquet(s"$idx/assigned")
    centroids.write.mode("overwrite").parquet(s"$idx/centroids")
    Similarity.ivfTopKFromIndex(queries,
      spark.read.parquet(s"$idx/assigned"),
      spark.read.parquet(s"$idx/centroids"),
      k = 3, nprobe = 4)
      .withColumn("cosine", round(col("cosine"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** PQ serving path — q94's twin for the byte-code deployment: the corpus
    * is PQ-encoded ONCE (m bytes per vector, 64× smaller than the float64
    * it replaces), the code table persisted to parquet, RELOADED, and the
    * query batch ADC-scored against the reloaded codes with the
    * deterministically re-derived codebook (the documented serving
    * contract: the codebook is a pure function of the corpus and params).
    * Same parameters as q87's inline pipeline, so the oracle replays it —
    * the hash match gates the byte-code parquet round-trip.
    */
  def q95PqServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    val cb = Similarity.pqCodebook(emb, m = 8, k = 16, refineIters = 4)
    val idx = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q95").toString
    Similarity.pqEncodeCorpus(emb, cb).write.mode("overwrite").parquet(s"$idx/codes")
    Similarity.pqTopKFromCodes(queries,
      spark.read.parquet(s"$idx/codes"), cb, k = 3)
      .withColumn("score", round(col("score"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN evaluation (multi-band LSH) — recall@3 of `lshTopK(bands = 2)`
    * against exact brute force: the standard LSH amplification, candidates
    * unioned over two independent plane sets and deduped before ranking.
    * Promotes the `bands` parameter from spec coverage to the oracle gate:
    * DuckDB replays both bands' bucketing from the embedded plane
    * constants, the pair-union, the re-score, and the recall join.
    */
  def q96LshMultiband(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    val approx = graft.operators.Similarity.lshTopK(queries, emb, k = 3,
      numPlanes = 6, bands = 2)
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, k = 3)
    graft.operators.Similarity.recallAtK(approx, exact, k = 3)
      .orderBy(col("query_id"))
  }

  /** Range join, banded — the LARGE×LARGE form of q52: the same price-band
    * classification, but with the interval join expressed as an equi-join
    * on a derived band id ([[graft.operators.RangeJoin.bandedRange]]) so
    * NEITHER side needs to broadcast. Identical results to the theta form
    * (the oracle is the same BETWEEN SQL); what changes is the plan — a
    * shuffle on band id instead of a broadcast nested loop, the shape that
    * survives a billion-interval dimension. PlanSpec pins the absence of
    * the theta shapes.
    */
  def q97BandedRangeJoin(spark: SparkSession, dir: String): DataFrame =
    priceBandSummary(
      graft.operators.RangeJoin.bandedRange(
        t(spark, dir, "lineitem"), priceBands(spark),
        pointCol = "l_extendedprice", loCol = "lo", hiCol = "hi",
        bandWidth = 10000.0))

  /** Interval-overlap join, banded (q97's sibling): shipment activity
    * windows derived from lineitem (ship date + a quantity-derived
    * duration, in days) joined to 45-day promo windows by INTERSECTION —
    * `RangeJoin.bandedOverlap`, the large×large interval-overlap shape
    * (both sides explode to covered bands, equi-join on band, exact
    * overlap filter, first-overlap-band dedup). The oracle replays the
    * plain theta overlap join — identical results by construction.
    */
  def q98BandedOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val shipments = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("double").alias("s_lo"),
        (col("l_quantity") % 20).cast("double").alias("__dur"))
      .withColumn("s_hi", col("s_lo") + lit(1.0) + col("__dur"))
      .drop("__dur")
    val windows = spark.createDataFrame(
      (0 until 86).map(k => (k.toLong, k * 30.0, k * 30.0 + 45.0)))
      .toDF("win_id", "w_lo", "w_hi")
    graft.operators.RangeJoin.bandedOverlap(
      shipments, windows, "s_lo", "s_hi", "w_lo", "w_hi", bandWidth = 30.0)
      .groupBy(col("win_id"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("win_id"))
  }

  /** Substring-level exact dedup — per-document profile of VERBATIM spans
    * shared with other documents (`Dedup.substringDupSpans`: content-
    * defined anchor grams, doc-frequency filter, island merge). The output
    * is the per-doc span count and duplicated-char total — the signal a
    * span-removal pass would act on. The oracle replays the identical
    * anchor/island arithmetic in SQL.
    */
  def q99SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.substringDupSpans(
      t(spark, dir, "documents"), "doc_id", "text", k = 40)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_dup_spans"),
        sum(col("span_end") - col("span_start")).alias("dup_chars"))
      .orderBy(col("doc_id"))

  /** Span removal — q99's ACTION half: the corpus with every detected
    * duplicated span cut out (`Dedup.stripSpans`, a row-local aggregate
    * fold after one join). Output fingerprints the cleaned text so the
    * oracle gates the exact reconstruction, not just the lengths.
    */
  def q100StripDupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val spans = graft.operators.Dedup.substringDupSpans(
      docs, "doc_id", "text", k = 40)
    graft.operators.Dedup.stripSpans(docs, spans, "doc_id", "text")
      .select(col("doc_id"), md5(col("clean_text")).alias("clean_fp"),
        length(col("clean_text")).cast("long").alias("clean_chars"))
      .orderBy(col("doc_id"))
  }

  /** Target-mixture sampling — `Sampling.toMixture` derives per-language
    * rates for a 50/20/20/10 en/zh/de/fr corpus (es drops: no weight) and
    * applies the content-hash filter. The oracle re-derives the identical
    * rates in SQL (same count → min(n/w) scale → clamped threshold
    * arithmetic, DOUBLE end to end) and replays the bucket filter, so the
    * derivation itself is correctness-gated, not just the sampling.
    */
  def q101MixtureSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.toMixture(
      t(spark, dir, "documents"), "lang",
      Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.2, "fr" -> 0.1),
      Seq(col("doc_id")))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Snapshot change feed — two versions of an orders-derived table are
    * committed through [[graft.sources.SnapshotManifest]] (v0 = keys not
    * divisible by 7; v1 = keys not divisible by 5, prices bumped where
    * divisible by 3), then `changesBetween(0, 1)` emits the row-level CDC
    * feed: inserts (the %7 keys v0 lacked), deletes (the %5 keys v1
    * dropped), and update pre/post image pairs (the surviving %3 keys).
    * The oracle re-derives the same feed with set arithmetic directly on
    * the fixture — the hash match gates the classification, the pre/post
    * pairing, AND the parquet round-trip through the manifest table.
    */
  def q102SnapshotCdf(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q102").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.filter(col("o_orderkey") % 7 =!= 0))
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))))
    graft.sources.SnapshotManifest.changesBetween(spark, root, 0L, 1L, Seq("o_orderkey"))
      .orderBy(col("o_orderkey"), col("_change"))
  }

  /** Bigram-LM corpus-fit scoring — the CCNet/KenLM-style quality signal:
    * a bigram model is TRAINED on the corpus (pair + prefix counts, rare
    * pairs pruned at minCount=2 AFTER the denominator keeps full mass),
    * then every document is SCORED against it. The gated columns are the
    * exact integer mass statistics (known-pair counts and c12/c1 sums);
    * the float `avg_logprob` perplexity signal rides on the same
    * aggregation but stays out of the hash (ln is not bit-portable).
    * The oracle replays tokenization, training, pruning, and scoring.
    */
  def q103LmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = graft.operators.TextAnalysis.bigramModel(docs, "text", minCount = 2)
    graft.operators.TextAnalysis.lmScore(docs, "doc_id", "text", model)
      .select(col("doc_id"), col("n_bigrams"), col("n_known"),
        col("sum_c12"), col("sum_c1"))
      .orderBy(col("doc_id"))
  }

  /** Z-order cell occupancy — the layout-clustering arithmetic
    * ([[graft.operators.Layout]]) oracle-gated: both join keys bucketed by
    * the shift rule over their actual bounds (a 4-number driver-side
    * aggregate, the same constant cost [[graft.operators.Layout.zOrderBy]]
    * pays), Morton-interleaved, and rolled up into coarse z-cells. The
    * hash match pins the exact bit arithmetic (bucket shifts + interleave)
    * that file pruning depends on; LayoutSpec separately proves the
    * pruning effect on written files.
    */
  def q104ZorderCells(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val Array(b) = li.agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).collect()
    val z = graft.operators.Layout.zValue(
      graft.operators.Layout.bucketLong(col("l_partkey"), b.getLong(0), b.getLong(1), 8),
      graft.operators.Layout.bucketLong(col("l_suppkey"), b.getLong(2), b.getLong(3), 8), 8)
    li.select(z.alias("zv"), col("l_quantity"))
      .groupBy(shiftright(col("zv"), 8).alias("zcell"))
      .agg(count(lit(1)).alias("n"),
        sum(col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sum_qty"))
      .orderBy(col("zcell"))
  }

  /** Deterministic shard export — `Sampling.toShards` assigns each document
    * a content-derived shard (md5 bucket of doc_id) and the query gates the
    * full assignment via per-shard integer rollups (count, id extrema,
    * char mass). The oracle replays the md5 bucket arithmetic, so the hash
    * match pins that every row lands in the same shard on any engine or
    * layout — the reproducible-export contract.
    */
  def q105ShardExport(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.toShards(
      t(spark, dir, "documents"), Seq(col("doc_id")), nShards = 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).alias("n"),
        min(col("doc_id")).alias("min_id"), max(col("doc_id")).alias("max_id"),
        sum(col("n_chars")).alias("sum_chars"))
      .orderBy(col("shard"))

  /** BPE vocabulary training — 3 merges trained distributed
    * ([[graft.operators.Bpe.trainMerges]]): ONE corpus scan builds the
    * word-frequency table; each merge iteration aggregates pair counts
    * over DISTINCT words (vocabulary-sized) and collects a 1-row argmax.
    * Output is the merge table (rank, pair, weighted count); the oracle
    * replays all three iterations — tokenize, char-split, count, argmax
    * with the count-desc/pair-asc tie-break, literal padded replace —
    * as chained CTEs.
    */
  def q106BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val wf = graft.operators.Bpe.wordFreq(t(spark, dir, "documents"), "text")
    val (merges, _) = graft.operators.Bpe.trainMerges(wf, 3)
    spark.createDataFrame(merges).toDF("rank", "pair", "cnt")
      .orderBy(col("rank"))
  }

  /** BPE encoding — the trained merges applied back to the corpus
    * ([[graft.operators.Bpe.encode]]: a row-local literal-replace chain,
    * merges embedded as plan literals, no shuffle). Gated per document:
    * symbol count after merging and distinct-symbol count — the
    * compression the vocabulary buys, exact.
    */
  def q107BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // persist the word-frequency table: training reads it (cached on the
    // first argmax job), and the vocab side of the final plan reads the
    // SAME cache instead of re-tokenizing the corpus — so the corpus is
    // tokenized once for training and once for the join's token side,
    // nothing else. Vocab-sized (Zipf-bounded); re-invocations reuse the
    // same CacheManager entry (identical canonical plan).
    val wf = graft.operators.Bpe.wordFreq(docs, "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (merges, _) = graft.operators.Bpe.trainMerges(wf, 3)
    // bulk-encoding shape: the merge chain runs once per DISTINCT word
    // (encodeVocab), the corpus only pays a token→vocab equi-join
    val words = docs.select(col("doc_id"),
      explode(graft.operators.TextAnalysis.canonicalTokens(col("text"))).alias("word"))
    val vocab = graft.operators.Bpe.encodeVocab(wf.select(col("word")), merges.map(_._2))
    words.join(vocab, Seq("word"))
      .select(col("doc_id"), explode(col("syms")).alias("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_bpe_tokens"),
        countDistinct(col("s")).alias("n_distinct_symbols"))
      .orderBy(col("doc_id"))
  }

  /** BM25 keyword extraction ([[graft.operators.TextAnalysis.bm25Keywords]]):
    * top-3 BM25-weighted terms per document with the standard k1=1.2/b=0.75
    * constants folded into one exact integer ratio — both engines divide the
    * same two int64s, so the score double is bit-identical. Corpus stats
    * (df, dl, N, S) are computed over the WHOLE corpus; the doc_id<100 cut
    * only trims the reported rows (it pushes through the rank window on its
    * partition key, so the window runs on the cut, not the corpus).
    */
  def q108Bm25Keywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.operators.TextAnalysis.bm25Keywords(docs, "doc_id", "text", k = 3)
      .filter(col("doc_id") < 100)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Per-language quality-threshold curation
    * ([[graft.operators.Thresholds]]): score every doc with the
    * integer-decis quality rubric ([[TextAnalysis.qualityDecis]] — the
    * only cross-engine-exact representation; its decimal-cast ancestor
    * diverged in r7–r9), find each language's median score as an EXACT
    * discrete quantile over a (lang, score) value histogram — two keyed
    * aggregations, never a per-group corpus sort — then keep docs
    * at-or-above their language's cut and report the per-language outcome.
    * The FineWeb-style "top half per language" selection, exact: every
    * output column is an integer. The kept-score mean in [0,1] is the
    * caller's `sum_kept_q / (10·n_kept)`.
    */
  def q109QualityThreshold(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityDecis(col("text")).alias("q"))
    // one corpus scan: the whole summary derives from the (lang, q)
    // histogram — see Thresholds.groupQuantileSummary. The composed
    // keepAboveGroupQuantile + groupQuantileDisc form prices the quality
    // expression three times; ThresholdsSpec pins both paths equal.
    graft.operators.Thresholds.groupQuantileSummary(scored, "lang", "q", 0.5)
      .select(col("lang"), col("n_docs"), col("threshold"), col("n_kept"),
        col("min_kept_q"), col("sum_kept_q").cast("long").alias("sum_kept_q"))
      .orderBy(col("lang"))
  }

  /** End-to-end curation pipeline — the composition flagship: the
    * FineWeb-style chain quality-cut → exact-dedup → PII-scrub → report,
    * each stage one of this engine's oracle-gated operators, run as ONE
    * declarative plan (no intermediate materialization — Catalyst sees the
    * whole chain). Stages:
    *
    *   1. score + per-language median cut
    *      ([[graft.operators.Thresholds.keepAboveGroupQuantile]] — the
    *      threshold table broadcasts, the corpus takes scan→join→filter);
    *   2. exact dedup among survivors: keep the min-doc_id representative
    *      per canonical-text fingerprint (one hash-partitioned window on
    *      the digest — the same single-shuffle shape as `Dedup.exact`, but
    *      row-preserving so the pipeline keeps the text);
    *   3. PII redaction + typed hit counts
    *      ([[graft.operators.TextAnalysis.redactPii]]/`piiCounts` — one
    *      row-local regexp chain, counts taken on the same staged text the
    *      replacements see);
    *   4. per-language report: doc count, total canonical tokens of the
    *      CLEANED text, total PII hits removed, and an order-independent
    *      corpus fingerprint (bit_xor of each cleaned text's 60-bit md5
    *      head) gating the exact reconstruction of every surviving byte.
    *
    * Scale shape: two corpus-keyed exchanges total (the score histogram's
    * map-side-combined agg + the dedup window's digest shuffle); the
    * threshold join broadcasts; redaction and fingerprinting are row-local;
    * the report is a group-sized aggregate.
    */
  def q110CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val scored = docs.select(col("doc_id"), col("lang"), col("text"),
      TextAnalysis.qualityDecis(col("text")).alias("q"))
    val kept = graft.operators.Thresholds
      .keepAboveGroupQuantile(scored, "lang", "q", 0.5)
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
    val deduped = kept
      .withColumn("__fp", md5(Dedup.canonical(col("text"))))
      .withColumn("__rep", min(col("doc_id")).over(wFp))
      .filter(col("doc_id") === col("__rep"))
    // fused scrub kernel: replacement + staged counts in one pass per
    // pattern (half the regex passes of the redactPii+piiCounts pair)
    val cleaned = deduped
      .select(col("doc_id"), col("lang"),
        TextAnalysis.piiScrub(col("text")).alias("__s"))
      .select(col("doc_id"), col("lang"),
        col("__s.clean_text").alias("clean_text"),
        (col("__s.n_email") + col("__s.n_ipv4") +
          col("__s.n_phone_intl") + col("__s.n_phone_paren")).alias("__hits"))
    cleaned
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).alias("n_docs"),
        sum(size(TextAnalysis.canonicalTokens(col("clean_text"))))
          .alias("n_tokens"),
        sum(col("__hits")).alias("n_pii"),
        expr("bit_xor(cast(conv(substring(md5(clean_text), 1, 15), 16, 10) as bigint))")
          .alias("corpus_fp"))
      .orderBy(col("lang"))
  }

  /** Incremental substring dedup ([[graft.operators.Dedup.incrementalDupSpans]]):
    * a new ingest batch is matched against the corpus [[graft.operators.Dedup.anchorIndex]]
    * — linear in the batch, the corpus text never re-read. Fixture built
    * deterministically from the documents table: corpus = even doc_ids;
    * batch = each odd doc's own text with its even predecessor's full text
    * appended (a planted corpus-duplicate region). Reported per batch doc:
    * span count and duplicated chars — the planted region dominates, and
    * any naturally shared boilerplate adds spans identically in both
    * engines.
    */
  def q111IncrementalSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val donors = corpus.select((col("doc_id") + 1).alias("doc_id"),
      col("text").alias("__donor"))
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .join(donors, Seq("doc_id"))
      .select(col("doc_id"), concat_ws(" ", col("text"), col("__donor")).alias("text"))
    val idx = Dedup.anchorIndex(corpus, "doc_id", "text", k = 40)
    Dedup.incrementalDupSpans(batch, idx, "doc_id", "text", k = 40)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_dup_spans"),
        sum(col("span_end") - col("span_start")).alias("dup_chars"))
      .orderBy(col("doc_id"))
  }

  /** IVF-PQ composed ANN ([[graft.operators.Similarity.ivfPqTopK]]): coarse
    * cell probing restricts the corpus, ADC byte codes score the survivors
    * — the inverted-file + product-quantization serving shape. Same refined
    * parameters as q92 (IVF side) and q87 (PQ side), so the oracle composes
    * the two existing replays: 4-pass Lloyd cells + probes, 4-pass PQ
    * codebook + codes, ADC restricted to probed cells, rank ascending.
    */
  def q112IvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    graft.operators.Similarity.ivfPqTopK(queries, emb, k = 3,
      cells = 16, nprobe = 4, m = 8, numCentroids = 16, refineIters = 4)
      .withColumn("score", round(col("score"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Manifest-stats data skipping ([[graft.sources.SnapshotManifest.readWhere]]):
    * orders are committed range-clustered by key with per-file min/max
    * stats in the manifest, then a narrow key range + price floor is
    * answered by scanning ONLY the files whose stat ranges admit a match
    * (ManifestStatsSpec proves the skip; at this fixture's 8 range-files a
    * 2000-wide key range reads ~1-2). The oracle runs the same filter +
    * aggregate over the raw fixture, so the gate covers the commit → stats
    * → prune → scan → re-filter path end to end: a single wrongly pruned
    * file shifts every aggregate.
    */
  def q113StatsPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q113").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus"))
    val pred = col("o_orderkey").between(500, 2500) && col("o_totalprice") > 1000.0
    ordersStatusAgg(graft.sources.SnapshotManifest.readWhere(spark, root, pred))
  }

  /** The survivors' aggregate q113 and q150 share — the two pruned-read
    * gates and their oracles must stay column-for-column identical, so
    * the shape lives in exactly one place.
    */
  private def ordersStatusAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
          .alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))

  /** Incremental IVF maintenance ([[graft.operators.Similarity.ivfAssignWith]]
    * — the batch core of [[graft.streaming.StreamingAnnIngest]]): centroids
    * are trained (sampled + 4 Lloyd passes) on the EVEN-id half of the
    * corpus only, the odd half is appended by frozen-centroid assignment,
    * and the union serves queries. The oracle replays centroid training on
    * the same half and assigns all — gating that append-without-rebuild
    * produces the exact index a from-scratch assignment against those
    * centroids would.
    */
  def q114IncrementalAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val appended = emb.filter(col("vec_id") % 2 === 1)
    val (assignedBase, centroids) =
      graft.operators.Similarity.ivfAssignCells(base, 16, refineIters = 4)
    val assignedNew = graft.operators.Similarity.ivfAssignWith(appended, centroids)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    graft.operators.Similarity.ivfTopKFromIndex(queries,
      assignedBase.unionByName(assignedNew), centroids, k = 3, nprobe = 4)
      .withColumn("cosine", round(col("cosine"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF drift monitor ([[graft.operators.Similarity.ivfCellStats]]) over
    * the incrementally-maintained index of q114: per-cell occupancy plus
    * `sum_vec_id`, a BIGINT witness of the EXACT cell membership (any
    * vector landing in a different cell shifts two cells' sums). The
    * float cohesion signal (sum_cos/mean_cos) stays in the operator for
    * monitoring callers and is tolerance-gated in ThresholdsSpec — a
    * double crossing into DECIMAL proved engine-dependent (r9), so no
    * float derivative belongs in a differential hash.
    */
  def q115IvfCellStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val appended = emb.filter(col("vec_id") % 2 === 1)
    val (assignedBase, centroids) =
      graft.operators.Similarity.ivfAssignCells(base, 16, refineIters = 4)
    val idx = assignedBase.unionByName(
      graft.operators.Similarity.ivfAssignWith(appended, centroids))
    // integer columns only — Catalyst prunes the cosine subtree entirely
    graft.operators.Similarity.ivfCellStats(idx, centroids)
      .select(col("cell_id"), col("n_vectors"), col("sum_vec_id"))
      .orderBy(col("cell_id"))
  }

  /** Incremental materialized rollup
    * ([[graft.operators.IncrementalRollup.refresh]]): an aggregate table
    * over a churning snapshot source (inserts + price updates + deletes
    * between versions) maintained by touched-group recompute off the
    * change feed — never a full rebuild. `max_price` is the non-algebraic
    * witness: a delete can shrink it, which no delta arithmetic can
    * produce. The oracle aggregates the final source state from scratch —
    * the hash match gates that incremental == full.
    */
  def q116IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q116").toString
    val (src, roll) = (s"$root/src", s"$root/rollup")
    // only the churn-relevant columns enter the snapshot table: at scale
    // the source is the curated fact table, not a full-width staging copy
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // v0 → v1 churn: %4==3 rows are inserts, %4==2 rows are deletes,
    // %4==1 rows double their price (updates)
    val v0 = base.filter(col("o_orderkey") % 4 =!= 3)
    val v1 = base.filter(col("o_orderkey") % 4 =!= 2)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 4 === 1, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
    val aggs = Seq(
      count(lit(1)).alias("n"),
      sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
      max(col("o_totalprice")).alias("max_price"))
    graft.sources.SnapshotManifest.commit(spark, src, v0)
    graft.operators.IncrementalRollup.refresh(spark, src, roll,
      Seq("o_orderkey"), Seq("o_orderstatus"), aggs)
    graft.sources.SnapshotManifest.commit(spark, src, v1)
    graft.operators.IncrementalRollup.refresh(spark, src, roll,
      Seq("o_orderkey"), Seq("o_orderstatus"), aggs)
    graft.operators.IncrementalRollup.read(spark, roll).orderBy(col("o_orderstatus"))
  }

  /** Additive rollup fast path
    * ([[graft.operators.IncrementalRollup.refreshAdditive]]): the same
    * churn as q116 absorbed as signed DECIMAL deltas off the change feed —
    * the source is never rescanned after the initial build. Same
    * from-scratch oracle shape: delta arithmetic must land on the exact
    * bits a full aggregation produces.
    */
  def q117AdditiveRollup(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q117").toString
    val (src, roll) = (s"$root/src", s"$root/rollup")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val v0 = base.filter(col("o_orderkey") % 4 =!= 3)
    val v1 = base.filter(col("o_orderkey") % 4 =!= 2)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 4 === 1, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
    graft.sources.SnapshotManifest.commit(spark, src, v0)
    graft.operators.IncrementalRollup.refreshAdditive(spark, src, roll,
      Seq("o_orderkey"), Seq("o_orderstatus"), Seq("o_totalprice"))
    graft.sources.SnapshotManifest.commit(spark, src, v1)
    graft.operators.IncrementalRollup.refreshAdditive(spark, src, roll,
      Seq("o_orderkey"), Seq("o_orderstatus"), Seq("o_totalprice"))
    graft.operators.IncrementalRollup.read(spark, roll).orderBy(col("o_orderstatus"))
  }

  /** Exact distinct-count rollup under churn
    * ([[graft.operators.IncrementalRollup.refresh]] with `countDistinct` —
    * the second non-algebraic witness after q116's max): deletes and
    * key-rewriting updates change per-group distinct counts in ways no
    * delta can express, so only touched-group recompute is correct. (The
    * mergeable approximate form is
    * [[graft.operators.IncrementalRollup.refreshDistinctSketch]] —
    * spec-gated, since DuckDB cannot replay DataSketches HLL bits.)
    */
  def q119DistinctRollup(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q119").toString
    val (src, roll) = (s"$root/src", s"$root/rollup")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
    // churn: %4==3 inserts, %4==2 deletes, %4==1 rewrites the DISTINCT key
    val v0 = base.filter(col("o_orderkey") % 4 =!= 3)
    val v1 = base.filter(col("o_orderkey") % 4 =!= 2)
      .withColumn("o_custkey",
        when(col("o_orderkey") % 4 === 1, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")))
    val aggs = Seq(
      countDistinct(col("o_custkey")).alias("n_cust"),
      count(lit(1)).alias("n"))
    graft.sources.SnapshotManifest.commit(spark, src, v0)
    graft.operators.IncrementalRollup.refresh(spark, src, roll,
      Seq("o_orderkey"), Seq("o_orderstatus"), aggs)
    graft.sources.SnapshotManifest.commit(spark, src, v1)
    graft.operators.IncrementalRollup.refresh(spark, src, roll,
      Seq("o_orderkey"), Seq("o_orderstatus"), aggs)
    graft.operators.IncrementalRollup.read(spark, roll).orderBy(col("o_orderstatus"))
  }

  /** Incremental IVF-PQ maintenance (the byte-code twin of q114 — the
    * batch core of [[graft.streaming.StreamingAnnIngest]]'s coded path):
    * centroids AND codebook train on the even-id half only; the odd half
    * appends by frozen-centroid assignment + frozen-codebook encoding; the
    * unioned coded cells serve ADC top-k. The oracle trains both replays
    * on the half corpus and encodes/serves everything — gating that the
    * append path's codes and scores are byte-identical to a from-scratch
    * encode against the same frozen artifacts.
    */
  def q120IncrementalIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val appended = emb.filter(col("vec_id") % 2 === 1)
    val (assignedBase, centroids) =
      graft.operators.Similarity.ivfAssignCells(base, 16, refineIters = 4)
    val cb = graft.operators.Similarity.pqCodebook(base, m = 8, k = 16, refineIters = 4)
    val coded = graft.operators.Similarity.pqEncodeCells(assignedBase, cb)
      .unionByName(graft.operators.Similarity.pqEncodeCells(
        graft.operators.Similarity.ivfAssignWith(appended, centroids), cb))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").alias("query_id"), col("embedding"))
    graft.operators.Similarity.ivfPqTopKFromIndex(queries, coded, centroids, cb,
      k = 3, nprobe = 4)
      .withColumn("score", round(col("score"), 8))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Fuzzy record linkage ([[graft.operators.FuzzyMatch.fuzzyDuplicates]]):
    * a deterministically-dirtied twin of the part-name table (every
    * `%5==2` name loses its 6th character) matched back against the clean
    * names — prefix+suffix blocking, canonical levenshtein similarity,
    * threshold 0.9. The oracle replays blocking, pairing, and scoring
    * verbatim; organically-similar part names that clear the threshold
    * count too, on both sides.
    */
  def q118FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    // the fixture's p_name pool is tiny (64 distinct values), so a
    // deterministic md5 tail gives every entity a distinguishable name —
    // the same engine-portable hash every dedup query uses
    val part = t(spark, dir, "part").filter(col("p_partkey") < 2000)
      .select(col("p_partkey"),
        concat(col("p_name"), lit(" "),
          substring(md5(col("p_partkey").cast("string")), 1, 8)).alias("name"))
    val clean = part.select(col("p_partkey").alias("id"), col("name"))
    val dirty = part.filter(col("p_partkey") % 5 === 2)
      .select((col("p_partkey") + 10000000L).alias("id"),
        concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100000))
          .alias("name"))
    // the oracle mirrors ONLY the prefix/suffix blocking keys; a canonical
    // name of <= 9 chars would also emit FuzzyMatch's deletion-neighborhood
    // keys and silently diverge the candidate sets — assert_true turns a
    // fixture drift into a loud query failure instead (in-plan, no extra job)
    val guarded = clean.unionByName(dirty).filter(assert_true(
      length(graft.operators.FuzzyMatch.canonicalName(col("name"))) > 9,
      lit("q118: canonical name <= 9 chars — oracle lacks deletion-neighborhood keys")
    ).isNull)
    graft.operators.FuzzyMatch.fuzzyDuplicates(guarded,
      "id", "name", threshold = 0.9, maxBlockSize = 100000)
      // similarity = 1 − lev/max(len): exact ints, one division, one
      // subtraction — a fixed IEEE DAG both engines replay bit-identically
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Copy-on-write DELETE ([[graft.sources.SnapshotManifest.deleteWhere]]):
    * a range-clustered snapshot table drops a key range by rewriting ONLY
    * the files whose stats admit a match (file reuse asserted in
    * SnapshotManifestSpec; vacuum reclaims the old bytes — the compliance
    * purge). The oracle aggregates the complement from the raw fixture:
    * any wrongly-kept or wrongly-deleted row shifts the counts.
    */
  def q121CowDelete(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q121").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.deleteWhere(spark, root,
      col("o_orderkey").between(1000, 2000), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Copy-on-write UPDATE ([[graft.sources.SnapshotManifest.updateWhere]]):
    * q121's twin — a key range gets its price discounted and status
    * rewritten in place, rewriting only the stats-affected files. SET
    * expressions evaluate on the pre-update row (SQL UPDATE); the oracle
    * applies the same CASE to the raw fixture.
    */
  def q122CowUpdate(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q122").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.updateWhere(spark, root,
      col("o_orderkey").between(1000, 2000),
      Map("o_totalprice" -> (col("o_totalprice") * 0.5),
        "o_orderstatus" -> lit("D")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** File-pruned copy-on-write MERGE ([[graft.operators.Upsert.mergeWhere]]):
    * the DML triad's third leg after q121 (DELETE) and q122 (UPDATE). A
    * range-clustered snapshot table absorbs a narrow-key staged batch —
    * price rewrites for an existing key range plus brand-new keys — by
    * rewriting ONLY the files whose stats admit a staged key (manifest-line
    * reuse asserted in UpsertSpec). The oracle replays ANSI MERGE on the
    * raw fixture as staged ∪ (target ANTI JOIN staged): matched rows take
    * staged values wholesale here (no PK drift — equality — and no
    * INSERT_TIMESTAMP column), so the two forms coincide.
    */
  def q123CowMerge(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q123").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    val staged = orders.filter(col("o_orderkey").between(1000, 1100))
      .select(col("o_orderkey"), lit("U").alias("o_orderstatus"),
        (col("o_totalprice") * 2).alias("o_totalprice"))
      .unionByName(orders.filter(col("o_orderkey").between(3000, 3050))
        .select((col("o_orderkey") + 10000000L).alias("o_orderkey"),
          lit("N").alias("o_orderstatus"), col("o_totalprice")))
    graft.operators.Upsert.mergeWhere(spark, root, staged,
      Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Approximate per-group quantile, ORACLE-GATED
    * ([[graft.operators.Thresholds.groupQuantileApprox]] — the declared
    * 100-TB path for continuous scores): `percentile_approx` is
    * sketch-based and not normally cross-engine comparable, but on a
    * bounded-cardinality score its rank error (≤ n/accuracy: ≤ 3 ranks at
    * sf0.1, accuracy 10000) cannot leave the exact quantile's histogram
    * bucket when that bucket is fat — here the rank ceil(0.65·n) sits ≥ 16
    * ranks from its bucket's edges for every group at sf0.001/0.01/0.1
    * (measured), so the sketch answer provably EQUALS the exact discrete
    * quantile and DuckDB replays it with plain histogram arithmetic. Same
    * one-aggregation shape as production; only the fixture is engineered.
    */
  def q124ApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "orders")
      .select(col("o_orderpriority"),
        pmod(col("o_orderkey"), lit(7)).cast("int").alias("score"))
    graft.operators.Thresholds.groupQuantileApprox(
        scored, "o_orderpriority", "score", 0.65, accuracy = 10000)
      .select(col("o_orderpriority"),
        col("threshold").cast("long").alias("threshold"), col("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Streaming upsert into a snapshot table
    * ([[graft.streaming.StreamingUpsert]]): a real AvailableNow stream
    * (file source, one file per trigger → three distinct micro-batches)
    * lands two disjoint-range update batches and one insert batch through
    * the file-pruned MERGE, then the FINAL table is aggregated. Batch
    * key ranges are disjoint, so the converged state is independent of
    * the file source's batch order; the oracle replays the net effect as
    * plain CASE arithmetic + UNION on the raw fixture. Duplicate
    * deliveries inside a batch resolve to the freshest `ts` row
    * (deterministic within-batch dedup).
    */
  def q125StreamingUpsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q125").toString
    val table = s"$root/table"
    graft.sources.SnapshotManifest.commit(spark, table,
      orders.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    // three staged batches, one parquet file each (disjoint key ranges)
    val stagedDir = s"$root/staged"
    def stage(df: DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(stagedDir)
    stage(orders.filter(col("o_orderkey").between(1000, 1100))
      .select(col("o_orderkey"), lit("U").alias("o_orderstatus"),
        (col("o_totalprice") * 2).alias("o_totalprice"), lit(1L).alias("ts")))
    stage(orders.filter(col("o_orderkey").between(2000, 2100))
      .select(col("o_orderkey"), lit("V").alias("o_orderstatus"),
        (col("o_totalprice") * 3).alias("o_totalprice"), lit(2L).alias("ts")))
    stage(orders.filter(col("o_orderkey").between(3000, 3050))
      .select((col("o_orderkey") + 10000000L).alias("o_orderkey"),
        lit("N").alias("o_orderstatus"), col("o_totalprice"),
        lit(3L).alias("ts")))
    val stagedSchema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
    graft.streaming.StreamingUpsert.runAvailableNow(spark, stream, table,
      Seq("o_orderkey"), "ts", s"$root/ckpt", statsCols = Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** OPTIMIZE ZORDER on a snapshot table
    * ([[graft.operators.Layout.optimizeSnapshot]]): a hash-scattered
    * commit is rewritten clustered on `(o_custkey, o_orderkey)` as a new
    * atomic version, then aggregated. The oracle is the raw fixture's
    * aggregate — any row lost, duplicated, or mutated by the z-order
    * range-shuffle rewrite shifts it. The pruning-improvement half of the
    * contract (a point query admits fewer files after) is spec-gated in
    * LayoutSpec, where file boxes are observable.
    */
  def q126ZorderOptimize(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q126").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.repartition(8, col("o_orderkey")), Seq("o_orderkey"))
    graft.operators.Layout.optimizeSnapshot(spark, root,
      Seq("o_custkey", "o_orderkey"), bits = 8, numFiles = 8)
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        sum(col("o_custkey").cast("decimal(30,6)")).cast("double").alias("sum_cust"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Keyset watermark probe THROUGH the DSv2 aggregate pushdown
    * ([[graft.sources.KeysetDataSource]], SupportsPushDownAggregates):
    * `MAX(sort key)` + `COUNT(*)` over the page fixture answer as one
    * partial row per page, re-aggregated by Spark — the source-side form
    * of the reference's delta-load watermark read. The oracle replays the
    * same aggregation over the raw JSON pages (strings stay strings —
    * lexicographic MAX is the ISO-8601 keyset contract on both engines).
    */
  def q127KeysetAggPushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-keyset")
      .option("path", "/root/repo/src/test/resources/json/pages").load()
      .agg(max(col("lastModifiedAt")).alias("watermark"),
        count(lit(1)).alias("n_rows"))

  /** Best-copy dedup selection ([[graft.operators.Dedup
    * .clusterRepresentatives]]): the planted-duplicate clusters of q53,
    * but the KEPT copy is the highest-scoring member (score = text
    * length; the planted twin carries a 14-char suffix, so it BEATS its
    * original — deliberately the opposite of the min-id convention,
    * proving the policy drives the choice). Singletons map to
    * themselves. The oracle replays the full chain: shingle → MinHash →
    * LSH bands → Jaccard verify → recursive-CTE components → per-cluster
    * argmax with the same (score desc, id asc) order.
    */
  def q128ClusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithPlantedDups(spark, dir)
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
      threshold = 0.7, bands = 4, rowsPerBand = 3)
    Dedup.clusterRepresentatives(
        docs.withColumn("score", length(col("text"))), pairs, "doc_id", "score")
      .filter(col("doc_id") =!= col("representative")) // the interesting rows
      .orderBy(col("doc_id"))
  }

  /** Merge-on-read DELETE ([[graft.sources.SnapshotManifest
    * .deleteWhereMoR]]): q121's deferred twin — the same range vanishes,
    * but via a deletion-vector sidecar with ZERO data-file rewrites
    * (byte sharing asserted in DeletionVectorSpec); the aggregate runs on
    * the DV-applied read path, so any row the anti-join fails to remove
    * (or wrongly removes) shifts the oracle's complement counts.
    */
  def q129MorDelete(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q129").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.deleteWhereMoR(spark, root,
      col("o_orderkey").between(4000, 5000))
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Merge-on-read UPDATE ([[graft.sources.SnapshotManifest
    * .updateWhereMoR]]): q122's deferred twin — positions masked by a
    * deletion vector, post-images appended, no data-file rewrite. The
    * aggregate runs on the DV-applied read (mask + append both in the
    * path); the oracle applies the same CASE to the raw fixture.
    */
  def q130MorUpdate(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q130").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.updateWhereMoR(spark, root,
      col("o_orderkey").between(4000, 5000),
      Map("o_totalprice" -> (col("o_totalprice") * 0.25),
        "o_orderstatus" -> lit("M")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Merge-on-read MERGE ([[graft.operators.Upsert.mergeWhereMoR]]):
    * q123's deferred twin — matched rows masked by deletion vector, merge
    * output appended, zero data-file rewrites (byte sharing asserted in
    * DeletionVectorSpec). Same oracle form as q123: MERGE ≡ staged ∪
    * (target ANTI JOIN staged) on this column set.
    */
  def q131MorMerge(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q131").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    val staged = orders.filter(col("o_orderkey").between(6000, 6100))
      .select(col("o_orderkey"), lit("R").alias("o_orderstatus"),
        (col("o_totalprice") * 3).alias("o_totalprice"))
      .unionByName(orders.filter(col("o_orderkey").between(7000, 7050))
        .select((col("o_orderkey") + 20000000L).alias("o_orderkey"),
          lit("S").alias("o_orderstatus"), col("o_totalprice")))
    graft.operators.Upsert.mergeWhereMoR(spark, root, staged,
      Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Table-lifecycle capstone: the full maintenance story on ONE table,
    * end to end — bootstrap → file-pruned CoW MERGE → merge-on-read
    * UPDATE → merge-on-read DELETE (the GDPR purge shape) → foldDeletes
    * (materialize) → OPTIMIZE ZORDER → vacuum(keep=1) → aggregate. Every
    * verb is individually oracle-gated (q123/q129/q130/q126); this row
    * gates their COMPOSITION — any interaction bug between masking,
    * folding, re-clustering, and reclamation shifts the net-effect
    * aggregate the oracle computes in plain SQL.
    */
  def q132TableLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q132").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice")).repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    // 1. CoW MERGE: price rewrite for one range + new keys
    val staged = orders.filter(col("o_orderkey").between(1000, 1100))
      .select(col("o_orderkey"), col("o_custkey"), lit("U").alias("o_orderstatus"),
        (col("o_totalprice") * 2).alias("o_totalprice"))
      .unionByName(orders.filter(col("o_orderkey").between(3000, 3050))
        .select((col("o_orderkey") + 10000000L).alias("o_orderkey"),
          col("o_custkey"), lit("N").alias("o_orderstatus"), col("o_totalprice")))
    graft.operators.Upsert.mergeWhere(spark, root, staged,
      Seq("o_orderkey"), Seq("o_orderkey"))
    // 2. MoR UPDATE on another range
    graft.sources.SnapshotManifest.updateWhereMoR(spark, root,
      col("o_orderkey").between(2000, 2100),
      Map("o_totalprice" -> (col("o_totalprice") * 0.5)), Seq("o_orderkey"))
    // 3. MoR DELETE (purge a customer-key band), then materialize + reclaim
    graft.sources.SnapshotManifest.deleteWhereMoR(spark, root,
      col("o_custkey").between(100, 200))
    graft.sources.SnapshotManifest.foldDeletes(spark, root)
    graft.operators.Layout.optimizeSnapshot(spark, root,
      Seq("o_custkey", "o_orderkey"), bits = 8, numFiles = 8)
    graft.sources.SnapshotManifest.vacuum(spark, root, keep = 1)
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        sum(col("o_custkey").cast("decimal(30,6)")).cast("double").alias("sum_cust"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Keep-best dedup as a CURATION step ([[graft.operators.Dedup
    * .keepBestPerCluster]]): the planted-dup corpus is deduplicated
    * keeping each cluster's LONGEST copy (so the suffixed twins win over
    * their originals), then the survivors aggregate per language — the
    * one-call form of FineWeb's "drop duplicates, keep the best copy".
    * q128 gates the representative MAPPING; this row gates the survivor
    * FILTER and its composition with the corpus columns.
    */
  def q133KeepBestCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithPlantedDups(spark, dir)
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
      threshold = 0.7, bands = 4, rowsPerBand = 3)
    graft.operators.Dedup.keepBestPerCluster(
        docs.withColumn("score", length(col("text"))), pairs, "doc_id", "score")
      .groupBy(col("lang"))
      .agg(count(lit(1)).alias("n_kept"),
        sum(col("score")).alias("sum_len"))
      .orderBy(col("lang"))
  }

  /** Metadata-only schema evolution
    * ([[graft.sources.SnapshotManifest.addColumns]]), oracle-gated as a
    * composition: bootstrap a snapshot table from orders, DECLARE a new
    * `o_tier` column (one atomic manifest publish — zero data files
    * touched), populate it for a key slice via the file-pruned MERGE
    * (doubling those rows' prices so the merge itself is visible), MoR-
    * delete a band (proving the recorded schema survives every content
    * verb), then report per status: row count, tier fill counts, exact
    * price sum. The oracle replays the final state from the raw fixture —
    * any row whose tier/price/survival diverges shifts a count or the
    * decimal sum.
    */
  def q134SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q134").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("o_tier",
        org.apache.spark.sql.types.StringType, nullable = true)))
    // staged batch carries the NEW column: tier for every key ≡ 3 (mod 10),
    // price doubled (×2 is exact in binary — differential-safe)
    val staged = orders.filter(col("o_orderkey") % 10 === 3)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * 2).alias("o_totalprice"),
        when(col("o_totalprice") >= 100000.0, lit("high")).otherwise(lit("std"))
          .alias("o_tier"))
    graft.operators.Upsert.mergeWhere(spark, root, staged,
      Seq("o_orderkey"), Seq("o_orderkey"))
    // a content verb AFTER the widening: the recorded schema must survive
    graft.sources.SnapshotManifest.deleteWhereMoR(spark, root,
      col("o_orderkey").between(500, 999))
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(when(col("o_tier").isNotNull, 1L).otherwise(0L)).alias("n_tiered"),
        sum(when(col("o_tier") === "high", 1L).otherwise(0L)).alias("n_high"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** RESTORE TO VERSION ([[graft.sources.SnapshotManifest.restoreVersion]])
    * as an oracle-gated composition: bootstrap from orders, run a bad DML
    * sequence (MoR delete + CoW update + file-pruned merge), then RESTORE
    * the bootstrap version — one metadata-only publish — and report the
    * table. The oracle is the RAW fixture aggregate: any row the restore
    * failed to resurrect, any clobbered value it failed to revert, and any
    * merge insert it failed to drop shifts a count or the exact sum.
    */
  def q135Restore(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q135").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    // the bad sequence a production operator would want undone
    graft.sources.SnapshotManifest.deleteWhereMoR(spark, root,
      col("o_orderkey").between(100, 900))
    graft.sources.SnapshotManifest.updateWhere(spark, root,
      col("o_orderkey") % 7 === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 0.0)), Seq("o_orderkey"))
    graft.operators.Upsert.mergeWhere(spark, root,
      orders.filter(col("o_orderkey") < 50)
        .select((col("o_orderkey") + 20000000L).alias("o_orderkey"),
          lit("Z").alias("o_orderstatus"), col("o_totalprice")),
      Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.restoreVersion(spark, root, 0L)
    graft.sources.SnapshotManifest.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Materialized change-data feed ([[graft.sources.ChangeFeed]]),
    * oracle-gated end to end: bootstrap a snapshot table from orders, run
    * a three-commit DML sequence (exact ×2 price update, band delete,
    * out-of-range insert merge), materialize the per-commit feed, and
    * aggregate the FEED itself by commit and change kind. The oracle
    * replays each commit's churn from the raw fixture — a missing image,
    * a leaked unchanged row, or a wrong pre/post value shifts a count or
    * an exact sum. (×2 is exact in binary, so pre/post prices stay
    * differential-safe doubles.)
    */
  def q136ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q136").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.updateWhere(spark, root,
      col("o_orderkey") % 7 === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 2)), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.deleteWhere(spark, root,
      col("o_orderkey").between(100, 499), Seq("o_orderkey"))
    graft.operators.Upsert.mergeWhere(spark, root,
      orders.filter(col("o_orderkey") < 50)
        .select((col("o_orderkey") + 30000000L).alias("o_orderkey"),
          lit("Z").alias("o_orderstatus"), col("o_totalprice")),
      Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.ChangeFeed.materializeNew(spark, root, Seq("o_orderkey"))
    graft.sources.ChangeFeed.feed(spark, root)
      .groupBy(col("_commit_version").alias("commit_version"),
        col("_change").alias("change"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"))
      .orderBy(col("commit_version"), col("change"))
  }

  /** Shallow clone ([[graft.sources.SnapshotManifest.cloneTable]]),
    * oracle-gated as an ISOLATION proof: bootstrap a source table from
    * orders, clone it (metadata-only), run a DML sequence on the CLONE
    * (×2 update on a key slice, band delete, tagged insert merge), then
    * report both sides labeled. The 'src' rows gate that the source still
    * matches the raw fixture (clone writes leaked nothing); the 'clone'
    * rows gate that the clone's divergence — computed over the SHARED
    * source bytes — replays exactly.
    */
  def q137Clone(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val src = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q137s").toString
    val dst = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q137d").toString
    graft.sources.SnapshotManifest.commit(spark, src,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.cloneTable(spark, src, dst)
    graft.sources.SnapshotManifest.updateWhere(spark, dst,
      col("o_orderkey") % 5 === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 2)), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.deleteWhere(spark, dst,
      col("o_orderkey").between(1000, 1999), Seq("o_orderkey"))
    graft.operators.Upsert.mergeWhere(spark, dst,
      orders.filter(col("o_orderkey") < 40)
        .select((col("o_orderkey") + 40000000L).alias("o_orderkey"),
          lit("Z").alias("o_orderstatus"), col("o_totalprice")),
      Seq("o_orderkey"), Seq("o_orderkey"))
    def agg(df: DataFrame, side: String) = df
      .groupBy(lit(side).alias("side"), col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"))
    agg(graft.sources.SnapshotManifest.read(spark, src), "src")
      .unionByName(agg(graft.sources.SnapshotManifest.read(spark, dst), "clone"))
      .orderBy(col("side"), col("o_orderstatus"))
  }

  /** Bloom-indexed point lookup ([[graft.sources.SnapshotManifest]]'s
    * `bloomCols` table property): commit orders HASH-partitioned on the
    * key — the layout where every file's min/max range spans the whole
    * key space, so stats prune nothing and only the parquet-native bloom
    * filters discriminate at the row-group level — then look up a fixed
    * key set through [[graft.sources.SnapshotManifest.readWhere]]. The
    * oracle is the same lookup on the raw fixture: blooms must never
    * change results (no false negatives), only skip row groups.
    * BloomFilterSpec pins the index mechanics (written, discriminating,
    * surviving every rewrite verb).
    */
  def q138BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q138").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(8, col("o_orderkey")),
      Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.readWhere(spark, root,
      col("o_orderkey").isin(1L, 7L, 32L, 33L, 1000L, 4999L, 12345L, 29989L))
      .orderBy(col("o_orderkey"))
  }

  /** O(manifest) metadata aggregates
    * ([[graft.sources.SnapshotManifest.countRows]]/[[graft.sources
    * .SnapshotManifest.minMax]]): COUNT(*)/MIN/MAX answered from the
    * per-file stats the manifest records — no file listed or read for
    * stats-complete DV-free files; a CoW delete keeps the fold exact via
    * rewritten-file stats, and a MoR delete forces a scan of just the
    * DV'd files. The oracle replays the post-DML table from the raw
    * fixture; any miscounted mask or stale bound shifts the row.
    * MetadataAggSpec proves the metadata-only path by answering after
    * the data files are physically destroyed.
    */
  def q139MetadataAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q139").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.deleteWhere(spark, root,
      col("o_orderkey") < 500, Seq("o_orderkey"))
    graft.sources.SnapshotManifest.deleteWhereMoR(spark, root,
      col("o_orderkey") % 10 === 0)
    val n = graft.sources.SnapshotManifest.countRows(spark, root)
    val (mn, mx) = graft.sources.SnapshotManifest.minMax(spark, root, "o_orderkey")
    Seq((n, mn.get.asInstanceOf[BigDecimal].toLong,
      mx.get.asInstanceOf[BigDecimal].toLong))
      .toDF("n", "min_key", "max_key")
  }

  /** Feed-driven table replication ([[graft.sources.ChangeFeed
    * .replicateAvailableNow]]): bootstrap a source from orders, run a
    * three-commit DML sequence, materialize the feed, zero-copy-clone the
    * replica at the feed's start version, then stream the feed into it
    * (last-state-per-key collapse → one file-pruned MERGE + one keyed
    * anti-join DELETE per batch). Output is both sides labeled; the
    * oracle replays the final state once and expects it twice — a
    * replica that missed a delete, doubled an insert, or applied images
    * out of order diverges from its own source.
    */
  def q140Replication(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val src = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q140s").toString
    val dst = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q140d").toString
    graft.sources.SnapshotManifest.commit(spark, src,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.updateWhere(spark, src,
      col("o_orderkey") % 7 === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 2)), Seq("o_orderkey"))
    graft.sources.SnapshotManifest.deleteWhere(spark, src,
      col("o_orderkey").between(200, 599), Seq("o_orderkey"))
    graft.operators.Upsert.mergeWhere(spark, src,
      orders.filter(col("o_orderkey") < 30)
        .select((col("o_orderkey") + 50000000L).alias("o_orderkey"),
          lit("Z").alias("o_orderstatus"), col("o_totalprice")),
      Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.ChangeFeed.materializeNew(spark, src, Seq("o_orderkey"))
    graft.sources.SnapshotManifest.cloneTable(spark, src, dst, version = Some(0L))
    val replica = graft.sources.ChangeFeed.replicateAvailableNow(spark, src, dst,
      Seq("o_orderkey"),
      java.nio.file.Files.createTempDirectory(serveIdxRoot, "q140c").toString,
      statsCols = Seq("o_orderkey"), fromVersion = Some(0L))
    def agg(df: DataFrame, side: String) = df
      .groupBy(lit(side).alias("side"), col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"))
    agg(replica, "replica")
      .unionByName(agg(graft.sources.SnapshotManifest.read(spark, src), "src"))
      .orderBy(col("side"), col("o_orderstatus"))
  }

  /** Declared-PK + auto-materialized change feed
    * ([[graft.sources.SnapshotManifest.setPrimaryKey]] +
    * `graft.cdf.auto`): bootstrap orders, declare the key ONCE, switch
    * auto-materialization on, run a three-verb DML sequence with NO
    * explicit feed call anywhere — every commit boundary self-covers at
    * publish time — then aggregate the validated feed. The oracle
    * replays each commit's churn; a missed boundary fails the
    * coverage-validated read outright, a wrong image shifts a sum.
    */
  def q141AutoCdf(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q141").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    graft.sources.SnapshotManifest.setPrimaryKey(spark, root, Seq("o_orderkey"))
    spark.conf.set("graft.cdf.auto", "true")
    try {
      graft.sources.SnapshotManifest.updateWhere(spark, root,
        col("o_orderkey") % 9 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 2)), Seq("o_orderkey"))
      graft.sources.SnapshotManifest.deleteWhere(spark, root,
        col("o_orderkey").between(300, 699), Seq("o_orderkey"))
      graft.operators.Upsert.mergeWhere(spark, root,
        orders.filter(col("o_orderkey") < 25)
          .select((col("o_orderkey") + 60000000L).alias("o_orderkey"),
            lit("Z").alias("o_orderstatus"), col("o_totalprice")),
        Seq("o_orderkey"), Seq("o_orderkey"))
    } finally spark.conf.unset("graft.cdf.auto")
    graft.sources.ChangeFeed.feed(spark, root, sinceVersion = Some(1L))
      .groupBy(col("_commit_version").alias("commit_version"),
        col("_change").alias("change"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"))
      .orderBy(col("commit_version"), col("change"))
  }

  /** ANALYZE retrofit ([[graft.sources.SnapshotManifest.analyzeTable]]):
    * bootstrap orders STATS-LESS (zero pruning power), run one
    * metadata-only ANALYZE — no data file touched — then answer count
    * and bounds through the metadata aggregates. The oracle replays the
    * plain aggregates; a stats row that misdescribes its file shifts a
    * bound or the count. The min/max prices are raw stored doubles
    * (selection, not arithmetic — differential-safe).
    */
  def q142Analyze(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q142").toString
    graft.sources.SnapshotManifest.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")))
    graft.sources.SnapshotManifest.analyzeTable(spark, root,
      Seq("o_orderkey", "o_totalprice"))
    val n = graft.sources.SnapshotManifest.countRows(spark, root)
    val (mnK, mxK) = graft.sources.SnapshotManifest.minMax(spark, root, "o_orderkey")
    val (mnP, mxP) = graft.sources.SnapshotManifest.minMax(spark, root, "o_totalprice")
    def asL(v: Option[Any]) = v.get.asInstanceOf[BigDecimal].toLong
    def asD(v: Option[Any]) = v.get.asInstanceOf[BigDecimal].toDouble
    Seq((n, asL(mnK), asL(mxK), asD(mnP), asD(mxP)))
      .toDF("n", "min_key", "max_key", "min_price", "max_price")
  }

  /** Delta-manifest chain read ([[graft.sources.SnapshotManifest]] under a
    * checkpoint cadence): bootstrap an 8-file range-clustered table from
    * orders at `graft.manifest.checkpointInterval = 4`, run five
    * narrow-band commits whose churn is file-pruned — versions 1-3 and 5
    * publish churn-sized DELTA manifests, version 4 is the full
    * checkpoint — then report TWO reads: `asof` = version 3, resolving
    * through the three-delta chain back to the v0 full manifest, and
    * `head` = the current version, resolving through the v4 checkpoint.
    * The oracle replays both states from the raw fixture — a mis-applied
    * delta op (a dropped remove, a stale line surviving a replace) shifts
    * a count, a key bound, or the exact price sum of a labeled phase —
    * and the constant `n_delta` witness pins that the cadence actually
    * wrote 4 delta manifests (always-full rendering would pass the
    * content compare vacuously).
    */
  def q143DeltaManifest(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q143").toString
    val S = graft.sources.SnapshotManifest
    val prev = spark.conf.getOption("graft.manifest.checkpointInterval")
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    try {
      S.commit(spark, root,
        orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")),
        Seq("o_orderkey"))
      S.updateWhere(spark, root, col("o_orderkey").between(1, 399),
        Map("o_totalprice" -> (col("o_totalprice") * 2)), Seq("o_orderkey"))
      S.deleteWhere(spark, root, col("o_orderkey").between(400, 799),
        Seq("o_orderkey"))
      S.deleteWhereMoR(spark, root, col("o_orderkey").between(800, 1199))
      graft.operators.Upsert.mergeWhere(spark, root,
        orders.filter(col("o_orderkey") < 32)
          .select((col("o_orderkey") + 50000000L).alias("o_orderkey"),
            lit("D").alias("o_orderstatus"), col("o_totalprice")),
        Seq("o_orderkey"), Seq("o_orderkey"))
      S.updateWhere(spark, root, col("o_orderkey").between(1200, 1599),
        Map("o_totalprice" -> (col("o_totalprice") * 2)), Seq("o_orderkey"))
      val nDelta = (1L to 5L).count(v => S.manifestIsDelta(spark, root, v))
      def phaseAgg(df: DataFrame, phase: String): DataFrame = df
        .groupBy(lit(phase).alias("phase"), col("o_orderstatus"))
        .agg(count(lit(1)).alias("n"),
          sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
            .alias("sum_price"),
          min(col("o_orderkey")).alias("min_key"),
          max(col("o_orderkey")).alias("max_key"))
      phaseAgg(S.readVersion(spark, root, 3L), "asof")
        .unionByName(phaseAgg(S.read(spark, root), "head"))
        .withColumn("n_delta", lit(nDelta.toLong))
        .orderBy(col("phase"), col("o_orderstatus"))
    } finally prev match {
      case Some(v) => spark.conf.set("graft.manifest.checkpointInterval", v)
      case None => spark.conf.unset("graft.manifest.checkpointInterval")
    }
  }

  /** Declared partition columns ([[graft.sources.SnapshotManifest
    * .setPartitionColumns]]) + METADATA-ONLY partition DELETE: the table
    * commits partitioned by `o_orderstatus` (every data file single-valued
    * in it, recorded as min==max manifest stats), then `DELETE WHERE
    * o_orderstatus = 'P'` drops the P-files' manifest lines with ZERO data
    * I/O — Delta's "drop partition", constant cost at any table size. The
    * metadata-only property is REQUIRED in-query (no staging dir may
    * appear — a silent fallback to rewrite is a build break, not a perf
    * note); the oracle aggregates the complement from the raw fixture, so
    * any wrongly-dropped or wrongly-kept file shifts the integer counts.
    */
  def q144PartitionedDelete(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q144").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
      Seq("o_orderkey"), Nil, Seq("o_orderstatus"))
    def dataDirCount: Int = {
      val p = new org.apache.hadoop.fs.Path(root, "data")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(_.isDirectory)
    }
    val before = dataDirCount
    S.deleteWhere(spark, root, col("o_orderstatus") === "P", Seq("o_orderkey"))
    require(dataDirCount == before,
      "q144: partition delete wrote data — the metadata-only path regressed")
    S.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_custkey")).alias("sum_cust"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Multi-writer APPEND ([[graft.sources.SnapshotManifest.appendRows]] /
    * `appendRowsWithRetry`): two appends land on a committed base without
    * reading or rewriting a byte of it — existing manifest lines carry
    * verbatim, cost is O(new rows) at any table size, and the retry form
    * rebases a lost race by re-publishing the same staged files. The
    * middle slice appends with a shifted `o_custkey` so a dropped,
    * doubled, or mis-sliced append shifts the oracle's integer sums;
    * the version arithmetic (exactly one commit per append) is REQUIRED
    * in-query.
    */
  def q145AppendRows(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q145").toString
    val S = graft.sources.SnapshotManifest
    val base = orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    S.commit(spark, root, base.filter(col("o_orderkey") <= 10000),
      Seq("o_orderkey"))
    S.appendRows(spark, root,
      base.filter(col("o_orderkey") > 10000 && col("o_orderkey") <= 20000)
        .withColumn("o_custkey", col("o_custkey") + 1000000L),
      Seq("o_orderkey"))
    S.appendRowsWithRetry(spark, root,
      base.filter(col("o_orderkey") > 20000), Seq("o_orderkey"))
    require(S.currentVersion(spark, root).contains(2L),
      "q145: each append must publish exactly one version")
    S.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_custkey")).alias("sum_cust"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Compliance purge propagated through replication — the "forget these
    * keys EVERYWHERE" lifecycle as ONE composition over the engine's own
    * verbs: churn a replicated source, sync the replica off the
    * materialized change feed, PURGE a customer class at the source
    * ([[graft.sources.SnapshotManifest.deleteWhere]] — the CoW compliance
    * delete), let the purge ride the feed to the replica, then reclaim
    * history (`vacuum`) and consumed feed ranges (`vacuumFeed`) so the
    * purged bytes are GONE, not merely superseded. In-query REQUIREs make
    * the compliance contract build-breaking, not just wrong-numbered: the
    * replica holds ZERO purged keys, replica ≡ source exactly
    * (both-direction EXCEPT empty), and post-vacuum the source retains a
    * single version. The gated output is the per-status survivor report
    * from BOTH sides.
    *
    * Scale shape: every step is churn-proportional (feed batches land as
    * one file-pruned MERGE + one keyed anti-join DELETE; the purge
    * rewrites only stats-admitted files; vacuum is manifest-driven
    * reachability) — the composition would run at 100 TB with the same
    * plans.
    */
  def q146PurgePropagation(spark: SparkSession, dir: String): DataFrame = {
    val S = graft.sources.SnapshotManifest
    val orders = t(spark, dir, "orders")
    val src = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q146s").toString
    val dst = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q146d").toString
    val ckpt = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q146c").toString
    S.commit(spark, src,
      orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey", "o_custkey"))
    // churn before the first sync: one price-tripling update commit
    S.updateWhere(spark, src, col("o_orderkey") % 11 === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 3)),
      Seq("o_orderkey", "o_custkey"))
    graft.sources.ChangeFeed.materializeNew(spark, src, Seq("o_orderkey"))
    S.cloneTable(spark, src, dst, version = Some(0L))
    graft.sources.ChangeFeed.replicateAvailableNow(spark, src, dst,
      Seq("o_orderkey"), ckpt, statsCols = Seq("o_orderkey", "o_custkey"),
      fromVersion = Some(0L))
    // THE PURGE: forget every customer in the class, at the source
    S.deleteWhere(spark, src, col("o_custkey") % 13 === 0,
      Seq("o_orderkey", "o_custkey"))
    graft.sources.ChangeFeed.materializeNew(spark, src, Seq("o_orderkey"))
    // second sync continues from the recorded consumed watermark
    val replica = graft.sources.ChangeFeed.replicateAvailableNow(spark, src,
      dst, Seq("o_orderkey"), ckpt,
      statsCols = Seq("o_orderkey", "o_custkey"))
    // compliance contract, build-breaking:
    require(replica.filter(col("o_custkey") % 13 === 0).isEmpty,
      "q146: replica retains purged keys — the purge did not propagate")
    val srcNow = S.read(spark, src)
    // multiset equality in ONE job: signed union + group-by-all-columns,
    // any nonzero net count = divergence. Replaces the two exceptAll
    // probes (two full shuffles + two actions) with one shuffle + one
    // action; same predicate (exceptAll both ways empty ⟺ equal as bags).
    val allCols = replica.columns.toSeq.map(c => col(s"`$c`"))
    require(replica.select(allCols :+ lit(1L).alias("__sgn"): _*)
        .unionByName(srcNow.select(allCols :+ lit(-1L).alias("__sgn"): _*))
        .groupBy(replica.columns.map(c => col(s"`$c`")): _*)
        .agg(sum(col("__sgn")).alias("__net"))
        .filter(col("__net") =!= 0L).isEmpty,
      "q146: replica diverged from source after purge propagation")
    // make the purge durable at the source: one retained version, and the
    // consumed feed ranges are reclaimed
    S.vacuum(spark, src, keep = 1)
    require(S.listVersions(spark, src).size == 1,
      "q146: vacuum must leave exactly the purged snapshot")
    graft.sources.ChangeFeed.vacuumFeed(spark, src,
      S.currentVersion(spark, src).get)
    require(S.read(spark, src).filter(col("o_custkey") % 13 === 0).isEmpty,
      "q146: purged keys resurfaced after vacuum")
    def side(df: DataFrame, s: String) = df
      .groupBy(lit(s).alias("side"), col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
          .alias("sum_price"))
    side(replica, "replica").unionByName(side(S.read(spark, src), "src"))
      .orderBy(col("side"), col("o_orderstatus"))
  }

  /** Idempotent batch appends ([[graft.sources.SnapshotManifest
    * .appendRowsIdempotent]] — Delta's txnAppId/txnVersion for the batch
    * re-run case): the middle slice is appended TWICE under the same
    * `(appId, txnVersion)` — orchestrator retry after a driver death —
    * and must land ONCE; a duplicate landing doubles the middle slice's
    * counts and shifts every sum (the oracle is the single-copy
    * reassembly). In-query REQUIREs pin the mechanism, not just the
    * numbers: the replay commits NOTHING (version unchanged), the next
    * txnVersion advances, and the recorded high-mark reads back.
    */
  def q147IdempotentAppend(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q147").toString
    val S = graft.sources.SnapshotManifest
    val base = orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    S.commit(spark, root, base.filter(col("o_orderkey") <= 10000),
      Seq("o_orderkey"))
    val mid = base
      .filter(col("o_orderkey") > 10000 && col("o_orderkey") <= 20000)
    val v1 = S.appendRowsIdempotent(spark, root, mid, "q147_load", 1L,
      Seq("o_orderkey"))
    // the driver died after the commit; the orchestrator re-runs batch 1
    val v1b = S.appendRowsIdempotent(spark, root, mid, "q147_load", 1L,
      Seq("o_orderkey"))
    require(v1 == 1L && v1b == 1L,
      "q147: the replayed batch must commit nothing")
    val v2 = S.appendRowsIdempotent(spark, root,
      base.filter(col("o_orderkey") > 20000), "q147_load", 2L,
      Seq("o_orderkey"))
    require(v2 == 2L, "q147: the NEXT txnVersion must land as one version")
    require(S.txnVersion(spark, root, "q147_load").contains(2L),
      "q147: recorded txn high-mark must read back")
    S.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_custkey")).alias("sum_cust"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Small-file compaction ([[graft.sources.SnapshotManifest
    * .compactSmallFiles]]) — the nightly maintenance shape at 100 TB:
    * only the micro-batch ingest TAIL rewrites; the healthy bulk's
    * manifest lines carry byte-for-byte. In-query REQUIREs pin the
    * mechanism: the bulk file's line survives VERBATIM (a full-table
    * rewrite is a build break), the tail's file count collapses, and a
    * second pass is a committed-nothing no-op. Gated output: the
    * reassembled per-status report — a dropped or doubled tail batch
    * shifts the sums.
    */
  def q148SmallFileCompaction(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q148").toString
    val S = graft.sources.SnapshotManifest
    val base = orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    // the healthy bulk (every even key — one well-sized file) vs four
    // straggler tail appends (odd residues mod 8): scale-independent
    // slicing, each tail ~¼ of the bulk's rows so the size cut is sharp
    S.commit(spark, root,
      base.filter(col("o_orderkey") % 2 === 0).repartition(1), Seq("o_orderkey"))
    Seq(1L, 3L, 5L, 7L).foreach { r =>
      S.appendRows(spark, root,
        base.filter(col("o_orderkey") % 8 === r).repartition(1), Seq("o_orderkey"))
    }
    val before = S.manifestBody(spark, root, 4L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = before.map(l =>
      l -> fs.getFileStatus(new org.apache.hadoop.fs.Path(S.bodyFile(root, l))).getLen)
    val bulkLine = sizes.maxBy(_._2)._1
    val cut = sizes.map(_._2).max // tail files are all strictly smaller
    val v = S.compactSmallFiles(spark, root, smallBytes = cut,
      targetBytes = 512L * 1024 * 1024)
    require(v.contains(5L), "q148: the tail compaction must land as one version")
    val after = S.manifestBody(spark, root, 5L)
    require(after.contains(bulkLine),
      "q148: the healthy bulk was rewritten — small-file compaction must not touch it")
    require(after.size == 2,
      s"q148: expected bulk + one compacted tail file, got ${after.size}")
    require(S.compactSmallFiles(spark, root, smallBytes = cut).isEmpty,
      "q148: a re-run with nothing to do must commit nothing")
    S.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_custkey")).alias("sum_cust"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Batched BPE training at the production shape
    * ([[graft.operators.Bpe.trainMergesBatched]]): 64 merges accepted in
    * rank-prefix-disjoint batches of ≤8 — ONE pair-count job per batch
    * instead of per merge, the ~k/maxBatch job count that makes a 32k
    * vocabulary trainable (q106 gates the per-merge trainer at k=3; this
    * gates the batch selection itself at depth). The oracle replays the
    * selection exactly: rank `(cnt desc, pair asc)`, accept the longest
    * prefix of candidates whose symbols are mutually disjoint (cut at the
    * first conflict), apply the whole batch (padded literal replaces —
    * commuting because disjoint), repeat. Gated output: the full 64-row
    * merge table — a wrong cut point, a non-commuting apply, or rank
    * drift ANYWHERE in the 64 merges shifts it.
    */
  def q149BpeBatched(spark: SparkSession, dir: String): DataFrame = {
    val wf = graft.operators.Bpe.wordFreq(t(spark, dir, "documents"), "text")
    val (merges, _) =
      graft.operators.Bpe.trainMergesBatched(wf, k = 64, maxBatch = 8)
    spark.createDataFrame(merges).toDF("rank", "pair", "cnt")
      .orderBy(col("rank"))
  }

  /** Distributed pruned read through the PARQUET CHECKPOINT TWIN: the
    * twin floor is dropped so the boundary commit writes `_ckpt/v0`, a
    * CoW delete stacks a churn-sized delta tail on it, and the
    * stats-pruned read resolves checkpoint-frame + tail edits ON
    * EXECUTORS ([[graft.sources.SnapshotManifest.bodyLinesFrame]]).
    * In-query REQUIREs pin the mechanism — the twin exists, the gated
    * read actually took the distributed path, and the driver parsed no
    * manifest body. Gated output: the survivors' aggregate — a wrong
    * tail composition, a resurrected deleted file, or a wrongly pruned
    * file shifts it.
    */
  def q150CkptPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q150").toString
    val S = graft.sources.SnapshotManifest
    val prevI = spark.conf.getOption("graft.manifest.checkpointInterval")
    val prevF = spark.conf.getOption("graft.manifest.parquetCheckpointMinLines")
    spark.conf.set("graft.manifest.checkpointInterval", "2")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "1")
    try {
      val statsCols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      S.commit(spark, root,
        orders.select(statsCols.map(col): _*)
          .repartitionByRange(8, col("o_orderkey")), statsCols)
      S.deleteWhere(spark, root,
        col("o_orderkey").between(1000L, 1999L), statsCols)
      val twin = new org.apache.hadoop.fs.Path(root, "_ckpt/v00000000")
      require(twin.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(twin), "q150: the boundary commit must write the parquet twin")
      val framePrunes = S.ckptFramePrunes.get()
      S.manifestReadCount.set(0L)
      val out = ordersStatusAgg(S.readWhere(spark, root,
        col("o_orderkey").between(500L, 2500L)))
      require(S.ckptFramePrunes.get() > framePrunes,
        "q150: the read must resolve through the distributed checkpoint frame")
      require(S.manifestReadCount.get() == 0L,
        "q150: the driver must not materialize the body for the pruned read")
      out
    } finally {
      prevI match {
        case Some(v) => spark.conf.set("graft.manifest.checkpointInterval", v)
        case None => spark.conf.unset("graft.manifest.checkpointInterval")
      }
      prevF match {
        case Some(v) => spark.conf.set("graft.manifest.parquetCheckpointMinLines", v)
        case None => spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
      }
    }
  }

  /** Churn-bounded WRITE path gated end-to-end (q154 — the write-side twin
    * of q150's read gate): on a twin-anchored table every off-boundary
    * commit verb — append, idempotent append (and its exactly-once
    * replay), CoW delete, keyed MERGE — must publish through the edits
    * path without the driver ever materializing the manifest body.
    * In-query REQUIREs pin the mechanism (the twin exists,
    * `editsPublishes` advanced once per verb with the replay publishing
    * nothing, `manifestReadCount == 0` across every commit); the oracle
    * replays the verbs' net effect on the raw fixture, so a dropped edit,
    * a double-applied replay, or a wrong survivor set shifts the
    * aggregate.
    */
  def q154EditsCommitPath(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q154").toString
    val S = graft.sources.SnapshotManifest
    val prevI = spark.conf.getOption("graft.manifest.checkpointInterval")
    val prevF = spark.conf.getOption("graft.manifest.parquetCheckpointMinLines")
    spark.conf.set("graft.manifest.checkpointInterval", "8")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "1")
    try {
      val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = orders.select(cols.map(col): _*)
      S.commit(spark, root,
        base.repartitionByRange(8, col("o_orderkey")), cols)
      val twin = new org.apache.hadoop.fs.Path(root, "_ckpt/v00000000")
      require(twin.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(twin), "q154: the boundary commit must write the parquet twin")
      val e0 = S.editsPublishes.get()
      S.manifestReadCount.set(0L)
      def shifted(lo: Long, hi: Long, by: Long) =
        base.filter(col("o_orderkey").between(lo, hi))
          .withColumn("o_orderkey", col("o_orderkey") + by)
      S.appendRows(spark, root, shifted(1L, 50L, 40000000L), cols)
      val vIdem = S.appendRowsIdempotent(spark, root,
        shifted(51L, 100L, 50000000L), "q154-app", 1L, cols)
      require(S.appendRowsIdempotent(spark, root,
        shifted(51L, 100L, 50000000L), "q154-app", 1L, cols) == vIdem,
        "q154: the idempotent replay must skip to the landed version")
      S.deleteWhere(spark, root, col("o_orderkey").between(1000L, 1999L), cols)
      graft.operators.Upsert.mergeWhere(spark, root,
        orders.filter(col("o_orderkey").between(100L, 140L))
          .select(col("o_orderkey"), lit("U").alias("o_orderstatus"),
            (col("o_totalprice") * 2).alias("o_totalprice")),
        Seq("o_orderkey"), cols)
      require(S.editsPublishes.get() - e0 == 4L,
        "q154: all four commit verbs must publish through the edits path " +
          "and the replay must publish nothing")
      require(S.manifestReadCount.get() == 0L,
        "q154: no commit verb may materialize the manifest body on the driver")
      ordersStatusAgg(S.read(spark, root))
    } finally {
      prevI match {
        case Some(v) => spark.conf.set("graft.manifest.checkpointInterval", v)
        case None => spark.conf.unset("graft.manifest.checkpointInterval")
      }
      prevF match {
        case Some(v) => spark.conf.set("graft.manifest.parquetCheckpointMinLines", v)
        case None => spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
      }
    }
  }

  /** Catalyst-integrated snapshot scan (q155): [[graft.sources.SnapshotManifest.table]]
    * exposes the snapshot as a RELATION whose file listing runs
    * manifest-stats pruning with the query's OWN pushed filters — plain
    * declarative `.filter` prunes files at PLANNING time, no `readWhere`
    * call, and Spark's native parquet scan keeps row-group pushdown +
    * column pruning underneath. In-query REQUIREs pin the mechanism (the
    * planning prune ran AND dropped files on the range-clustered layout);
    * the oracle replays the filtered aggregate on the raw fixture, so a
    * wrongly pruned file shifts it.
    */
  def q155CatalystScan(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q155").toString
    val S = graft.sources.SnapshotManifest
    val FI = graft.sources.SnapshotFileIndex
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    val ctr = FI.countersFor(root) // per-root: immune to concurrent scans
    val p0 = ctr.prunes.get()
    val out = ordersStatusAgg(
      S.table(spark, root).filter(col("o_orderkey").between(1000L, 3000L)))
    val collected = out.collect() // force planning + execution before REQUIREs
    require(ctr.prunes.get() > p0,
      "q155: the filtered scan must run manifest-stats pruning during planning")
    require(ctr.lastKept < ctr.lastConsidered,
      s"q155: a narrow key range on a range-clustered 16-file table must " +
        s"drop files (considered ${ctr.lastConsidered}, kept ${ctr.lastKept})")
    spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toSeq, 1), out.schema)
  }

  /** SQL/catalog surface of the snapshot format (q156 — round-13 VERDICT
    * ask #1): `CREATE TABLE … USING graft-snapshot LOCATION …` registers
    * the table, a SQL SELECT plans through the SAME planning-time
    * manifest-stats pruning relation as q155 (REQUIREd via the per-root
    * prune counters), SQL `INSERT INTO` appends through the commit
    * protocol, and `spark.readStream.format("graft-snapshot")` consumes
    * the two INSERT commits EXACTLY once across a checkpoint restart
    * (REQUIREd by count — a re-emit or a skip shifts it). The returned
    * aggregate is computed from the STREAM's parquet output, so the
    * oracle gates the whole flow end-to-end: DDL → SQL read → SQL writes
    * → exactly-once tail.
    */
  def q156SqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q156").toString
    val ckpt = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q156ck").toString
    val outDir = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q156out").toString + "/out"
    val S = graft.sources.SnapshotManifest
    val FI = graft.sources.SnapshotFileIndex
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    S.commit(spark, root, base.repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    val baseCount = base.count()
    spark.sql(s"CREATE TABLE graft_q156 USING `graft-snapshot` LOCATION '$root'")
    try {
      // SQL SELECT: planning-time manifest-stats pruning with the query's
      // own pushed filter (per-root counters — immune to concurrent scans)
      val ctr = FI.countersFor(root)
      val p0 = ctr.prunes.get()
      val sqlAgg = spark.sql(
        """SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(30,6))) AS s
          |FROM graft_q156 WHERE o_orderkey BETWEEN 1000 AND 3000""".stripMargin).head()
      require(ctr.prunes.get() > p0,
        "q156: the catalog SQL read must run manifest-stats pruning during planning")
      require(ctr.lastKept < ctr.lastConsidered,
        s"q156: a narrow key range on a range-clustered 16-file table must " +
          s"drop files (considered ${ctr.lastConsidered}, kept ${ctr.lastKept})")
      val direct = base.filter(col("o_orderkey").between(1000L, 3000L))
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(30,6)"))).head()
      require(sqlAgg.getLong(0) == direct.getLong(0) &&
        sqlAgg.getDecimal(1).compareTo(direct.getDecimal(1)) == 0,
        "q156: the pruned SQL read must agree with the direct aggregate")

      orders.createOrReplaceTempView("orders_q156")
      def runStream(): Unit = {
        val q = spark.readStream.format("graft-snapshot").load(root)
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination(300000)
        ()
      }
      runStream() // batch 0: the initial snapshot
      require(spark.read.parquet(outDir).count() == baseCount,
        "q156: the first stream run must emit the full initial snapshot")
      // two SQL INSERT commits (v1, v2) through the V2 write path
      spark.sql(
        """INSERT INTO graft_q156
          |SELECT o_orderkey + 40000000, o_orderstatus, o_totalprice
          |FROM orders_q156 WHERE o_orderkey BETWEEN 1 AND 50""".stripMargin)
      spark.sql(
        """INSERT INTO graft_q156
          |SELECT o_orderkey + 50000000, o_orderstatus, o_totalprice
          |FROM orders_q156 WHERE o_orderkey BETWEEN 51 AND 100""".stripMargin)
      require(S.currentVersion(spark, root).contains(2L),
        "q156: the two SQL INSERTs must commit versions 1 and 2")
      runStream() // restart from the SAME checkpoint: exactly the two commits
      val streamed = spark.read.parquet(outDir)
      val nApp = orders.filter(col("o_orderkey").between(1L, 100L)).count()
      require(streamed.count() == baseCount + nApp,
        s"q156: the restarted stream must consume the two commits exactly " +
          s"once (${streamed.count()} rows vs ${baseCount + nApp} expected)")
      ordersStatusAgg(streamed)
    } finally spark.sql("DROP TABLE IF EXISTS graft_q156")
  }

  /** DV-live versions through the NAMED reader (q157 — round-13 VERDICT
    * ask #2): after a merge-on-read delete AND update (live deletion-
    * vector sidecars, no fold), `spark.read.format("graft-snapshot")`
    * SERVES the version — the V1 fallback relation runs the sidecar
    * anti-join distributed — instead of refusing. In-query REQUIREs pin
    * WHICH path served (the `FrameRelation` fallback, and back to the
    * pruning file scan after `foldDeletes`); the oracle gates that the
    * served rows are exactly the MoR semantics.
    */
  def q157MorNamedRead(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q157").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    S.deleteWhereMoR(spark, root, col("o_orderkey").between(1000L, 1999L))
    S.updateWhereMoR(spark, root, col("o_orderkey").between(100L, 140L),
      Map("o_orderstatus" -> lit("U"),
        "o_totalprice" -> (col("o_totalprice") * 2)))
    val served = spark.read.format("graft-snapshot").load(root)
    require(served.queryExecution.executedPlan.toString.contains("FrameRelation"),
      "q157: a DV-live version must serve through the MoR fallback relation")
    val out = ordersStatusAgg(served)
    val collected = out.collect()
    // after folding the DVs the SAME reader returns to the file scan —
    // and the rows don't change
    S.foldDeletes(spark, root)
    val folded = spark.read.format("graft-snapshot").load(root)
    require(!folded.queryExecution.executedPlan.toString.contains("FrameRelation"),
      "q157: a folded version must serve through the pruning file scan")
    require(folded.count() == served.count(),
      "q157: folding deletion vectors must not change the row count")
    spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toSeq, 1), out.schema)
  }

  /** SQL MERGE INTO a catalog snapshot table (q158 — round-13 VERDICT ask
    * #3): the standard `UPDATE SET * / INSERT *` upsert statement resolves
    * through [[graft.plans.SnapshotStatements]] onto the engine's gated
    * [[graft.operators.Upsert.mergeWhere]] (stats-pruned copy-on-write,
    * single staged evaluation) — the reference's MERGE semantics
    * (`utils.py:265-292`) reached exactly the way its users reach it:
    * as a SQL string against a named table. The oracle replays the
    * upsert relationally (staged ∪ anti-join survivors).
    */
  def q158SqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q158").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    orders.createOrReplaceTempView("orders_q158")
    spark.sql(s"CREATE TABLE graft_q158 USING `graft-snapshot` LOCATION '$root'")
    try {
      spark.sql(
        """MERGE INTO graft_q158 t
          |USING (
          |  SELECT o_orderkey, 'U' AS o_orderstatus,
          |         o_totalprice * 2 AS o_totalprice
          |  FROM orders_q158 WHERE o_orderkey BETWEEN 100 AND 140
          |  UNION ALL
          |  SELECT o_orderkey + 60000000, o_orderstatus, o_totalprice
          |  FROM orders_q158 WHERE o_orderkey BETWEEN 1 AND 30
          |) s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(S.currentVersion(spark, root).contains(1L),
        "q158: the SQL MERGE must commit exactly one new version")
      ordersStatusAgg(S.read(spark, root))
    } finally spark.sql("DROP TABLE IF EXISTS graft_q158")
  }

  /** SQL schema evolution (q159 — round-14 VERDICT ask #1): `ALTER TABLE
    * … ADD COLUMNS` through the catalog ([[graft.sources.GraftCatalog]]
    * `alterTable` → the metadata-only [[graft.sources.SnapshotManifest
    * .addColumns]] publish — the reference's own evolution surface,
    * bi_utils `utils.py:541-557`, reached as the SQL statement its users
    * reach it with). In-query REQUIREs pin the mechanism (one new
    * version, SAME data files — nothing rewritten); the follow-up SQL
    * MERGE populates the added column using the reference's canonical
    * EXPLICIT-LIST clause shape (UPDATE SET excludes the ON key, INSERT
    * includes it — `utils.py:265-292`). The oracle replays merge + null
    * backfill relationally: a widening that dropped rows, a merge that
    * missed the new column, or a backfill that read garbage shifts it.
    */
  def q159SqlAlter(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q159").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    orders.createOrReplaceTempView("orders_q159")
    spark.sql(s"CREATE TABLE graft_q159 USING `graft-snapshot` LOCATION '$root'")
    try {
      val filesBefore = S.snapshotFiles(spark, root, 0L).toSet
      spark.sql("ALTER TABLE graft_q159 ADD COLUMNS (flag STRING)")
      require(S.currentVersion(spark, root).contains(1L),
        "q159: SQL ALTER must publish exactly one metadata version")
      require(S.snapshotFiles(spark, root, 1L).toSet == filesBefore,
        "q159: ADD COLUMNS must be metadata-only — same data files")
      spark.sql(
        """MERGE INTO graft_q159 t
          |USING (
          |  SELECT o_orderkey, 'U' AS o_orderstatus,
          |         o_totalprice * 2 AS o_totalprice, 'upd' AS flag
          |  FROM orders_q159 WHERE o_orderkey BETWEEN 100 AND 300
          |  UNION ALL
          |  SELECT o_orderkey + 70000000, o_orderstatus, o_totalprice,
          |         'new' AS flag
          |  FROM orders_q159 WHERE o_orderkey BETWEEN 1 AND 40
          |) s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET o_orderstatus = s.o_orderstatus,
          |  o_totalprice = s.o_totalprice, flag = s.flag
          |WHEN NOT MATCHED THEN INSERT
          |  (o_orderkey, o_orderstatus, o_totalprice, flag)
          |  VALUES (s.o_orderkey, s.o_orderstatus, s.o_totalprice, s.flag)
          |""".stripMargin)
      require(S.currentVersion(spark, root).contains(2L),
        "q159: the SQL MERGE must commit exactly one new version")
      S.read(spark, root)
        .groupBy(coalesce(col("flag"), lit("base")).alias("flag"),
          col("o_orderstatus"))
        .agg(count(lit(1)).alias("n"),
          sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
            .alias("sum_price"),
          min(col("o_orderkey")).alias("min_key"),
          max(col("o_orderkey")).alias("max_key"))
        .orderBy(col("flag"), col("o_orderstatus"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_q159")
  }

  /** DDL-declared table properties (q160 — round-14 VERDICT ask #2): a
    * CTAS with `PARTITIONED BY` + `TBLPROPERTIES('bloomCols', 'statsCols')`
    * bootstraps a PARTITIONED, BLOOM-INDEXED, stats-recorded snapshot
    * table in one statement — the catalog's declarations ride
    * [[graft.sources.GraftCatalog]] into the bootstrap commit, so a
    * DDL-first user gets the exact table the API's 6-arg commit builds.
    * In-query REQUIREs pin all three mechanisms: a partition-predicate
    * SELECT prunes files at PLANNING time (per-root counters), the
    * written files physically carry the declared parquet bloom filter
    * (footer probe: present keys always hit, absent keys mostly miss),
    * and per-file stats are recorded. The oracle replays the point
    * lookups on the raw fixture — an index with false negatives would
    * drop rows here.
    */
  def q160DdlProperties(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q160").toString + "/t"
    val S = graft.sources.SnapshotManifest
    val FI = graft.sources.SnapshotFileIndex
    orders.createOrReplaceTempView("orders_q160")
    spark.sql(
      s"""CREATE TABLE graft_q160
         |USING `graft-snapshot`
         |PARTITIONED BY (o_orderstatus)
         |LOCATION '$root'
         |TBLPROPERTIES('bloomCols'='o_orderkey',
         |              'statsCols'='o_orderkey,o_totalprice')
         |AS SELECT o_orderkey, o_orderstatus, o_totalprice
         |   FROM orders_q160""".stripMargin)
    try {
      val v = S.currentVersion(spark, root).getOrElse(
        throw new IllegalStateException("q160: CTAS must bootstrap the table"))
      require(S.partitionColumns(spark, root, v) == Seq("o_orderstatus"),
        "q160: PARTITIONED BY must land as the partition property")
      require(S.bloomCols(spark, root, v) == Seq("o_orderkey"),
        "q160: the declared bloom index must land as table meta")
      require(S.snapshotFileStats(spark, root, v).nonEmpty,
        "q160: the declared statsCols must be recorded per file")
      // partition predicate → planning-time pruning, through SQL
      val ctr = FI.countersFor(root)
      val p0 = ctr.prunes.get()
      val nF = spark.sql(
        "SELECT count(*) FROM graft_q160 WHERE o_orderstatus = 'F'")
        .head().getLong(0)
      require(ctr.prunes.get() > p0,
        "q160: the partition-predicate SQL read must prune during planning")
      require(ctr.lastKept < ctr.lastConsidered,
        s"q160: a one-status predicate on a 3-status partitioned table " +
          s"must drop files (considered ${ctr.lastConsidered}, kept ${ctr.lastKept})")
      require(nF == orders.filter(col("o_orderstatus") === "F").count(),
        "q160: the pruned read must agree with the raw fixture")
      // the CTAS-written files physically carry the o_orderkey bloom:
      // probe one footer — declared keys from the file always hit, keys
      // far outside the domain mostly miss (row-group discrimination)
      val f = S.snapshotFiles(spark, root, v).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val block = reader.getFooter.getBlocks.asScala.head
        val colMeta = block.getColumns.asScala
          .find(_.getPath.toDotString == "o_orderkey").getOrElse(
          throw new IllegalStateException("q160: no o_orderkey column chunk"))
        val bf = reader.getBloomFilterDataReader(block).readBloomFilter(colMeta)
        require(bf != null,
          s"q160: CTAS file $f carries no bloom filter for o_orderkey")
        val present = spark.read.parquet(f).select("o_orderkey")
          .limit(32).collect().map(_.getLong(0)).toSeq
        val absent = (1L to 50L).map(_ * 1000L + 900000019L)
        require(present.forall(k => bf.findHash(bf.hash(k))),
          "q160: bloom false negative — a present key missed")
        val fp = absent.count(k => bf.findHash(bf.hash(k)))
        require(fp <= 10,
          s"q160: bloom does not discriminate ($fp/50 absent keys hit)")
      } finally reader.close()
      spark.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice FROM graft_q160
          |WHERE o_orderkey IN (1, 7, 32, 33, 1000, 4999, 12345, 29989)
          |ORDER BY o_orderkey""".stripMargin)
    } finally spark.sql("DROP TABLE IF EXISTS graft_q160")
  }

  /** SQL maintenance verbs (q161 — round-14 VERDICT ask #3): DML churn
    * through SQL, then `CALL graft.optimize` (z-order rewrite) and
    * `CALL graft.vacuum` (version reclaim) — Spark 4 stored procedures
    * ([[graft.sources.GraftProcedures]] via the `ProcedureCatalog`
    * contract), the route a SQL scheduler runs lakehouse maintenance by.
    * In-query REQUIREs pin each verb's effect: optimize commits a
    * re-layout version with fewer files, vacuum reports the reclaimed
    * versions AND their superseded data files are physically gone, and
    * the history listing reflects exactly the retained tail. The oracle
    * replays the churn relationally — maintenance must never change
    * query results.
    */
  def q161SqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q161").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(16),
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    spark.sql(s"CREATE TABLE graft_q161 USING `graft-snapshot` LOCATION '$root'")
    try {
      spark.sql(
        """UPDATE graft_q161 SET o_totalprice = o_totalprice * 2
          |WHERE o_orderkey BETWEEN 100 AND 140""".stripMargin)
      spark.sql("DELETE FROM graft_q161 WHERE o_orderkey BETWEEN 1000 AND 1999")
      val vChurn = S.currentVersion(spark, root).get
      val filesChurn = S.snapshotFiles(spark, root, vChurn)
      val vOpt = spark.sql(
        "CALL graft.optimize('graft_q161', zorder_by => 'o_orderkey', num_files => 4)")
        .head().getLong(0)
      require(vOpt == vChurn + 1,
        "q161: CALL graft.optimize must commit exactly one re-layout version")
      require(S.snapshotFiles(spark, root, vOpt).size <= 4,
        s"q161: the z-order rewrite must land at most num_files=4 files " +
          s"(got ${S.snapshotFiles(spark, root, vOpt).size})")
      val removed = spark.sql("CALL graft.vacuum('graft_q161', keep => 1)")
        .collect().map(_.getLong(0)).toSet
      require(removed == (0L until vOpt).toSet,
        s"q161: vacuum keep=1 must reclaim every superseded version (got $removed)")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val survivors = S.snapshotFiles(spark, root, vOpt).toSet
      filesChurn.filterNot(survivors).foreach(f =>
        require(!fs.exists(new org.apache.hadoop.fs.Path(f)),
          s"q161: superseded data file $f must be swept"))
      val hist = spark.sql("CALL graft.history('graft_q161')").collect()
      require(hist.length == 1 && hist.head.getLong(0) == vOpt,
        s"q161: history must list exactly the retained version " +
          s"(${hist.map(_.getLong(0)).mkString(", ")})")
      ordersStatusAgg(S.read(spark, root))
    } finally spark.sql("DROP TABLE IF EXISTS graft_q161")
  }

  /** SQL DML with subquery conditions (q162 — round-14 VERDICT ask #1):
    * the most common free-form-SQL shapes a user migrating from the
    * reference's SQL entry point (bi_utils `utils.py:312-339`) writes —
    * `DELETE … WHERE k IN (SELECT …) AND plain`, `UPDATE … SET v =
    * (scalar subquery) WHERE k NOT IN (SELECT …)` — planned by
    * [[graft.plans.SnapshotStatements]] as a materialized key frame whose
    * membership is decided by a JOIN inside the same stats-pruned
    * copy-on-write kernel as literal-predicate DML (never a row-by-row
    * driver loop, never an unbounded collect). In-query REQUIREs pin the
    * null-semantics contracts: a NOT IN over a null-bearing subquery and
    * a false EXISTS gate must each be PROVABLE no-ops (no version
    * commits). The oracle replays all four statements relationally in
    * DuckDB — a membership join that dropped a row, missed a null rule,
    * or double-applied an update shifts the per-status aggregate.
    */
  def q162SqlSubqueryDml(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q162").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    customer.createOrReplaceTempView("customer_q162")
    spark.sql(s"CREATE TABLE graft_q162 USING `graft-snapshot` LOCATION '$root'")
    try {
      // IN-subquery DELETE with a plain conjunct: only the intersection goes
      spark.sql(
        """DELETE FROM graft_q162
          |WHERE o_custkey IN (SELECT c_custkey FROM customer_q162
          |                    WHERE c_mktsegment = 'BUILDING')
          |  AND o_orderstatus = 'O'""".stripMargin)
      require(S.currentVersion(spark, root).contains(1L),
        "q162: the IN-subquery DELETE must commit exactly one version")
      // NOT IN + scalar-subquery UPDATE (subquery sets are evaluated once;
      // assignments against the pre-update row)
      spark.sql(
        """UPDATE graft_q162
          |SET o_totalprice = o_totalprice +
          |      (SELECT min(c_acctbal) FROM customer_q162)
          |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer_q162
          |                        WHERE c_mktsegment = 'AUTOMOBILE')
          |  AND o_orderkey <= 10000""".stripMargin)
      val vAfterUpdate = S.currentVersion(spark, root).get
      // NOT IN over a null-bearing subquery: never TRUE (SQL three-valued
      // logic) — the statement must be a PROVABLE no-op, nothing commits
      spark.sql(
        """DELETE FROM graft_q162
          |WHERE o_custkey NOT IN (
          |  SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END
          |  FROM customer_q162)""".stripMargin)
      require(S.currentVersion(spark, root).contains(vAfterUpdate),
        "q162: NOT IN over a null-bearing subquery must commit NOTHING")
      // false EXISTS gate: one bounded probe, then a provable no-op
      spark.sql(
        """DELETE FROM graft_q162
          |WHERE EXISTS (SELECT 1 FROM customer_q162
          |              WHERE c_mktsegment = 'NO_SUCH_SEGMENT')""".stripMargin)
      require(S.currentVersion(spark, root).contains(vAfterUpdate),
        "q162: a false EXISTS gate must commit NOTHING")
      ordersStatusAgg(S.read(spark, root))
    } finally spark.sql("DROP TABLE IF EXISTS graft_q162")
  }

  /** Conditional multi-action SQL MERGE (q163 — round-14 VERDICT ask #2):
    * the op-code CDC shape every Delta/Iceberg migrator writes — `WHEN
    * MATCHED AND s.op='D' THEN DELETE` + `WHEN MATCHED AND s.op='U' THEN
    * UPDATE …` + conditional INSERT — planned by
    * [[graft.plans.GraftMergeActionsCommand]]: per-row action resolution
    * by FIRST-true clause over the joined (target, source) pair, all
    * three arms landing in ONE atomic commit through the extended merge
    * kernel ([[graft.operators.Upsert.mergeWhere]] `deletes` arm). The
    * in-query REQUIRE pins atomicity (exactly one version); the oracle
    * replays delete/update/no-action/insert relationally in DuckDB — a
    * mis-ordered clause, a dropped no-action row, or a double-applied
    * arm shifts the per-status aggregate.
    */
  def q163MergeActions(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q163").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey", "o_totalprice"))
    orders.createOrReplaceTempView("orders_q163")
    spark.sql(s"CREATE TABLE graft_q163 USING `graft-snapshot` LOCATION '$root'")
    try {
      spark.sql(
        """MERGE INTO graft_q163 t
          |USING (
          |  SELECT o_orderkey, o_totalprice,
          |         CASE WHEN o_orderkey % 10 = 0 THEN 'D'
          |              WHEN o_orderkey % 10 < 5 THEN 'U'
          |              ELSE 'X' END AS op
          |  FROM orders_q163 WHERE o_orderkey BETWEEN 100 AND 2000
          |  UNION ALL
          |  SELECT o_orderkey + 70000000, o_totalprice, 'I'
          |  FROM orders_q163 WHERE o_orderkey <= 50
          |) s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET
          |  o_orderstatus = 'U', o_totalprice = s.o_totalprice * 2
          |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT
          |  (o_orderkey, o_orderstatus, o_totalprice)
          |  VALUES (s.o_orderkey, 'N', s.o_totalprice)""".stripMargin)
      require(S.currentVersion(spark, root).contains(1L),
        "q163: delete+update+insert arms must land in ONE atomic version")
      ordersStatusAgg(S.read(spark, root))
    } finally spark.sql("DROP TABLE IF EXISTS graft_q163")
  }

  /** `WHEN NOT MATCHED BY SOURCE THEN DELETE` (q164 — round-14 VERDICT
    * ask #3): the full-sync/replication shape as ONE SQL statement.
    * First an UNCONDITIONAL by-source MERGE — the post-state must EQUAL
    * the source exactly (what [[graft.sources.ChangeFeed
    * .replicateAvailableNow]] converges to, rows REQUIRE-pinned) — then
    * a CONDITIONAL one (`AND t.o_orderstatus = 'O'`) where unmatched
    * target rows outside the condition survive. Each statement is one
    * atomic commit. The oracle derives the final state relationally —
    * an unmatched row wrongly kept/dropped, or a matched row caught by
    * the by-source arm, shifts the per-status aggregate.
    */
  def q164MergeBySource(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q164").toString
    val S = graft.sources.SnapshotManifest
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey", "o_totalprice"))
    orders.createOrReplaceTempView("orders_q164")
    spark.sql(s"CREATE TABLE graft_q164 USING `graft-snapshot` LOCATION '$root'")
    try {
      // 1. unconditional: full sync — table becomes exactly the source
      spark.sql(
        """MERGE INTO graft_q164 t
          |USING (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
          |       FROM orders_q164 WHERE o_orderkey % 3 = 0) s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      require(S.currentVersion(spark, root).contains(1L),
        "q164: the full sync must land in ONE atomic version")
      val srcCount = orders.filter(col("o_orderkey") % 3 === 0).count()
      require(S.read(spark, root).count() == srcCount,
        "q164: after an unconditional by-source MERGE the table IS the source")
      // 2. conditional: unmatched rows survive unless o_orderstatus = 'O'
      spark.sql(
        """MERGE INTO graft_q164 t
          |USING (SELECT o_orderkey, o_orderstatus, o_totalprice * 3 AS o_totalprice
          |       FROM orders_q164 WHERE o_orderkey % 6 = 0) s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'O' THEN DELETE""".stripMargin)
      require(S.currentVersion(spark, root).contains(2L),
        "q164: the conditional sync must land in ONE atomic version")
      ordersStatusAgg(S.read(spark, root))
    } finally spark.sql("DROP TABLE IF EXISTS graft_q164")
  }

  /** CDF as a SQL relation (q165 — round-14 VERDICT ask #5): the
    * `table_changes('t', from[, to])` table-valued function
    * ([[graft.sources.ChangeFeed.tableChangesPlan]], registered through
    * `SparkSessionExtensions.injectTableFunction`) — the pure-SQL
    * spelling of the windowed change-feed read, versions inclusive like
    * the public lakehouse contract. In-query REQUIREs pin the window
    * arithmetic (full [1,2] window = pre+post pairs + deletes) and the
    * coverage gate: after `vacuumFeed` reclaims the first range, the
    * [1,2] window REFUSES at plan time (never partial changes) while the
    * surviving [2,2] tail still serves — and that tail is the oracle'd
    * result: DuckDB re-derives the deleted rows (v1 state of the %5
    * keys) relationally.
    */
  def q165SqlTableChanges(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q165").toString
    val S = graft.sources.SnapshotManifest
    val CF = graft.sources.ChangeFeed
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey")),
      Seq("o_orderkey"))
    S.updateWhere(spark, root, col("o_orderkey").between(100, 300),
      Map("o_totalprice" -> (col("o_totalprice") * 2)), Seq("o_orderkey")) // v1
    S.deleteWhere(spark, root, col("o_orderkey") % 5 === 0, Seq("o_orderkey")) // v2
    CF.materializeNew(spark, root, Seq("o_orderkey"))
    spark.sql(s"CREATE TABLE graft_q165 USING `graft-snapshot` LOCATION '$root'")
    try {
      val nUpd = orders.filter(col("o_orderkey").between(100, 300)).count()
      val nDel = orders.filter(col("o_orderkey") % 5 === 0).count()
      require(spark.sql(
        "SELECT count(*) FROM table_changes('graft_q165', 1, 2)")
        .head().getLong(0) == 2 * nUpd + nDel,
        "q165: the [1,2] window must hold every pre/post image and delete")
      // reclaim the first range: the full window must now REFUSE loudly
      CF.vacuumFeed(spark, root, beforeVersion = 1L)
      val refused = try { spark.sql(
        "SELECT count(*) FROM table_changes('graft_q165', 1, 2)").head(); false
      } catch { case e: Exception =>
        e.getMessage != null && e.getMessage.contains("incomplete") }
      require(refused,
        "q165: a vacuumed window must refuse at plan time, never feed " +
          "partial changes")
      spark.sql(
        """SELECT o_orderkey, o_totalprice, _change, _commit_version
          |FROM table_changes('graft_q165', 2, 2)
          |ORDER BY o_orderkey""".stripMargin)
    } finally spark.sql("DROP TABLE IF EXISTS graft_q165")
  }

  /** Vacuum reachability on a twin-anchored table (q153): the table
    * carries parquet checkpoint twins, and
    * [[graft.sources.SnapshotManifest.vacuumPreview]]/`vacuum` plan on the
    * driver from the surviving manifests (the executor plan over the twin
    * frames was deleted after it measured slower at 10⁴ and 10⁵ body
    * lines). In-query REQUIREs pin that churn produced real file-level
    * garbage and that the sweep reclaimed it. The oracle gates the
    * SEMANTICS — after churn + vacuum the table reads exactly as the
    * merges left it; a sweep that ate a live file or spared a doomed
    * version's data would shift the aggregate.
    */
  def q153DistributedVacuum(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q153").toString
    val S = graft.sources.SnapshotManifest
    val prevI = spark.conf.getOption("graft.manifest.checkpointInterval")
    val prevF = spark.conf.getOption("graft.manifest.parquetCheckpointMinLines")
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    spark.conf.set("graft.manifest.parquetCheckpointMinLines", "10")
    try {
      S.commit(spark, root,
        orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(16, col("o_orderkey")),
        Seq("o_orderkey"))
      // churn: a narrow update merge + an insert merge — the rewritten
      // files' old copies become garbage inside kept dirs once v0/v1 doom
      graft.operators.Upsert.mergeWhere(spark, root,
        orders.filter(col("o_orderkey").between(100, 140))
          .select(col("o_orderkey"), lit("U").alias("o_orderstatus"),
            (col("o_totalprice") * 2).alias("o_totalprice")),
        Seq("o_orderkey"), Seq("o_orderkey"))
      graft.operators.Upsert.mergeWhere(spark, root,
        orders.filter(col("o_orderkey").between(500, 520))
          .select((col("o_orderkey") + 30000000L).alias("o_orderkey"),
            lit("N").alias("o_orderstatus"), col("o_totalprice")),
        Seq("o_orderkey"), Seq("o_orderkey"))
      val preview = S.vacuumPreview(spark, root, keep = 1)
      require(preview.dataFiles.nonEmpty,
        "q153: the churn must produce file-level garbage to sweep")
      require(S.vacuum(spark, root, keep = 1).nonEmpty,
        "q153: superseded versions must be reclaimed")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      preview.dataFiles.foreach(f =>
        require(!fs.exists(new org.apache.hadoop.fs.Path(f)),
          s"q153: planned garbage $f must be gone after the sweep"))
      S.read(spark, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).alias("n"),
          sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
          min(col("o_orderkey")).alias("min_key"),
          max(col("o_orderkey")).alias("max_key"))
        .orderBy(col("o_orderstatus"))
    } finally {
      prevI match {
        case Some(v) => spark.conf.set("graft.manifest.checkpointInterval", v)
        case None => spark.conf.unset("graft.manifest.checkpointInterval")
      }
      prevF match {
        case Some(v) => spark.conf.set("graft.manifest.parquetCheckpointMinLines", v)
        case None => spark.conf.unset("graft.manifest.parquetCheckpointMinLines")
      }
    }
  }

  /** Multimodal — REAL frame sampling end-to-end: synthesize an animated
    * GIF per document (frame count a deterministic function of `doc_id`),
    * decode every 2nd STORED frame back out through
    * [[graft.operators.Multimodal.sampleFrames]] (true per-frame pixel
    * decode + PNG re-encode via `javax.imageio`), and verify each sampled
    * frame by re-decoding its PNG header for the output dims. The oracle
    * replays the stride arithmetic — if the codec misread frame counts,
    * indices, or rasters, the row set would not match. Narrow maps only:
    * synthesis, sampling, and the dim probe never shuffle frame bytes.
    */
  def q151FrameSampling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id").cast("long").alias("doc_id"))
      .filter(col("doc_id") < 64)
    val assets = docs.as[Long].mapPartitions { it =>
      it.map { id =>
        (id, "image/gif", synthGif(8, 6, (2 + id % 5).toInt, id))
      }
    }.toDF("asset_id", "media_type", "bytes")
      .withColumn("byte_len", length(col("bytes")).cast("long"))
    val frames = Multimodal.sampleFrames(assets, everyNth = 2, maxFrames = 16)
    frames.select(col("asset_id"), col("frame_index"), col("frame_bytes"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, i, png) =>
          // REAL header decode of the re-encoded frame — the dims reaching
          // the oracle went bytes→pixels→bytes, not through bookkeeping
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          require(img != null, s"q151: sampled frame $i of asset $id is " +
            "not a decodable image — the frame sampler emitted garbage")
          (id, i, img.getWidth, img.getHeight)
        }
      }
      .toDF("asset_id", "frame_index", "frame_w", "frame_h")
      .orderBy(col("asset_id"), col("frame_index"))
  }

  /** Keyed MERGE over a range-clustered snapshot table (q152; the id is
    * kept from the retired co-located merge strategy): the file-pruned
    * [[graft.operators.Upsert.mergeWhere]] updates one key range and
    * inserts another. The oracle is q123's ANSI-MERGE replay.
    */
  def q152ClusteredMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotManifest => S}
    val orders = t(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory(serveIdxRoot, "q152").toString
    S.commit(spark, root,
      orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"))
    // key ranges present at EVERY fixture sf (orderkeys are dense from 0;
    // sf0.001 tops out at 1499 — a range above that would stage nothing)
    val staged = orders.filter(col("o_orderkey").between(200, 300))
      .select(col("o_orderkey"), lit("U").alias("o_orderstatus"),
        (col("o_totalprice") * 3).alias("o_totalprice"))
      .unionByName(orders.filter(col("o_orderkey").between(1000, 1040))
        .select((col("o_orderkey") + 20000000L).alias("o_orderkey"),
          lit("N").alias("o_orderstatus"), col("o_totalprice")))
    graft.operators.Upsert.mergeWhere(spark, root, staged,
      Seq("o_orderkey"), Seq("o_orderkey"))
    S.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        min(col("o_orderkey")).alias("min_key"),
        max(col("o_orderkey")).alias("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Deterministic animated-GIF synthesis for [[q151FrameSampling]]: `n`
    * solid-color frames, color a function of (seed, frame index) — runs on
    * EXECUTORS inside the asset-synthesis kernel.
    */
  private def synthGif(w: Int, h: Int, n: Int, seed: Long): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until n).foreach { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val color = ((seed * 0x9e3779b9L).toInt ^ (f * 0x202020)) & 0xffffff
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, color)))
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    baos.toByteArray
  }

  // ==========================================================================
  // Registry
  // ==========================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_revenue_by_nation" -> (q02RevenueByNation _),
    "q03_project_filter" -> (q03ProjectFilter _),
    "q04_hash_id" -> (q04HashId _),
    "q05_latest_event_per_user" -> (q05LatestEventPerUser _),
    "q06_merge_upsert" -> (q06MergeUpsert _),
    "q07_union_pages" -> (q07UnionPages _),
    "q08_semi_anti" -> (q08SemiAnti _),
    "q09_rollup" -> (q09Rollup _),
    "q10_window_rank" -> (q10WindowRank _),
    "q11_having" -> (q11Having _),
    "q12_schema_lengths" -> (q12SchemaLengths _),
    "q13_json_extract" -> (q13JsonExtract _),
    "q14_check_for_key" -> (q14CheckForKey _),
    "q15_flatten_json" -> (q15FlattenJson _),
    "q16_parse_timestamp" -> (q16ParseTimestamp _),
    "q17_watermark" -> (q17Watermark _),
    "q18_count_on_date" -> (q18CountOnDate _),
    "q19_top1_latest" -> (q19Top1Latest _),
    "q20_sql_template" -> (q20SqlTemplate _),
    "q21_windowed_events" -> (q21WindowedEvents _),
    "q22_alert_gate" -> (q22AlertGate _),
    "q23_dedup_exact" -> (q23DedupExact _),
    "q24_minhash_signature" -> (q24MinhashSignature _),
    "q25_near_dup_pairs" -> (q25NearDupPairs _),
    "q26_simhash" -> (q26Simhash _),
    "q27_cosine_topk" -> (q27CosineTopK _),
    "q28_embedding_near_dup" -> (q28EmbeddingNearDup _),
    "q29_text_profile" -> (q29TextProfile _),
    "q30_quality_by_lang" -> (q30QualityByLang _),
    "q31_multimodal_meta" -> (q31MultimodalMeta _),
    "q32_sheet_source" -> (q32SheetSource _),
    "q33_schema_diff" -> (q33SchemaDiff _),
    "q34_keyset_normalize" -> (q34KeysetNormalize _),
    "q35_session_window" -> (q35SessionWindow _),
    "q36_sliding_window" -> (q36SlidingWindow _),
    "q37_cube" -> (q37Cube _),
    "q38_stats" -> (q38Stats _),
    "q39_set_ops" -> (q39SetOps _),
    "q40_lag_delta" -> (q40LagDelta _),
    "q41_approx_distinct" -> (q41ApproxDistinct _),
    "q42_simhash_pairs" -> (q42SimhashPairs _),
    "q43_ivf_topk" -> (q43IvfTopK _),
    "q44_pivot" -> (q44Pivot _),
    "q45_posexplode" -> (q45Posexplode _),
    "q46_running_sum" -> (q46RunningSum _),
    "q47_null_semantics" -> (q47NullSemantics _),
    "q48_string_fns" -> (q48StringFns _),
    "q49_date_parts" -> (q49DateParts _),
    "q50_map_keys" -> (q50MapKeys _),
    "q51_asof_join" -> (q51AsofJoin _),
    "q52_range_join" -> (q52RangeJoin _),
    "q53_dedup_clusters" -> (q53DedupClusters _),
    "q54_hash_sample" -> (q54HashSample _),
    "q55_grouping_sets" -> (q55GroupingSets _),
    "q56_unpivot" -> (q56Unpivot _),
    "q57_percentiles" -> (q57Percentiles _),
    "q58_corpus_select" -> (q58CorpusSelect _),
    "q59_running_total" -> (q59RunningTotal _),
    "q60_scd2" -> (q60Scd2 _),
    "q61_vocab_topk" -> (q61VocabTopk _),
    "q62_stratified_sample" -> (q62StratifiedSample _),
    "q63_repetition" -> (q63Repetition _),
    "q64_quantize" -> (q64Quantize _),
    "q65_contamination" -> (q65Contamination _),
    "q66_salted_join" -> (q66SaltedJoin _),
    "q67_asof_forward" -> (q67AsofForward _),
    "q68_topk_agg" -> (q68TopkAgg _),
    "q69_gap_fill" -> (q69GapFill _),
    "q70_ntile" -> (q70Ntile _),
    "q71_redact" -> (q71Redact _),
    "q72_sequence_packing" -> (q72SequencePacking _),
    "q73_point_in_time" -> (q73PointInTime _),
    "q74_percent_rank" -> (q74PercentRank _),
    "q75_array_ops" -> (q75ArrayOps _),
    "q76_tfidf" -> (q76Tfidf _),
    "q77_attribution" -> (q77Attribution _),
    "q78_rolling_range" -> (q78RollingRange _),
    "q79_string_agg" -> (q79StringAgg _),
    "q80_locf" -> (q80Locf _),
    "q81_funnel" -> (q81Funnel _),
    "q82_retention" -> (q82Retention _),
    "q83_quality_checks" -> (q83QualityChecks _),
    "q84_offset_pages" -> (q84OffsetPages _),
    "q85_semantic_dedup" -> (q85SemanticDedup _),
    "q86_incremental_dedup" -> (q86IncrementalDedup _),
    "q87_pq_topk" -> (q87PqTopK _),
    "q88_chunking" -> (q88Chunking _),
    "q89_pq_rerank" -> (q89PqRerank _),
    "q90_ann_recall" -> (q90AnnRecall _),
    "q91_lsh_recall" -> (q91LshRecall _),
    "q92_ivf_recall" -> (q92IvfRecall _),
    "q93_pii_redact" -> (q93PiiRedact _),
    "q94_ivf_serve" -> (q94IvfServe _),
    "q95_pq_serve" -> (q95PqServe _),
    "q96_lsh_multiband" -> (q96LshMultiband _),
    "q97_banded_range_join" -> (q97BandedRangeJoin _),
    "q98_banded_overlap_join" -> (q98BandedOverlapJoin _),
    "q99_substring_dedup" -> (q99SubstringDedup _),
    "q100_strip_dup_spans" -> (q100StripDupSpans _),
    "q101_mixture_sample" -> (q101MixtureSample _),
    "q102_snapshot_cdf" -> (q102SnapshotCdf _),
    "q103_lm_score" -> (q103LmScore _),
    "q104_zorder_cells" -> (q104ZorderCells _),
    "q105_shard_export" -> (q105ShardExport _),
    "q106_bpe_merges" -> (q106BpeMerges _),
    "q107_bpe_encode" -> (q107BpeEncode _),
    "q108_bm25_keywords" -> (q108Bm25Keywords _),
    "q109_quality_threshold" -> (q109QualityThreshold _),
    "q110_curation_pipeline" -> (q110CurationPipeline _),
    "q111_incremental_spans" -> (q111IncrementalSpans _),
    "q112_ivfpq_topk" -> (q112IvfPqTopK _),
    "q113_stats_pruned_read" -> (q113StatsPrunedRead _),
    "q114_incremental_ann" -> (q114IncrementalAnn _),
    "q115_ivf_cell_stats" -> (q115IvfCellStats _),
    "q116_incremental_rollup" -> (q116IncrementalRollup _),
    "q117_additive_rollup" -> (q117AdditiveRollup _),
    "q118_fuzzy_match" -> (q118FuzzyMatch _),
    "q119_distinct_rollup" -> (q119DistinctRollup _),
    "q120_incremental_ivfpq" -> (q120IncrementalIvfPq _),
    "q121_cow_delete" -> (q121CowDelete _),
    "q122_cow_update" -> (q122CowUpdate _),
    "q123_cow_merge" -> (q123CowMerge _),
    "q124_approx_quantile" -> (q124ApproxQuantile _),
    "q125_streaming_upsert" -> (q125StreamingUpsert _),
    "q126_zorder_optimize" -> (q126ZorderOptimize _),
    "q127_keyset_agg_pushdown" -> (q127KeysetAggPushdown _),
    "q128_cluster_keep_best" -> (q128ClusterKeepBest _),
    "q129_mor_delete" -> (q129MorDelete _),
    "q130_mor_update" -> (q130MorUpdate _),
    "q131_mor_merge" -> (q131MorMerge _),
    "q132_table_lifecycle" -> (q132TableLifecycle _),
    "q133_keep_best_curation" -> (q133KeepBestCuration _),
    "q134_schema_evolution" -> (q134SchemaEvolution _),
    "q135_restore" -> (q135Restore _),
    "q136_change_feed" -> (q136ChangeFeed _),
    "q137_clone" -> (q137Clone _),
    "q138_bloom_lookup" -> (q138BloomLookup _),
    "q139_metadata_agg" -> (q139MetadataAgg _),
    "q140_replication" -> (q140Replication _),
    "q141_auto_cdf" -> (q141AutoCdf _),
    "q142_analyze" -> (q142Analyze _),
    "q143_delta_manifest" -> (q143DeltaManifest _),
    "q144_partitioned_delete" -> (q144PartitionedDelete _),
    "q145_append_rows" -> (q145AppendRows _),
    "q146_purge_propagation" -> (q146PurgePropagation _),
    "q147_idempotent_append" -> (q147IdempotentAppend _),
    "q148_small_file_compaction" -> (q148SmallFileCompaction _),
    "q149_bpe_batched" -> (q149BpeBatched _),
    "q150_ckpt_pruned_read" -> (q150CkptPrunedRead _),
    "q151_frame_sampling" -> (q151FrameSampling _),
    "q152_colocated_merge" -> (q152ClusteredMerge _),
    "q153_distributed_vacuum" -> (q153DistributedVacuum _),
    "q154_edits_commit_path" -> (q154EditsCommitPath _),
    "q155_catalyst_scan" -> (q155CatalystScan _),
    "q156_sql_catalog" -> (q156SqlCatalog _),
    "q157_mor_named_read" -> (q157MorNamedRead _),
    "q158_sql_merge" -> (q158SqlMerge _),
    "q159_sql_alter" -> (q159SqlAlter _),
    "q160_ddl_properties" -> (q160DdlProperties _),
    "q161_sql_maintenance" -> (q161SqlMaintenance _),
    "q162_sql_subquery_dml" -> (q162SqlSubqueryDml _),
    "q163_merge_actions" -> (q163MergeActions _),
    "q164_merge_by_source" -> (q164MergeBySource _),
    "q165_sql_table_changes" -> (q165SqlTableChanges _)
  )
}
