package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.functions.expressions.{CanonicalTokens, CosineSimilarity, HashedTokens, MinHashSig, SimHash, TextProfile, WordShingles}

/** Session extensions (SURVEY §4.2): SQL-callable registrations of the
  * engine's native expressions, injected via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Plan rules:
  *   - `TopNWindowRewrite` (optimizer) — window top-N as a bounded top-k
  *     aggregate (graft.plans.TopNWindowRewrite)
  *   - `SmallRangeSort` (adaptive query-stage prep) — a global sort over
  *     an input that coalescing would merge into one partition gets a
  *     one-partition range exchange, with no sampling job
  *     (graft.plans.SmallRangeSort)
  *
  * Functions:
  *   - `cosine_similarity(a, b)` — the codegen'd kernel (CosineSimilarity)
  *   - `graft_hash_id(s)`       — the reference's hash_id contract
  *     (`utils.py:46-55`): sha1 hex, null/empty → null, as pure Catalyst
  *     nodes so SQL callers get the same null semantics as the Column API
  *   - `word_shingles(text[, n])`, `minhash_sig(shingles, k)`,
  *     `hashed_tokens(text)`, `graft_simhash(text)`, `text_profile(text)`,
  *     `gram_anchors(text, k[, hexPrefix])`, `pii_scrub(text)`
  *     — the fused text-dedup/profile/scrub kernels
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    // optimizer rule: window top-N (row_number <= k) → bounded topk
    // aggregate with map-side partials (see graft.plans.TopNWindowRewrite)
    e.injectOptimizerRule(_ => graft.plans.TopNWindowRewrite())
    // adaptive prep rule: a global sort over an input that coalescing
    // would merge into one partition anyway gets a one-partition range
    // exchange, so the range partitioner runs no sampling job
    // (see graft.plans.SmallRangeSort)
    e.injectQueryStagePrepRule(_ => graft.plans.SmallRangeSort)
    // snapshot-format SQL statements: DELETE/UPDATE/MERGE on registered
    // graft-snapshot tables → the engine's commit verbs, and catalog
    // reads of non-file-relation versions (live DVs, empty bodies) →
    // the distributed materialized read (see graft.plans.SnapshotStatements)
    e.injectPostHocResolutionRule(session =>
      graft.plans.SnapshotStatements(session))
    // SQL-only windowed CDF read: table_changes('t'|'/root', from[, to])
    // — versions inclusive, coverage validated at plan time (a vacuumed
    // window refuses, never partial changes). See ChangeFeed.tableChangesPlan
    e.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[graft.sources.ChangeFeed.type].getName,
        "table_changes"),
      (args: Seq[Expression]) =>
        graft.sources.ChangeFeed.tableChangesPlan(args)))
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_similarity(a, b) takes two arrays")
        CosineSimilarity(args.head, args(1))
      }))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => WordShingles(t)
        case Seq(t, n) => WordShingles(t, litInt(n, "shingle size"))
        case _ => throw new IllegalArgumentException("word_shingles(text[, n])")
      }))
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_sig(shingles, numHashes)")
        MinHashSig(args.head, litInt(args(1), "numHashes"))
      }))
    e.injectFunction((
      FunctionIdentifier("canonical_tokens"),
      new ExpressionInfo(classOf[CanonicalTokens].getName, "canonical_tokens"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "canonical_tokens(text)")
        CanonicalTokens(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("hashed_tokens"),
      new ExpressionInfo(classOf[HashedTokens].getName, "hashed_tokens"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "hashed_tokens(text)")
        HashedTokens(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash(text)")
        SimHash(HashedTokens(args.head))
      }))
    e.injectFunction((
      FunctionIdentifier("text_profile"),
      new ExpressionInfo(classOf[TextProfile].getName, "text_profile"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "text_profile(text)")
        TextProfile(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("topk"),
      new ExpressionInfo(classOf[graft.functions.expressions.TopK].getName, "topk"),
      (args: Seq[Expression]) => args match {
        case Seq(c, kArg) =>
          graft.functions.expressions.TopK(c, litInt(kArg, "k"))
        case Seq(c, kArg, Literal(desc: Boolean, org.apache.spark.sql.types.BooleanType)) =>
          graft.functions.expressions.TopK(c, litInt(kArg, "k"), descending = desc)
        case _ => throw new IllegalArgumentException("topk(col, k[, descending])")
      }))
    e.injectFunction((
      FunctionIdentifier("int8_quantize"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.Int8Quantize].getName, "int8_quantize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "int8_quantize(vec) takes one array argument")
        graft.functions.expressions.Int8Quantize(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("int8_dequantize"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.Int8Dequantize].getName, "int8_dequantize"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          "int8_dequantize(q) takes one struct<scale, codes> argument")
        graft.functions.expressions.Int8Dequantize(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("gram_anchors"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.GramAnchors].getName, "gram_anchors"),
      (args: Seq[Expression]) => args match {
        case Seq(t, kArg) =>
          graft.functions.expressions.GramAnchors(t, litInt(kArg, "k"), "0")
        case Seq(t, kArg, Literal(p: org.apache.spark.unsafe.types.UTF8String, _: StringType)) =>
          graft.functions.expressions.GramAnchors(t, litInt(kArg, "k"), p.toString)
        case _ => throw new IllegalArgumentException(
          "gram_anchors(text, k[, hexPrefix]) — prefix must be a string literal")
      }))
    e.injectFunction((
      FunctionIdentifier("pii_scrub"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.PiiScrub].getName, "pii_scrub"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "pii_scrub(text) takes one argument")
        graft.functions.expressions.PiiScrub(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("graft_hash_id"),
      new ExpressionInfo(classOf[Sha1].getName, "graft_hash_id"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_hash_id(s) takes one argument")
        val c = args.head
        If(Or(IsNull(c), EqualTo(c, Literal(""))),
          Literal(null, StringType),
          Sha1(Cast(c, BinaryType)))
      }))
  }
}
