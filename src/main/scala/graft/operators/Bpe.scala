package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * tokenizer-construction step of a training-data pipeline, in the
  * scale-correct formulation: the corpus is scanned ONCE to build the
  * word-frequency table, and every merge iteration runs over that
  * DISTINCT-WORD table (vocabulary-sized, Zipf-bounded — millions of rows
  * for a 100 TB corpus, not trillions), weighting pair counts by word
  * frequency. Per iteration: one map-side-combined aggregation on the
  * pair key plus a 1-row argmax collect; the corpus itself is never
  * rescanned after the first pass.
  *
  * Word representation: space-joined characters plus a `</w>` end-of-word
  * symbol (`"the" → "t h e </w>"`). A merge of pair `(a, b)` rewrites
  * every non-overlapping ` a b ` occurrence to ` ab ` left-to-right —
  * literal string replacement on the padded sequence, which any engine
  * reproduces exactly (the padding spaces make token boundaries explicit,
  * so a pair can never match inside a previously merged symbol).
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Word-frequency table of a corpus: canonical tokens → count. The one
    * corpus-sized aggregation in the whole trainer.
    */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.canonicalTokens(col(textCol))).alias("word"))
      .groupBy(col("word")).agg(count(lit(1)).alias("f"))

  /** Chars-plus-marker sequence of one word (`"the" → "t h e </w>"`).
    * split-by-empty-regex yields single chars; the filter guards the
    * engine-quirk empty fragments.
    */
  private def charSeq(w: Column): Column =
    concat(array_join(filter(split(w, ""), c => length(c) > 0), " "),
      lit(" " + EndOfWord))

  /** Initial char-sequence form: `(seq, f)` with seq = chars + `</w>`. */
  def initialSeqs(wordFreq: DataFrame): DataFrame =
    wordFreq.select(charSeq(col("word")).alias("seq"), col("f"))

  /** Frequency-weighted adjacent-pair counts of the current sequences. */
  def pairCounts(seqs: DataFrame): DataFrame = {
    val toks = split(col("seq"), " ")
    seqs.filter(size(toks) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
        .alias("pair"),
        col("f"))
      .groupBy(col("pair")).agg(sum(col("f")).alias("cnt"))
  }

  /** Apply one merge: every ` a b ` → ` ab `, literal and left-to-right. */
  def applyMerge(seqs: DataFrame, pair: String): DataFrame = {
    val merged = pair.replace(" ", "")
    seqs.withColumn("seq",
      trim(regexp_replace(concat(lit(" "), col("seq"), lit(" ")),
        lit(java.util.regex.Pattern.quote(s" $pair ")),
        lit(java.util.regex.Matcher.quoteReplacement(s" $merged ")))))
  }

  /** Train `k` merges. Returns (merge table `(rank, pair, cnt)`, final
    * sequences). Ties break deterministically: highest count, then
    * lexicographically smallest pair. Each iteration's argmax is a 1-row
    * driver collect; the growing lineage is checkpoint-free because k is
    * small by contract (vocab construction, not a fixpoint).
    */
  def trainMerges(wordFreq: DataFrame, k: Int): (Seq[(Int, String, Long)], DataFrame) = {
    require(k >= 1 && k <= 64, s"k merges out of range: $k")
    // Materialize the vocabulary-sized base ONCE. Without this, every
    // iteration's argmax recomputes the whole input lineage — for a
    // corpus-derived wordFreq that is a full corpus re-scan + re-tokenize
    // PER MERGE (k+1 scans), not the advertised single pass. The cache is
    // vocab-sized (Zipf-bounded) and released before returning.
    val base = initialSeqs(wordFreq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var seqs = base
      val merges = Seq.newBuilder[(Int, String, Long)]
      var rank = 0
      var exhausted = false
      while (rank < k && !exhausted) {
        val top = pairCounts(seqs)
          .orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (pair, cnt) = (top(0).getString(0), top(0).getLong(1))
          merges += ((rank, pair, cnt))
          seqs = applyMerge(seqs, pair)
          rank += 1
        }
      }
      val out = merges.result()
      // the returned sequences are a FRESH lineage over the caller's
      // wordFreq (initial seqs + the whole merge chain) so they remain
      // valid after the training cache is released in the finally below
      (out, out.foldLeft(initialSeqs(wordFreq))((df, m) => applyMerge(df, m._2)))
    } finally base.unpersist(blocking = false)
  }

  /** Batched trainer — the 32k-merge-vocab scale form. [[trainMerges]]
    * prices one pair-count JOB per merge (fine for the gated k=3 form,
    * 32k sequential jobs for a production vocabulary); this variant prices
    * one job per BATCH: each iteration aggregates pair counts once, ranks
    * `(cnt desc, pair asc)`, and accepts the longest RANK-PREFIX of pairs
    * whose symbols are mutually disjoint (≤ `maxBatch`), merging them all
    * before the next count.
    *
    * Equivalence contract: within an accepted prefix, merges touch
    * disjoint symbols, so their applications commute and none changes
    * another's count — the batch is exactly the sequence the one-merge
    * trainer would pick UNLESS a merge in the prefix CREATES a new pair
    * outranking a later prefix member (`x ab` born from `a b` can carry up
    * to the merged pair's mass). The prefix CUT at the first conflicting
    * candidate keeps cascades sequential (the textbook `e s → es t →
    * est </w>` chain batches as three singleton batches), and `maxBatch=1`
    * reproduces [[trainMerges]] exactly; larger batches are the standard
    * fast-BPE cost/fidelity trade, and BpeSpec pins both the equivalence
    * cases and the contract.
    *
    * Lineage is truncated per batch (`localCheckpoint`), so a 32k-merge
    * run holds a ≤`maxBatch`-deep replace plan instead of a 32k-deep one.
    */
  def trainMergesBatched(wordFreq: DataFrame, k: Int, maxBatch: Int = 256):
      (Seq[(Int, String, Long)], DataFrame) = {
    require(k >= 1 && k <= 65536, s"k merges out of range: $k")
    require(maxBatch >= 1, s"maxBatch must be >= 1: $maxBatch")
    // LAZY checkpoints throughout the loop: each iteration's pair-count
    // collect is the action that materializes the pending checkpoint, so
    // the separate eager-checkpoint job (plus its planning gap) disappears
    // — at ~3 driver round-trips per iteration and up to k iterations
    // when prefixes cut early, that job was a third of the loop's wall
    // time. The superseded checkpoint's blocks are released only AFTER
    // the next action has durably materialized the new one (a lazy
    // checkpoint's lineage still reads the predecessor's blocks until it
    // runs — unpersisting first would kill the recompute path).
    var seqs = initialSeqs(wordFreq).localCheckpoint(eager = false)
    var prevSeqs: Option[DataFrame] = None
    val merges = Seq.newBuilder[(Int, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < k && !exhausted) {
      val want = math.min(maxBatch, k - rank)
      val cands = pairCounts(seqs)
        .orderBy(col("cnt").desc, col("pair").asc).limit(want).collect()
      // seqs' checkpoint is durable now — the predecessor can go
      prevSeqs.foreach(_.unpersist(blocking = false)); prevSeqs = None
      if (cands.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.HashSet[String]()
        val batch = Seq.newBuilder[(String, Long)]
        var cut = false
        cands.foreach { r =>
          if (!cut) {
            val pair = r.getString(0)
            val syms = pair.split(' ')
            if (syms.exists(used)) cut = true
            else { syms.foreach(used += _); batch += ((pair, r.getLong(1))) }
          }
        }
        val accepted = batch.result()
        accepted.foreach { case (pair, cnt) =>
          merges += ((rank, pair, cnt)); rank += 1
        }
        // disjoint symbols ⇒ the replaces commute; fold + LAZY checkpoint
        // keeps the plan batch-deep without paying a dedicated
        // materialization job — the next iteration's count collect runs
        // it. Blocks are still released explicitly (top of the loop),
        // one iteration deferred: GC-driven cleanup alone would
        // accumulate one vocabulary-sized copy per batch (~k/maxBatch
        // copies on exactly the production-vocab runs this variant is for)
        prevSeqs = Some(seqs)
        seqs = accepted.foldLeft(seqs)((df, m) => applyMerge(df, m._1))
          .localCheckpoint(eager = false)
      }
    }
    // normal full-vocabulary exit (rank >= k): the final checkpoint is
    // still LAZY and prevSeqs still holds the superseded blocks — without
    // this they leak one vocabulary-sized cached copy per training call
    // (the caller cannot release them; unpersisting before the successor
    // is durable would break its recompute path). Materialize the final
    // frame cheaply, then release the predecessor — even when the count
    // fails, so the failure path cannot leak it. The exhausted exit
    // already cleared prevSeqs at the top of the loop.
    prevSeqs.foreach { p =>
      try seqs.count()
      finally p.unpersist(blocking = false)
    }
    (merges.result(), seqs)
  }

  /** Merged symbol sequences for a table of DISTINCT words: `(word, syms)`
    * with the merge list applied in rank order — row-local replace chain
    * over the VOCABULARY, which is how corpus-scale encoding should run:
    * the per-word merge work is paid once per distinct word (Zipf-bounded),
    * and the corpus is touched only by a token→vocab equi-join (AQE
    * broadcasts any real vocabulary). See q107 for the composed shape.
    */
  def encodeVocab(words: DataFrame, merges: Seq[String]): DataFrame = {
    val seq0 = charSeq(col("word"))
    val seqN = merges.foldLeft(seq0) { (s, pair) =>
      val merged = pair.replace(" ", "")
      trim(regexp_replace(concat(lit(" "), s, lit(" ")),
        lit(java.util.regex.Pattern.quote(s" $pair ")),
        lit(java.util.regex.Matcher.quoteReplacement(s" $merged "))))
    }
    words.select(col("word"), split(seqN, " ").alias("syms"))
  }

  /** Encode a corpus with a trained merge list: the same replace chain,
    * row-local (no shuffle — merges broadcast as literals in the plan).
    * Returns docs plus `bpe_tokens` (the symbol array per document's
    * canonical words, merges applied in rank order). Order-preserving and
    * join-free — right for serving single documents; for BULK corpus
    * encoding prefer [[encodeVocab]] + join, which pays the merge chain
    * once per DISTINCT word instead of once per occurrence.
    */
  def encode(docs: DataFrame, textCol: String, merges: Seq[String]): DataFrame = {
    val mergedSeq = merges.foldLeft[Column => Column](charSeq _) { (f, pair) =>
      val merged = pair.replace(" ", "")
      w => trim(regexp_replace(concat(lit(" "), f(w), lit(" ")),
        lit(java.util.regex.Pattern.quote(s" $pair ")),
        lit(java.util.regex.Matcher.quoteReplacement(s" $merged "))))
    }
    docs.withColumn("bpe_tokens",
      flatten(transform(TextAnalysis.canonicalTokens(col(textCol)),
        w => split(mergedSeq(w), " "))))
  }
}
