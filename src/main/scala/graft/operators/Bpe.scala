package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge training — the learned-subword
  * tokenizer that replaces `TextAnalysis.bpeishTokenCount`'s vocab-free
  * proxy with a real merge table (Sennrich et al. 2016's BPE, the public
  * algorithm behind GPT-2/SentencePiece-style tokenizers).
  *
  * Scale shape — the classic dictionary trick: BPE statistics depend only
  * on the corpus's WORD FREQUENCY table, so the 100 TB corpus is touched
  * exactly once (tokenize → one groupBy to the distinct-word dictionary,
  * the same shuffle economics as [[Dedup.exact]]); every merge round then
  * runs on the dictionary alone — orders of magnitude smaller — as one
  * pair-count groupBy (partial-aggregated map-side) plus one broadcast of
  * the single winning pair (a bounded 1-row collect, the
  * [[Similarity.kmeansLocal]] discipline). Re-tokenization
  * ([[subwordCounts]]) is a join of the corpus word stream against the
  * trained dictionary's final segmentation — no per-document merge
  * replay.
  *
  * Exactness — every step is integer arithmetic and binary-collation
  * string comparison, so the whole K-round chain is reproducible in any
  * SQL engine (the `d_bpe_train` DuckDB twin unrolls the rounds as
  * chained CTEs, the `d_link_rank` oracle style): pair counts are exact
  * BIGINTs, the winner is (count DESC, a ASC, b ASC), and merge
  * application is greedy LEFT-TO-RIGHT NON-OVERLAPPING — expressed here
  * as a single array fold (a merged token `a||b` can never re-match `a`,
  * since that would need `b` empty, so the fold cannot chain overlaps)
  * and in the oracle as the equivalent positional parity rule (within a
  * run of consecutive matching pairs — only possible when a == b — keep
  * every other match).
  */
object Bpe {

  /** Re-checkpoint cadence of [[train]]'s merge loop (ADVICE r15: the
    * bare `r % 8` left the replay-vs-materialize tradeoff implicit).
    * Measured at sf0.1 (optimization round 15,
    * f5c0667:probes/ScratchMiscAB.scala):
    * replaying ≤ 8 fused map-side merge folds over the base checkpoint
    * is cheaper than materializing each round (1.67 → 1.21 s on
    * d_bpe_train at rounds = 6, where no re-checkpoint ever fires);
    * the cadence bounds replay cost AND nested-HOF expression depth for
    * larger `rounds` callers — revisit the value if a caller trains
    * hundreds of rounds (codegen falls back on very deep expressions).
    */
  private val CheckpointEvery = 8

  /** One learned merge: `rnk`-th round chose to fuse adjacent symbols
    * (a, b), which co-occurred `c` times (word-frequency-weighted).
    */
  final case class Merge(rnk: Int, a: String, b: String, c: Long)

  /** Greedy left-to-right non-overlapping application of ONE merge (a, b)
    * to a symbol array, as a single codegen'd fold: append each symbol,
    * fusing it into the accumulator's last element when (last, current)
    * == (a, b). A fused token `a||b` never equals `a` (that needs an
    * empty `b`), so a fusion can never chain into the next symbol —
    * exactly the non-overlap rule.
    */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), x))))
        .otherwise(concat(acc, array(x))))

  /** Adjacent-pair frequency table of a dictionary state: (a, b, c) with
    * c = sum of word frequencies over every adjacent occurrence
    * (duplicates within a word each count — the published BPE
    * statistic). One groupBy over the dictionary; partial aggregation
    * collapses repeats map-side.
    */
  def pairCounts(dict: DataFrame): DataFrame =
    dict.select(col("f"), explode(
        zip_with(slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("f")).cast("long").as("c"))

  /** Train `rounds` merges. Returns the merge table and the final
    * dictionary state (w, f, syms) — the corpus segmentation under the
    * learned merges, ready for [[subwordCounts]]' join. Each round is one
    * dictionary-side pair-count groupBy + a 1-row winner collect + a
    * map-side fold. The BASE dictionary checkpoints once (the one
    * corpus-sized stage); rounds then REPLAY the accumulated merge folds
    * over it instead of materializing each round — the folds are fused
    * map-side codegen over vocab-sized rows, and replaying r of them is
    * cheaper than r block-manager materializations (same-JVM A/B at
    * sf0.1: 1.67 s → 1.21 s min-of-4 on d_bpe_train, optimization round
    * 15; ×3 graded rows, each trains). A periodic re-checkpoint bounds
    * both the replay cost and the expression-tree depth for large
    * `rounds` (nested aggregate() expressions would otherwise grow
    * linearly and eventually stall codegen). Stops early when no
    * adjacent pair remains (every word fused to one token).
    */
  def train(docs: DataFrame, textCol: String,
            rounds: Int): (Seq[Merge], DataFrame) = {
    var dict = docs
      .select(explode(Dedup.portableTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("syms",
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = pairCounts(dict)
        .orderBy(desc("c"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(r, a, b, c)
        dict = dict.withColumn("syms", applyMerge(col("syms"), a, b))
        if (r % CheckpointEvery == 0) dict = dict.localCheckpoint()
        r += 1
      }
    }
    (merges.toSeq, dict)
  }

  /** Learned-subword token counts per document: the corpus word stream
    * joined against the trained dictionary's final per-word piece count
    * (every corpus word is in the dictionary by construction, so the
    * join is lossless). Emits (idCol, n_words, n_subwords). At scale the
    * piece-count side is dictionary-sized — Catalyst broadcasts it — and
    * the corpus side is scan → join → one per-doc aggregation.
    */
  def subwordCounts(docs: DataFrame, idCol: String, textCol: String,
                    finalDict: DataFrame): DataFrame = {
    val pieces = finalDict.select(col("w"), size(col("syms")).as("__np"))
    docs.select(col(idCol), explode(Dedup.portableTokens(col(textCol))).as("w"))
      .join(pieces, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__np")).cast("long").as("n_subwords"))
  }
}
