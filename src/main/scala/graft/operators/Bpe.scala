package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair encoding) vocabulary induction — the
  * tokenizer-training step of an LLM data pipeline, run as Spark
  * relational algebra.
  *
  * The scale trick: BPE statistics depend only on the WORD FREQUENCY
  * table, not the corpus — so the corpus is touched exactly once (one
  * map-side-combined `groupBy(word)`), and every training iteration
  * after that runs over the vocabulary-sized relation (≤ a few 10⁷
  * rows for any real corpus, vs 10¹¹+ corpus tokens at 100 TB).
  * Iterations are driver-coordinated but all data stays distributed;
  * the per-round driver value is the single winning pair (a scalar,
  * like a broadcast-join threshold).
  *
  * No UDFs: segmentations are `array<string>` columns, the per-round
  * merge is an `aggregate` HOF fold, pair extraction is
  * `zip_with`+`slice`.
  */
object Bpe {

  /** The word-frequency relation: one row per distinct word with its
    * corpus count. The only corpus-sized pass in BPE training. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))

  /** Frequency-weighted adjacent symbol-pair counts over a
    * segmentation relation (`word | freq | syms array<string>`). */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .where(size(col("syms")) > 1)
      .select(col("freq"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
      .select(col("p.l").as("lhs"), col("p.r").as("rhs"), col("freq"))
      .groupBy("lhs", "rhs")
      .agg(sum(col("freq")).as("n"))

  /** Character-level adjacent pair counts straight from the corpus —
    * the round-0 BPE statistic (and `q_bpe_pairs`'s oracle target):
    * for every distinct word, each (char i, char i+1) pair weighted by
    * the word's corpus frequency. */
  def bpePairCounts(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be > 0, got $topK")
    wordFreq(docs, textCol)
      .where(length(col("word")) > 1)
      .select(col("freq"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"),
        col("word"))
      .select(
        expr("substr(word, i, 1)").as("lhs"),
        expr("substr(word, i + 1, 1)").as("rhs"),
        col("freq"))
      .groupBy("lhs", "rhs")
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("lhs"), col("rhs"))
      .limit(topK)
  }

  /** Train `numMerges` BPE merges. Returns the merge list in order and
    * the final segmentation relation (`word | freq | syms`). Ties on
    * pair count break lexicographically so training is deterministic.
    *
    * Each round: one vocabulary-sized aggregate to find the winning
    * pair (driver scalar), one map-only fold to apply the merge
    * left-to-right non-overlapping, then `localCheckpoint` to keep the
    * iterated plan flat. Stops early when no pair repeats. */
  def trainBpe(
      docs: DataFrame, textCol: String,
      numMerges: Int): (Seq[(String, String)], DataFrame) = {
    require(numMerges > 0, s"numMerges must be > 0, got $numMerges")
    var vocab = wordFreq(docs, textCol)
      .select(col("word"), col("freq"),
        expr("split(word, '')").as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val la = lit(a)
        val lb = lit(b)
        // left-to-right non-overlapping merge as a fold: append x, or
        // if (last, x) == (a, b) replace last with a||b
        val merged = aggregate(
          col("syms"),
          array().cast("array<string>"),
          (acc: Column, x: Column) =>
            when(size(acc) > 0 && element_at(acc, -1) === la && x === lb,
              concat(slice(acc, lit(1), size(acc) - 1), array(concat(la, lb))))
              .otherwise(concat(acc, array(x))))
        val prev = vocab
        vocab = vocab.select(col("word"), col("freq"), merged.as("syms"))
          .localCheckpoint()
        prev.unpersist()
        round += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** Segment `textCol` with a trained merge list — the map-only apply
    * step (tokenization) that runs over the full corpus. Merges apply
    * in training order per word. */
  def applyBpe(
      docs: DataFrame, textCol: String,
      merges: Seq[(String, String)], outCol: String): DataFrame = {
    val segmented = merges.foldLeft(
      expr(s"transform(split($textCol, ' '), w -> split(w, ''))")) {
      case (acc, (a, b)) =>
        val la = lit(a)
        val lb = lit(b)
        transform(acc, w =>
          aggregate(
            w,
            array().cast("array<string>"),
            (st: Column, x: Column) =>
              when(size(st) > 0 && element_at(st, -1) === la && x === lb,
                concat(slice(st, lit(1), size(st) - 1), array(concat(la, lb))))
                .otherwise(concat(st, array(x)))))
    }
    docs.withColumn(outCol, flatten(segmented))
  }
}
