package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** The serial formulations of BPE training and encoding that the
  * batched trainer ([[Bpe.trainMergesBatched]]) and the native merge
  * kernel ([[graft.plans.BpeEncode]]) replaced, kept as their parity
  * oracles: one merge per round, each applied as an interpreted
  * `aggregate()` fold (BpeSpec, StreamingBpeSpec).
  */
object BpeOracles {

  /** The serial Sennrich training loop: `rounds` merge rounds, each
    * (1) counting adjacent SYMBOL pairs over the vocab weighted by word
    * frequency (overlapping — get_stats), (2) choosing the top pair
    * with the deterministic (count desc, pair asc) ranking,
    * (3) re-tokenizing the vocab with [[mergeFoldSql]] and
    * (4) recounting the corpus tokens after the merge. Returns one row
    * per round: (round, pair_a, pair_b, n_adjacent, n_tokens_after).
    *
    * Two driver-synchronized jobs per merge (the top-1 collect and the
    * recount). Each round's vocab is re-persisted and the previous
    * round released, so peak cache is 2× vocab; the vocab's lineage is
    * cut by [[Bpe.lineageCut]], as in the batched trainer.
    */
  def trainMerges(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = charVocab(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS pa, element_at(syms, i + 1) AS pb))")).as("p"),
          col("freq"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (pa, pb, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val next = vocab.select(expr(mergeFoldSql(pa, pb)).as("syms"),
          col("freq"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nAfter = next.agg(sum(size(col("syms")).cast("long") * col("freq")))
          .collect()(0).getLong(0)
        vocab.unpersist(blocking = false)
        vocab = Bpe.lineageCut(next, r)
        merges += ((r, pa, pb, cnt, nAfter))
        r += 1
      }
    }
    vocab.unpersist(blocking = false)
    merges.toSeq.toDF("round", "pair_a", "pair_b", "n_adjacent", "n_tokens_after")
  }

  /** [[Bpe.encodeTokenFreqWf]] over a corpus as M chained interpreted
    * `aggregate()` folds, one per merge — the formulation the native
    * kernel replaced, because M chained HOF projections cannot reach a
    * real 32k-merge vocabulary (CodegenFallback per fold, Catalyst
    * analysis on an M-deep projection chain).
    */
  def encodeTokenFreqFold(docs: DataFrame,
                          merges: Seq[(String, String)]): DataFrame = {
    var vocab = charVocab(docs)
    for ((pa, pb) <- merges)
      vocab = vocab.select(expr(mergeFoldSql(pa, pb)).as("syms"), col("freq"))
    vocab.select(explode(col("syms")).as("token"), col("freq"))
      .groupBy(col("token"))
      .agg(sum(col("freq")).as("freq"))
  }

  private def charVocab(docs: DataFrame): DataFrame =
    Bpe.charVocabWf(Bpe.wordFreq(docs))

  /** The left-to-right non-overlapping merge of symbol pair (pa, pb)
    * as a SQL fold over a syms array. The fold represents a word's
    * symbols as a '|'-delimited string: step(acc, s) appends s WITHOUT
    * a delimiter when acc ends with '|'+pa and s = pb (fusing the
    * trailing pa into pa·pb, whose tail no longer matches — non-overlap
    * falls out), else '|'+s. The q179 oracle replays it in DuckDB as
    * list_reduce over list_prepend('', syms). pa/pb come from the
    * `^[a-z0-9]+$` training alphabet, so embedding them in the
    * expression text and using '|' as the delimiter are both safe.
    */
  private def mergeFoldSql(pa: String, pb: String): String = {
    // enforce the alphabet contract loudly: a pair containing ' , | or \
    // would otherwise silently corrupt tokenization or throw a SQL
    // parse error from inside the generated expression text
    require(pa.matches("[a-z0-9]+") && pb.matches("[a-z0-9]+"),
      s"BPE merge pair ('$pa', '$pb') outside the [a-z0-9]+ training alphabet")
    s"split(substring(aggregate(syms, '', (acc, s) -> " +
      s"CASE WHEN endswith(acc, concat('|', '$pa')) AND s = '$pb' " +
      s"THEN concat(acc, s) ELSE concat(acc, '|', s) END), 2), '\\\\|')"
  }
}
