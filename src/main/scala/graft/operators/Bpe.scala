package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** BPE tokenizer-training statistics (Sennrich et al., ACL 2016 —
  * "Neural Machine Translation of Rare Words with Subword Units"): the
  * inner loop of byte-pair-encoding training is "count adjacent symbol
  * pairs over the corpus, merge the most frequent" — this operator is
  * that loop's distributed statistics pass at the character stage,
  * reporting for each top candidate pair BOTH counts the loop needs:
  *
  *  - `n_adjacent`: occurrences of the pair as adjacent symbols,
  *    overlapping ("aaa" contains "aa" twice) — the get_stats count
  *    that RANKS merge candidates in the reference implementation;
  *  - `n_merge_apply`: occurrences a left-to-right non-overlapping
  *    merge would actually fuse ("aaa" → [aa, a], one fusion) — the
  *    token-count reduction applying that merge buys. Computed without
  *    regexes as (len(word) − len(replace(word, pair, ''))) / 2:
  *    SQL `replace` scans left-to-right non-overlapping on both
  *    engines, exactly the BPE application order.
  *
  * Scale shape — the reason BPE training is feasible on a 100 TB
  * corpus at all: after ONE corpus scan builds the word-frequency
  * table, every round of the training loop runs against the
  * VOCAB-sized table (words × frequencies), not the corpus. Here:
  * corpus scan → word counts (one hash shuffle, map-side combined);
  * pair stats explode ~len(word) rows per DISTINCT word; candidate
  * ranking is top-k via TakeOrderedAndProject; the merge-apply count
  * joins the k-row candidate table against the vocab (bounded k×|V|
  * nested loop, whitelisted). Subsequent merge rounds would rerun the
  * same vocab-sized pass on re-tokenized symbols — never the corpus.
  */
object Bpe {

  /** Top-`k` adjacent character pairs over the corpus's words:
    * (pair, n_adjacent, n_merge_apply), ranked by n_adjacent with a
    * lexicographic pair tie-break (deterministic merge choice — the
    * first row IS the round's merge).
    */
  def pairStats(docs: DataFrame, k: Int = 20): DataFrame = {
    // the vocab table feeds BOTH the candidate ranking and the
    // merge-apply count — persist it so the corpus is scanned once
    // (r10 scan audit; it is also the table the multi-round training
    // loop iterates on)
    val wf = wordFreq(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    wf.count()
    // overlapping adjacent-pair counts: every 2-char substring of every
    // distinct word, weighted by word frequency (Sennrich get_stats)
    val top = wf.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"),
        col("freq"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n_adjacent"))
      .orderBy(col("n_adjacent").desc, col("pair"))
      .limit(k)
    // non-overlapping application count for each candidate: k-row
    // broadcast against the vocab table (bounded by construction).
    // The final orderBy re-establishes the ranking the join+groupBy
    // discards (aggregate output order is unspecified) — it sorts k
    // rows, and it is what makes "the first row IS the merge" true.
    broadcast(top).join(wf)
      .groupBy(col("pair"), col("n_adjacent"))
      .agg(sum(col("freq") *
        expr("(length(word) - length(replace(word, pair, ''))) div 2")).as("n_merge_apply"))
      .select(col("pair"), col("n_adjacent"), col("n_merge_apply"))
      .orderBy(col("n_adjacent").desc, col("pair"))
  }

  /** (word, freq) over the corpus — the table BPE training iterates
    * on. One corpus scan, one map-side-combined hash shuffle.
    */
  def wordFreq(docs: DataFrame): DataFrame =
    docs
      .select(explode(filter(Text.words(col("text")), w => w =!= lit(""))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** (doc_id, word, cw) usage counts — ONE corpus words pass; empty
    * docs keep a single null-word row (explode_outer), the UNK/empty
    * contract [[encodeDocCountsFromWords]] relies on. The shared input
    * that lets one BPE consumer pay a single corpus scan for training AND
    * per-doc encoding (via [[wordFreqFromDocCounts]]) — callers that
    * read it twice materialize it first.
    */
  def docWordCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode_outer(filter(graft.functions.Text.words(col("text")),
          w => w =!= lit(""))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cw"))

  /** [[wordFreq]] derived from a [[docWordCounts]] table instead of a
    * second corpus scan: same explode + non-empty filter, so per-word
    * occurrence totals are identical (the null row of an empty doc
    * carries no word and drops here).
    */
  def wordFreqFromDocCounts(dw: DataFrame): DataFrame =
    dw.filter(col("word").isNotNull)
      .groupBy(col("word"))
      .agg(sum(col("cw")).as("freq"))

  /** Truncate the vocab's plan lineage every N rounds: an iterative
    * DataFrame whose plan references the previous round's plan grows
    * one fold/kernel layer per round, and each round re-pays
    * optimization of the whole depth (the Components.scala
    * pointer-jumping posture; measured in BENCHNOTES.md post-close r12 —
    * 128 serial rounds OOMed an 8g driver before this cut existed).
    * The plan's DESCRIPTION grows faster than its depth: each round
    * reads the previous round's persisted plan, and a cached AQE plan
    * describes both its current and its initial plan, so the string
    * every action builds for its SQL execution event doubles per round
    * (a two-row vocab: 4.5 KB at round 1, 5 MB at round 12; 16 rounds
    * OOMed a 4g driver inside `QueryExecution.explainString`). 4 bounds
    * it to 8× one round's; the registered queries' 6 merges in batches
    * of 3 train in 2 passes and never reach a cut. Checkpoint blocks per
    * cut are vocab-sized and reclaimed by the ContextCleaner as the loop
    * advances past them.
    */
  private val LineageCutEvery = 4

  private[graft] def lineageCut(vocab: DataFrame, round: Int): DataFrame =
    if (round % LineageCutEvery == 0) {
      // localCheckpoint blocks are NON-REPLAYABLE: an executor loss
      // mid-training loses the lineage from that point and a long
      // production run (the 32k-merge case — hours of sequential
      // rounds) fails unrecoverably. A caller that sets a RELIABLE
      // checkpoint dir (sc.setCheckpointDir, the standard Spark knob)
      // opts into durable cuts: vocab-sized writes to checkpoint
      // storage per cut, replayable across executor loss. Local/bench
      // runs leave the dir unset and keep the cheap executor-local cut.
      val cut =
        if (vocab.sparkSession.sparkContext.getCheckpointDir.isDefined)
          vocab.checkpoint(true)
        else vocab.localCheckpoint(true)
      vocab.unpersist(blocking = false)
      cut
    } else vocab

  /** The FULL multi-round Sennrich training loop (q177 is one round's
    * statistics): `rounds` merge rounds, each (1) counting adjacent
    * SYMBOL pairs over the vocab weighted by word frequency
    * (overlapping — get_stats), (2) choosing the top pair with the
    * deterministic (count desc, pair asc) ranking, (3) re-tokenizing
    * the vocab with a left-to-right non-overlapping merge and
    * (4) recording the corpus token count after the merge. Returns one
    * row per round: (round, pair_a, pair_b, n_adjacent,
    * n_tokens_after) — n_tokens_after strictly decreases, the loop's
    * progress invariant. Training vocabulary is restricted to
    * ^[a-z0-9]+$ word forms (BPE corpora are pre-normalized;
    * punctuation-bearing forms are out of the merge alphabet).
    *
    * Scale shape: after ONE corpus scan builds the persisted
    * word-frequency table, every round touches only vocab-sized data,
    * and rounds are BATCHED. A serial loop (the test tree's
    * `BpeOracles.trainMerges`) pays 2 driver-synchronized jobs
    * per merge (stats top-1 + post-merge recount); at a real 32k-merge
    * vocabulary that is ~64k sequential jobs on vocab-sized data, where
    * per-job latency (not data volume) is the wall. This variant selects
    * up to `batch` merges from ONE statistics pass and applies them in
    * ONE vocab-sized kernel projection — ~batch× fewer driver round
    * trips for an IDENTICAL merge list (BpeSpec pins batched == serial
    * row-for-row; the q179 oracle replays the serial semantics, so the
    * driver's DuckDB gate holds the equivalence every round).
    *
    * Why the output is exactly the serial loop's: candidates are walked
    * in the serial ranking (count desc, pa, pb) and selected while
    * MUTUALLY INDEPENDENT — a candidate is rejected (and the batch
    * boundary recorded) as soon as any of {pa, pb, pa·pb} touches a
    * selected pair's components or fused symbol. Independent merges
    * cannot perturb each other's pair counts (their match sites share
    * no symbol occurrence, and the fused symbol of one can never equal
    * or create a component of another), so after applying the first i
    * selected merges the (i+1)-th still holds its original count while
    * every perturbed-or-created pair is bounded by the count of some
    * CONFLICTING pair — all of which rank at or below the recorded
    * boundary. Selected pairs tied WITH the boundary count are trimmed
    * (a newly created pair could tie them and win the lexicographic
    * break — see BpeSpec's counterexample corpus), leaving a strict
    * count gap that makes the serial choice provably ours. Batch
    * application via the greedy [[graft.plans.BpeEncode]] kernel equals
    * the sequential per-merge folds because independent merges commute
    * and cannot enable or disable one another.
    */
  def trainMergesBatched(docs: DataFrame, rounds: Int = 6,
                         batch: Int = 4): DataFrame =
    trainMergesBatchedWf(wordFreq(docs), rounds, batch)

  /** [[trainMergesBatched]] over a PRECOMPUTED (word, freq) table —
    * the face a consumer uses to share ONE corpus words pass between
    * training and its own encode/usage side (q182/q195/q206). An
    * alphabet-prefiltered wf (e.g. derived from [[usageByLang]]) is
    * fine: [[charVocabWf]]'s own `^[a-z0-9]+$` filter makes the training
    * vocabulary identical either way.
    */
  def trainMergesBatchedWf(wf: DataFrame, rounds: Int = 6,
                           batch: Int = 4): DataFrame = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = wf.sparkSession
    import spark.implicits._
    // candidate horizon per stats pass: enough rank-ordered candidates
    // to find the batch AND its first conflicting boundary; if the
    // horizon fills without a conflict, the last candidate's count is
    // the (conservative) boundary — anything beyond ranks below it
    val horizon = math.max(batch * 4, 16)
    var vocab = charVocabWf(wf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one job: materialize the persisted vocab AND read the starting
    // corpus token count — per-round counts then telescope with no
    // recount jobs (independent merges fuse a fixed, precomputed number
    // of sites each)
    val row0 = vocab.agg(sum(size(col("syms")).cast("long") * col("freq")))
      .collect()(0)
    var nTokens = if (row0.isNullAt(0)) 0L else row0.getLong(0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    // the PREVIOUS round's vocab, released only after the next stats
    // job has materialized its child: the serial loop's recount job
    // materialized `next` before unpersisting the parent, but here the
    // token counts telescope with no recount — an eager unpersist
    // would evict the parent while `next` is still lazy and send every
    // later round back to the CORPUS scan (caught by the r12
    // shuffle_diff gate: 0.90 → 2.57 MB, one word-count shuffle per
    // round instead of one total)
    var prev: Option[DataFrame] = None
    var exhausted = false
    var pass = 0
    while (merges.length < rounds && !exhausted) {
      val cands = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS pa, element_at(syms, i + 1) AS pb))")).as("p"),
          col("freq"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(horizon).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // the stats collect above materialized `vocab`'s cache — the
      // previous round's table is now safe to release
      prev.foreach(_.unpersist(blocking = false))
      prev = None
      if (cands.isEmpty) exhausted = true
      else {
        val want = math.min(batch, rounds - merges.length)
        val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val touched = scala.collection.mutable.Set.empty[String]
        // the count of the highest-ranked candidate CONFLICTING with the
        // selection — the bound on every pair a selected merge perturbs
        // or creates. Disjoint-but-over-budget candidates are skipped
        // without closing the scan: they perturb nothing.
        var bound: Option[Long] = None
        var i = 0
        while (bound.isEmpty && i < cands.length) {
          val (pa, pb, cnt) = cands(i)
          val parts = Seq(pa, pb, pa + pb)
          if (parts.exists(touched.contains)) bound = Some(cnt)
          else if (selected.length < want) {
            selected += ((pa, pb, cnt)); touched ++= parts
          }
          i += 1
        }
        if (bound.isEmpty && cands.length == horizon)
          bound = Some(cands.last._3)
        // strict-gap trim: the round's FIRST merge is serial's choice by
        // definition; later ones must out-count the boundary outright
        val kept = selected.head +:
          selected.tail.takeWhile(s => bound.forall(s._3 > _))
        // one job: every kept merge's non-overlapping fusion count on
        // the round-START vocab (independence keeps each count valid at
        // its serial application point). Counted through the NATIVE
        // single-merge kernel, not an interpreted aggregate() merge
        // fold (the test tree's BpeOracles.mergeFoldSql) — the fold
        // rebuilds each word as a string via O(len²) concat per merge
        // per word and was the hottest stage of every BPE consumer
        // (q195: 97 task-seconds at sf0.1).
        // BpeSpec pins kernel == fold, so the counts are identical.
        val applyCols: Seq[Column] = kept.toSeq.zipWithIndex.map { case ((pa, pb, _), j) =>
          sum(col("freq") *
            (size(col("syms")) - size(graft.plans.NativeFunctions.bpeEncode(
              col("syms"), Seq((pa, pb))))).cast("long")).as(s"a$j")
        }
        val counts = vocab.agg(applyCols.head, applyCols.tail: _*).collect()(0)
        val next = vocab.select(
          graft.plans.NativeFunctions.bpeEncode(
            col("syms"), kept.map(t => (t._1, t._2)).toSeq).as("syms"),
          col("freq"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prev = Some(vocab)
        pass += 1
        // the cut materializes `next` eagerly, which is exactly when
        // the deferred parent release becomes safe too
        vocab = lineageCut(next, pass)
        for (((pa, pb, cnt), j) <- kept.zipWithIndex) {
          nTokens -= counts.getLong(j)
          merges += ((merges.length + 1, pa, pb, cnt, nTokens))
        }
      }
    }
    prev.foreach(_.unpersist(blocking = false))
    vocab.unpersist(blocking = false)
    merges.toSeq.toDF("round", "pair_a", "pair_b", "n_adjacent", "n_tokens_after")
  }

  /** BPE APPLICATION — tokenize the corpus with an already-trained
    * merge list ([[trainMergesBatched]] output order): the deployment face
    * that closes the tokenizer loop (train once, encode every corpus
    * snapshot). Returns the top-`k` subword tokens by corpus
    * occurrence count: (token, freq), ranked (freq desc, token asc).
    *
    * Scale shape — the same property that makes training feasible:
    * merges apply to the DISTINCT-WORD table, never per corpus
    * occurrence. One corpus scan builds (word, freq); the M merge
    * folds are M chained vocab-sized projections in ONE stage (no
    * shuffle between folds — whole-stage codegen keeps the word's
    * symbol array in flight); the final explode+aggregate is one
    * map-side-combined hash shuffle over vocab-sized input. A 100 TB
    * corpus pays the scan; the tokenizer math costs |vocab|·M.
    *
    * Same alphabet contract as training: only `^[a-z0-9]+$` word
    * forms participate (BPE corpora are pre-normalized; punctuation-
    * bearing forms are outside the merge alphabet).
    */
  def encodeTokens(docs: DataFrame, merges: Seq[(String, String)],
                   k: Int = 30): DataFrame =
    encodeTokensWf(wordFreq(docs), merges, k)

  /** [[encodeTokens]] over a precomputed (word, freq) table — shares
    * the corpus words pass with [[trainMergesBatchedWf]] (q182).
    */
  def encodeTokensWf(wf: DataFrame, merges: Seq[(String, String)],
                     k: Int = 30): DataFrame =
    encodeTokenFreqWf(wf, merges)
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  /** The FULL (token, freq) table behind [[encodeTokens]], over a
    * precomputed (word, freq) table ([[wordFreq]] output) — also the
    * per-micro-batch unit of the STREAMING ingestion face: each batch
    * of arriving documents is tokenized against the fixed trained
    * merge list and its counts merged into a running token-frequency
    * table (sum per token — associative, so batch boundaries cannot
    * change the totals; `StreamingBpeSpec` pins stream == batch). The
    * live "tokens ingested so far per subword" telemetry of a corpus
    * build, at per-batch vocab-sized cost.
    */
  def encodeTokenFreqWf(wf: DataFrame,
                        merges: Seq[(String, String)]): DataFrame = {
    val vocab = charVocabWf(wf)
    val encoded =
      if (merges.isEmpty) vocab
      else vocab.select(
        graft.plans.NativeFunctions.bpeEncode(col("syms"), merges).as("syms"),
        col("freq"))
    encoded.select(explode(col("syms")).as("token"), col("freq"))
      .groupBy(col("token"))
      .agg(sum(col("freq")).as("freq"))
  }

  /** (syms, freq) at the character stage over the training alphabet,
    * from a (word, freq) table — the table every BPE face starts from.
    */
  private[graft] def charVocabWf(wf: DataFrame): DataFrame =
    wf
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .select(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"),
        col("freq"))

  /** word → (word, wchars, n_sub): character count and subword count
    * under a trained merge list — the vocab-sized kernel fold SHARED by
    * [[encodeDocCountsFromWords]] and [[fertilityFromUsage]]. Parity-load-
    * bearing: the syms construction and the empty-merges branch are
    * replayed character-for-character by the q179/q182/q195/q206
    * oracles, so there must be exactly ONE copy.
    */
  private def wordSubwordLengths(words: DataFrame,
                                 merges: Seq[(String, String)]): DataFrame =
    words.select(col("word"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"))
      .select(col("word"), length(col("word")).cast("long").as("wchars"),
        (if (merges.isEmpty) size(col("syms"))
         else size(graft.plans.NativeFunctions.bpeEncode(col("syms"), merges)))
          .cast("long").as("n_sub"))

  /** Per-DOCUMENT subword token counts under a trained merge list —
    * what a tokenized PACKER consumes (q195: shard layout by real
    * tokenizer counts, not whitespace counts). The merge fold runs
    * once per DISTINCT alphabet word (vocab-sized — the
    * [[encodeTokenFreqWf]] shape; the tokenizer math costs |vocab|·M,
    * never corpus·M); per-doc counts come from joining each document's
    * word usage back to the word → subword-length table.
    *
    * Counting contract: word forms outside the training alphabet
    * (`^[a-z0-9]+$` — punctuation-bearing) count ONE token each (the
    * UNK convention); zero-word documents count 1 — Pack's
    * n_tokens ≥ 1 invariant (the shards-spanned sequence explode must
    * never see a descending range). Returns (doc_id, n_tokens).
    *
    * Input: a MATERIALIZED (it is read twice) [[docWordCounts]] table.
    * It supplies BOTH the distinct-word list the merge fold runs over
    * and the per-doc counts, so one corpus words pass serves both —
    * and q195 shares it across training and encoding.
    */
  def encodeDocCountsFromWords(dw: DataFrame,
                               merges: Seq[(String, String)]): DataFrame = {
    val wordLen = wordSubwordLengths(
      dw.filter(col("word").isNotNull &&
          col("word").rlike("^[a-z0-9]+$"))
        .select(col("word")).distinct(), merges)
      .select(col("word"), col("n_sub"))
    // dw's explode_outer keeps zero-word docs as one null-word row
    // (counts 1 through the UNK coalesce below — never dropped)
    dw.join(wordLen, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(greatest(sum(col("cw") * coalesce(col("n_sub"), lit(1L))), lit(1L))
        .as("n_tokens"))
  }

  /** Merge a batch's token counts into the accumulated table — the
    * foreachBatch step. Both sides are token-vocabulary-sized.
    */
  def mergeTokenFreq(acc: DataFrame, batch: DataFrame): DataFrame =
    acc.unionByName(batch)
      .groupBy(col("token"))
      .agg(sum(col("freq")).as("freq"))

  /** Per-language tokenizer FERTILITY report — the standard multilingual
    * tokenizer evaluation (Xue et al. 2021 §3.2; Rust et al., ACL 2021):
    * under a trained merge list, each language's subwords-per-word
    * (fertility — 1.0 is perfect, high values mean the vocabulary
    * under-serves the language) and characters-per-token (compression).
    * The table a corpus owner reads to decide whether a tokenizer is
    * fair across languages before committing a 100 TB encode.
    *
    * Returns (lang, n_words, n_tokens, n_chars, fertility,
    * chars_per_token); integer tallies throughout, each ratio ONE
    * rounded double division (engine-exact both sides). Alphabet
    * contract matches training: only `^[a-z0-9]+$` word forms
    * participate.
    *
    * Scale shape — the [[encodeDocCountsFromWords]] split: the merge
    * fold runs once per DISTINCT alphabet word (vocab-sized, |vocab|·M), per-language
    * usage is one corpus-thin (lang, word) map-side-combined shuffle,
    * and the join keys on the unique word; the final groupBy(lang) is
    * L rows.
    */
  def fertilityByLang(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    // ONE corpus scan: the (lang, word, cw) usage table (vocab·L-sized,
    // materialized) also supplies the distinct-word list the merge fold
    // runs over — deriving wordLen from wordFreq(docs) would pay a
    // second full documents scan for the same word set (PlanAudit's
    // multi-scan gate)
    fertilityFromUsage(usageByLang(docs).localCheckpoint(true), merges)

  /** Per-(lang, word) usage counts over the training alphabet — the
    * corpus-thin accumulated state of the STREAMING fertility face
    * (vocab·L-sized; one map-side-combined shuffle per batch).
    */
  def usageByLang(docs: DataFrame): DataFrame =
    graft.functions.Text.alphabetWords(docs, Seq(col("lang")))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("cw"))

  /** Fold a batch's usage into the accumulated table — the
    * foreachBatch step (per-key sums: associative and commutative, so
    * arrival splits cannot change the totals). Both sides vocab·L-sized.
    */
  def mergeUsage(acc: DataFrame, batch: DataFrame): DataFrame =
    acc.unionByName(batch)
      .groupBy(col("lang"), col("word"))
      .agg(sum(col("cw")).as("cw"))

  /** [[fertilityByLang]] over accumulated usage state — the STREAMING
    * finalize: integer tallies from the usage table, each ratio one
    * rounded division, so streamed == batch EXACTLY
    * (`StreamingCurationSpec`). The caller materializes `usage` (it is
    * read twice: distinct-word fold input + the per-language join).
    */
  def fertilityFromUsage(usage: DataFrame,
                         merges: Seq[(String, String)]): DataFrame = {
    val wordLen = wordSubwordLengths(usage.select(col("word")).distinct(), merges)
    usage.join(wordLen, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("cw")).as("n_words"),
        sum(col("cw") * col("n_sub")).as("n_tokens"),
        sum(col("cw") * col("wchars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"))
  }
}
