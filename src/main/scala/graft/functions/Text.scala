package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data-pipeline operators
  * (SURVEY.md §2.6). Everything is built from codegen'd Spark built-ins
  * and higher-order functions — no UDFs — so these stay inside
  * WholeStageCodegen and scale linearly with the corpus.
  */
object Text {

  /** Canonical form for dedup: lowercase, trimmed, whitespace collapsed. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Words of the normalized text. */
  def words(c: Column): Column = split(normText(c), " ")

  /** The corpus tokenized ONCE: (doc_id, carry…, w) with
    * `w = words(text)`. The SHARED-WORDS-PASS handle (guide §1.2/§2.3
    * — don't compute things twice, project early): multi-stage
    * pipelines (dedup → keep-best → classifier → CCNet) each re-ran
    * the normText regexp + split over the full corpus per stage; a
    * caller persists THIS table and feeds every stage's `*W` face, so
    * the corpus text is scanned and tokenized exactly once. Every
    * downstream alphabet (alphabet words, LM tokens, shingles) derives
    * from `w` by the same per-row functions it previously applied to
    * `words(text)` — row-identical by construction.
    */
  def wordsTable(docs: org.apache.spark.sql.DataFrame,
                 carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id") +: carry.map(col) :+ words(col("text")).as("w"): _*)

  /** (carry…, word) rows over the ENGINE-PARITY training alphabet:
    * normalized words exploded, empty forms dropped, only
    * `^[a-z0-9]+$` forms kept. ONE definition of the alphabet contract
    * shared by the BPE and classifier families — the FULL-oracle
    * queries replay it as `list_filter` + `regexp_full_match`, so a
    * drift between copies would break hash-matched oracles; keep every
    * consumer on this helper (both faces share [[explodeAlphabet]]).
    */
  def alphabetWords(docs: org.apache.spark.sql.DataFrame,
                    carry: Seq[Column] = Nil): org.apache.spark.sql.DataFrame =
    explodeAlphabet(docs, words(col("text")), carry)

  /** [[alphabetWords]] over a precomputed words column (a [[wordsTable]]
    * frame) — the shared-words-pass face. `carry` is evaluated against
    * `dw`'s columns.
    */
  def alphabetWordsW(dw: org.apache.spark.sql.DataFrame,
                     carry: Seq[Column] = Nil): org.apache.spark.sql.DataFrame =
    explodeAlphabet(dw, col("w"), carry)

  private def explodeAlphabet(df: org.apache.spark.sql.DataFrame, wCol: Column,
                              carry: Seq[Column]): org.apache.spark.sql.DataFrame =
    df.select(carry :+
        explode(filter(wCol, w => w =!= lit(""))).as("word"): _*)
      .filter(col("word").rlike("^[a-z0-9]+$"))

  /** Overlapping fixed-width word CHUNKS of a word-array column (r15):
    * the RAG / context-window preparation pass — every document split
    * into `width`-word windows advancing by `stride` (overlap =
    * width − stride), the last window clamped at the text's end so
    * every word is covered exactly once per window it falls in.
    * Returns an array of (chunk_id, start_word, n_words, chunk)
    * structs for the caller to explode; chunk count =
    * 1 + ceil((len − width) / stride) for len > width, else 1 —
    * pure integer arithmetic, identical on any engine. Zero shuffles,
    * zero UDFs: sequence/transform/slice/array_join are codegen'd
    * built-ins, so chunking is a map-side projection at any corpus
    * size (the chunker never needs to see two documents together).
    */
  def chunkWords(wordsCol: Column, width: Int, stride: Int): Column = {
    require(width >= 1 && stride >= 1 && stride <= width,
      s"chunkWords: need 1 <= stride <= width, got width=$width stride=$stride")
    val w = wordsCol
    val nChunks = when(size(w) <= width, lit(1))
      .otherwise((size(w) - width + stride - 1).cast("int") / stride + 1)
      .cast("int")
    transform(sequence(lit(0), nChunks - 1), k => {
      val start = k * stride + 1
      val piece = slice(w, start, lit(width))
      struct(k.cast("int").as("chunk_id"), start.cast("int").as("start_word"),
        size(piece).as("n_words"), array_join(piece, " ").as("chunk"))
    })
  }

  /** Word n-gram shingles over an existing array column (by name), as a
    * SQL fragment: the lambda needs positional element access, and the
    * fragment composes inside larger exprs (e.g. the parity oracles for
    * the fused native shingle-hash kernel).
    */
  def shinglesSql(wordsCol: String, n: Int = 3): String = {
    val parts = (0 until n).map(k => s"element_at($wordsCol, i + $k)").mkString(", ")
    // short-doc guard: below n words the sequence bound would be ≤ 0, and
    // sequence(1, 0) steps DOWN to [1, 0] — element_at(words, 0) errors.
    s"CASE WHEN size($wordsCol) >= $n " +
      s"THEN transform(sequence(1, size($wordsCol) - ${n - 1}), i -> concat_ws(' ', $parts)) " +
      "ELSE array() END"
  }

  /** Count of words (with repetition) that appear in a fixed vocabulary. */
  def vocabHits(wordsCol: String, vocab: Seq[String]): Column = {
    val list = vocab.map(w => s"'$w'").mkString(", ")
    expr(s"size(filter($wordsCol, x -> x IN ($list)))")
  }

  /** Per-language stopword lists for the language-ID heuristic.
    * Tiny on purpose: broadcastable as literals into codegen.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "est", "une"),
    "zh" -> Seq("de5", "shi4", "zai4")) // romanized placeholders

  /** Polynomial rolling-hash fingerprint of a words array: md5-derived
    * 32-bit value per word folded as acc*131 + x (mod 1e9+7). Stable
    * across engines (md5 is standard; arithmetic stays < 2^38).
    */
  def fingerprint(wordsCol: String): Column =
    expr(s"aggregate(transform($wordsCol, w -> cast(conv(substr(md5(w), 1, 8), 16, 10) as bigint)), " +
      "0L, (a, x) -> (a * 131L + x) % 1000000007L)")
}
