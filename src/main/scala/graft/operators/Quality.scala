package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Document quality scoring — the heuristic quality-gate stage of a
  * pretraining data pipeline (length, word-shape, and stopword-density
  * features composed into one [0,1] score; the published C4/Gopher-rule
  * family). q67's operator face, extracted in r13 so the SQL front door
  * (`graft_quality('docs')`) and the DataFrame face share ONE
  * implementation — the q67 oracle pins both.
  *
  * Scale shape: a pure per-document projection — no shuffle, no state;
  * at 100 TB this is a map-side pass fused into whatever scan feeds it.
  */
object Quality {

  /** Per-document features + composite score over (doc_id, text):
    * (doc_id, n_chars, n_words, avg_wlen, stop_ratio, short_ratio,
    * quality). Ratios round to 6 places and the score to 4 — the
    * engine-portable float discipline (the DuckDB oracle replays the
    * same arithmetic digit-for-digit).
    *
    * Zero-word contract: a document with no words gets EXPLICIT zero
    * ratios and quality 0.0 (a gate should reject empty documents, not
    * emit NULLs). Without the guard the div-by-zero NULL propagates
    * silently — Report's sum(quality) would skip the doc while n_docs
    * counts it, and keepBest would rank it by nulls-last accident.
    * QualitySpec pins the guard.
    */
  def score(docs: DataFrame): DataFrame = score(docs, Nil)

  /** [[score]] with passthrough doc columns (e.g. source, lang) riding
    * the projection — a consumer needing them pays no join and no
    * second scan (the scoredMicroW carry convention).
    */
  def score(docs: DataFrame, carry: Seq[String]): DataFrame =
    featureTail(docs.select(
      Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        Text.normText(col("text")).as("n"),
        Text.words(col("text")).as("w")): _*), carry)

  /** [[score]] over a precomputed words table (`Text.wordsTable`
    * output) — the shared-words-pass face. The normalized text is
    * recovered from the words array: `normText` collapses whitespace
    * to single spaces, so `concat_ws(' ', words(text)) == normText(text)`
    * exactly (including empty/whitespace-only docs, which normalize to
    * "" and split to [""]); a NULL text yields a NULL words array and
    * the explicit guard restores the NULL normText. QualitySpec pins
    * scoreW == score on the edge inputs.
    */
  def scoreW(dw: DataFrame, carry: Seq[String] = Nil): DataFrame =
    featureTail(dw.select(
      Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        when(col("w").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", col("w"))).as("n"),
        col("w")): _*), carry)

  /** The shared feature + composite tail over (doc_id, carry…, n, w). */
  private def featureTail(nw: DataFrame, carry: Seq[String]): DataFrame = {
    val cs = carry.map(col)
    val m = nw
      .select(Seq(col("doc_id")) ++ cs ++ Seq(
        length(col("n")).as("n_chars"),
        size(col("w")).as("n_words"),
        length(regexp_replace(col("n"), " ", "")).as("nsp"),
        Text.vocabHits("w", Text.stopwords.head._2).as("hits"),
        expr("size(filter(w, x -> length(x) < 3))").as("shorts")): _*)
    // EVERYTHING in exact int64 micro-units (r16 made the composite
    // integer after the sf10 spot-oracle catch; r17 extends it to the
    // ratios themselves). The 6-dp ratio k6 = halfUp(num·10⁶ / n_words)
    // is computed DIRECTLY as (2·num·10⁶ + n) div (2·n) — positive
    // operands truncate identically on both engines — instead of
    // round(double_ratio·10⁶): the old recovery was only half-safe for
    // n_words < 128, and nothing bounds document length (ADVICE r17;
    // the length term itself anticipates 200-word docs). The displayed
    // ratios are k6 / 10⁶ — a division of identical integers, so the
    // same double bit-for-bit cross-engine — and the composite
    //   q·1e7 = min(n_words·20000, 4e6) + 3·sr6 + 3e6 − 3·shr6
    // is pure int64, half-up to 1e-4 via (2v+1000) div 2000, then
    // /10000.0D — a 4-dp decimal both engines read as the same double.
    // The zero-word guard (n_words = 0 → explicit 0 ratios and
    // quality 0.0, never a NULL) lives inside r6 / the quality CASE.
    def r6(num: String) = expr(
      s"case when n_words = 0 then 0L else " +
        s"(2 * cast($num as bigint) * 1000000 + n_words) div (2 * n_words) end")
    m.withColumn("aw6", r6("nsp"))
      .withColumn("sr6", r6("hits"))
      .withColumn("shr6", r6("shorts"))
      .select(Seq(col("doc_id")) ++ cs ++ Seq(col("n_chars"), col("n_words"),
        expr("aw6 / 1000000.0D").as("avg_wlen"),
        expr("sr6 / 1000000.0D").as("stop_ratio"),
        expr("shr6 / 1000000.0D").as("short_ratio"),
        when(col("n_words") === 0, lit(0.0)).otherwise(expr(
          "cast((2 * (least(cast(n_words as bigint) * 20000, 4000000) " +
            "+ 3 * sr6 + 3000000 - 3 * shr6) + 1000) " +
            "div 2000 as bigint) / 10000.0D")).as("quality")): _*)
  }
}
