package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-statistical language-model quality scoring (the CCNet-style
  * LM filter, Wenzek et al. 2020): per-document mean unigram log-prob
  * under a model trained on the corpus itself — the model-based
  * counterpart to q67's handwritten heuristics. Low-probability docs
  * (gibberish, boilerplate, wrong-tokenization noise) score far below
  * fluent text.
  *
  * Two passes, both corpus-scan-shaped:
  *   1. MODEL: unigram counts (one shuffle on term), top-V by
  *      (count desc, term) — a TakeOrderedAndProject, never a global
  *      sort — with add-one smoothing over (N + V + 1).
  *   2. SCORE: per-doc distinct-term counts as a zero-shuffle HOF
  *      projection (the q120 pattern), broadcast-joined to the model,
  *      then ONE integer aggregation per doc.
  *
  * Determinism discipline: each model term's log-prob is quantized ONCE
  * to integer micro-units (floor(ln(p)·10⁶) — 4097 ln evaluations per
  * corpus, not one per token), so every per-document quantity is an
  * exact int64 sum — order-free, bit-replayable in SQL, no float
  * accumulation anywhere. A cross-engine libm ULP difference can only
  * matter if one of the 4097 quantized values sits within ~1e-15·|ln p|
  * of an integer boundary.
  */
object LmScore {

  /** Tokens for scoring over a words-array column (`Text.words`
    * output) minus empty-string artifacts. `split('', ' ')` yields
    * `['']` in both engines, so an empty or whitespace-only (or null)
    * document would otherwise count one phantom token; here it counts
    * zero.
    */
  private def tokensW(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(filter(w, x => x =!= ""), expr("cast(array() as array<string>)"))

  /** (term, lnp_micro): top-`v` unigrams with quantized smoothed
    * log-prob. `totals` rides along via broadcast cross-join — no
    * driver-side collect of N. `dw` is a words table
    * (`Text.wordsTable` output, persisted by the caller when it has
    * other consumers).
    */
  def unigramModelW(dw: DataFrame, v: Int): (DataFrame, DataFrame) = {
    // ONE corpus scan for the whole model fit: the vocab-sized unigram
    // count table is persisted (catalog cache, clearCache-released) and
    // feeds both the total-token count and the top-V selection — the r9
    // shape re-scanned the corpus for totals, counts, and again for the
    // caller's OOV row (which derives from `totals` and now reads the
    // cache). Scoring is the one other corpus pass ([[score]]'s dt) —
    // the fit/score two-pass minimum, the DSIR posture.
    val counts = dw
      .select(explode(tokensW(col("w"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val totals = counts.agg(coalesce(sum(col("c")), lit(0L)).as("nn"))
    val model = counts
      .crossJoin(broadcast(totals))
      .orderBy(col("c").desc, col("term")).limit(v)
      .withColumn("lnp_micro", expr(
        s"cast(floor(ln(cast(c + 1 as double) / cast(nn + $v + 1 as double)) * 1000000.0d) as bigint)"))
      .select(col("term"), col("lnp_micro"))
    (model, totals)
  }

  /** (doc_id, n_tokens, oov_frac, avg_logp, keep): mean per-token
    * log-prob (6dp), out-of-vocabulary token fraction, and the filter
    * verdict avg_logp ≥ threshold.
    *
    * CONTRACT: zero-token documents are KEPT in the output with
    * n_tokens=0, oov_frac/avg_logp NULL (no tokens → no mean), and
    * keep=false — a filter whose verdict column silently omitted rows
    * was a footgun for pipelines that join verdicts back by doc_id.
    * This is the explode_outer below (one null-term row per empty doc)
    * plus the n_tokens=0 guards on the integer divisions.
    */
  def score(docs: DataFrame, v: Int = 4096, threshold: Double = -9.0): DataFrame =
    scoredMicroW(graft.functions.Text.wordsTable(docs), v)
      .select(col("doc_id"), col("n_tokens"),
        (col("oov_micro6").cast("double") / 1000000.0).as("oov_frac"),
        (col("avg_micro6").cast("double") / 1000000.0).as("avg_logp"),
        coalesce(col("avg_micro6") >= lit(math.round(threshold * 1000000).toLong),
          lit(false)).as("keep"))

  /** INTEGER face of [[score]] — (doc_id, carry..., n_tokens,
    * oov_micro6, avg_micro6) with both ratios in exact half-up-rounded
    * micro-units (avg/oov NULL for zero-token docs). `carry` names
    * passthrough doc columns (e.g. lang) that ride the score
    * aggregation as group keys, so a consumer needing them pays no
    * extra corpus scan. `dw` is a words table (`Text.wordsTable(docs,
    * carry)` output); with `dw` persisted by the caller, the model fit
    * and the scoring pass read one tokenization instead of each
    * re-running the normText regexp over the corpus.
    */
  def scoredMicroW(dw: DataFrame, v: Int = 4096,
                   carry: Seq[String] = Nil): DataFrame = {
    val (model, totals) = unigramModelW(dw, v)
    scoredMicroAgainstW(dw, model, totals, v, carry)
  }

  /** [[scoredMicroW]] against a FIXED model — the streaming deployment
    * face (the q189/Mix.keepAgainst posture: fit [[unigramModelW]] ONCE
    * on the corpus or a calibration sample, then score every arriving
    * micro-batch under the same quantized log-probs). Scoring is
    * per-document given the model, so the streamed scores equal the
    * batch scores exactly regardless of arrival split
    * (`StreamingCcnetSpec` pins it).
    */
  def scoredMicroAgainstW(dw: DataFrame, model: DataFrame, totals: DataFrame,
                          v: Int = 4096, carry: Seq[String] = Nil): DataFrame = {
    val oov = broadcast(totals).select(expr(
      s"cast(floor(ln(cast(1 as double) / cast(nn + $v + 1 as double)) * 1000000.0d) as bigint)")
      .as("oov_micro"))
    val carryCols = carry.map(col)
    val dt = dw
      .select(col("doc_id") +: carryCols :+ tokensW(col("w")).as("w"): _*)
      .select(Seq(col("doc_id")) ++ carryCols ++ Seq(
        size(col("w")).cast("long").as("n_tokens"),
        // linear per-doc term counting (r18): the HOF formulation
        // transform(array_distinct(w), t -> struct(t, size(filter(w, x -> x = t))))
        // rescans the whole array once per distinct term — O(distinct·len)
        // per document, the dominant map-side CPU of the CCNet pass; the
        // kernel is one hash pass, element-identical (WordCountsSpec)
        explode_outer(graft.plans.NativeFunctions.wordCounts(col("w")))
          .as("e")): _*)
      .select(Seq(col("doc_id")) ++ carryCols ++ Seq(col("n_tokens"),
        col("e.term").as("term"), col("e.c_dt").cast("long").as("c_dt")): _*)
    dt.join(broadcast(model), Seq("term"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(col("doc_id") +: carryCols :+ col("n_tokens"): _*)
      // the null-term row of an empty doc contributes null to both sums
      // (sum skips nulls → null over an all-null group) — coalesce to 0
      .agg(
        coalesce(sum(when(col("lnp_micro").isNull, col("c_dt")).otherwise(lit(0L))), lit(0L)).as("oov_toks"),
        coalesce(sum(col("c_dt") * coalesce(col("lnp_micro"), col("oov_micro"))), lit(0L)).as("sum_micro"))
      // 6dp rounding done in INTEGER arithmetic (half-up on positive
      // operands, where integer division is floor in both engines):
      // round(p/q, 6) computed as (2·p·10⁶ + q) div (2q) micro-units —
      // a float round() of the same rational hits exact-.5 ties that
      // Spark (BigDecimal HALF_UP) and DuckDB (double multiply-round)
      // resolve differently (observed: 3/5000 docs at sf0.1). The final
      // /10⁶ is the same IEEE division of identical operands on both
      // engines — bit-identical output.
      .withColumn("oov_micro6", when(col("n_tokens") > 0,
        expr("(2 * oov_toks * 1000000 + n_tokens) div (2 * n_tokens)")))
      .withColumn("avg_micro6", when(col("n_tokens") > 0,
        -expr("(2 * (-sum_micro) + n_tokens) div (2 * n_tokens)")))
      .drop("oov_toks", "sum_micro")
  }

  /** CCNet head/middle/tail PERPLEXITY BUCKETS (Wenzek et al. 2020
    * §4.3 — the published recipe partitions each language's documents
    * into thirds by LM score and trains on head+middle): per-language
    * tercile CUTOFFS are calibrated on a deterministic hash-bucket
    * sample (the q27/q189 discipline; 256 = whole corpus), then every
    * document is assigned MAP-SIDE against the broadcast L×2 cutoff
    * table — never a corpus-wide per-language sort, which is the naive
    * ntile formulation's death at 100 TB (one giant sort partition per
    * language).
    *
    * Cutoff rule, exact integer end-to-end: within the sample, rank
    * per language by (avg_micro desc, doc_id); c1 = the score at rank
    * ⌈n/3⌉ (the lowest score still in the sample's top third), c2 at
    * ⌈2n/3⌉. Assignment: score ≥ c1 → head, ≥ c2 → middle, else tail —
    * boundary ties go to the better bucket (content-deterministic, so
    * assignment is stable under corpus growth as long as the cutoffs
    * are held). Zero-token documents bucket 'tail' by contract (no
    * score → worst bucket, never silently dropped). A language absent
    * from the calibration sample fails LOUDLY (the Mix.keepAgainst
    * posture) — an inner join would silently drop its documents.
    *
    * Returns (doc_id, lang, n_tokens, avg_logp, bucket).
    */
  def ccnetBuckets(docs: DataFrame, v: Int = 4096,
                   sampleBuckets: Int = 256): DataFrame = {
    // ONE corpus tokenization for the whole fit+score composition
    // (r18, guide §1.2/§2.3): the model fit and the scoring pass each
    // re-ran the normText regexp + split over the corpus; the words
    // table is persisted across both and released once the corpus-thin
    // scored table is materialized inside [[ccnetBucketsW]].
    val dw = graft.functions.Text.wordsTable(docs, carry = Seq("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = ccnetBucketsW(dw, v, sampleBuckets)
    dw.unpersist(blocking = true)
    out
  }

  /** [[ccnetBuckets]] over a caller-held words table (the shared-
    * words-pass face): `dw` = `Text.wordsTable(docs, Seq("lang"))`,
    * persisted by the caller. The scored-thin table is materialized
    * before return, so the caller may release `dw` afterwards.
    */
  def ccnetBucketsW(dw: DataFrame, v: Int = 4096,
                    sampleBuckets: Int = 256): DataFrame = {
    // corpus-THIN (doc_id, lang, n_tokens, am): materialized once so the
    // cutoff fit and the assignment pass share one scoring pass
    val scored = scoredMicroW(dw, v, carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("avg_micro6").as("am"))
      .localCheckpoint(true)
    ccnetAssign(scored, ccnetCutoffs(scored, sampleBuckets))
  }

  /** Per-language (lang, c1, c2) tercile cutoffs from a scored-thin
    * table — the CALIBRATION face ([[ccnetBuckets]]'s fit step,
    * exposed so a streaming deployment can calibrate once and assign
    * every arriving batch with [[ccnetAssign]]).
    */
  def ccnetCutoffs(scored: DataFrame, sampleBuckets: Int = 256): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val smp = scored.filter(col("n_tokens") > 0 &&
      Dedup.inCalibrationSample(col("doc_id"), sampleBuckets))
    smp
      .withColumn("r", row_number().over(
        W.partitionBy(col("lang")).orderBy(col("am").desc, col("doc_id"))))
      .withColumn("n", count(lit(1)).over(W.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(min(when(col("r") <= expr("(n + 2) div 3"), col("am"))).as("c1"),
        min(when(col("r") <= expr("(2 * n + 2) div 3"), col("am"))).as("c2"))
  }

  /** Map-side bucket assignment of a scored-thin table against a FIXED
    * cutoff table — the deployment face (broadcast join + one CASE).
    */
  def ccnetAssign(scored: DataFrame, cuts: DataFrame): DataFrame =
    scored.join(broadcast(cuts), Seq("lang"), "left")
      // zero-token docs bucket 'tail' by contract even when their
      // language has no cutoffs (a language consisting ONLY of
      // zero-token docs is legitimately absent from the sample — the
      // cutoff fit excludes unscoreable docs); only a SCORED doc with
      // no cutoff row is a calibration hole worth dying for
      .filter(assert_true(col("c1").isNotNull || col("n_tokens") === 0,
        concat(lit("LmScore.ccnetAssign: language '"), col("lang"),
          lit("' is missing from the calibrated cutoff table — " +
            "recalibrate on a sample covering every arriving language"))).isNull)
      .withColumn("bucket",
        when(col("n_tokens") === 0, lit("tail"))
          .when(col("am") >= col("c1"), lit("head"))
          .when(col("am") >= col("c2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("am").cast("double") / 1000000.0).as("avg_logp"), col("bucket"))
}
