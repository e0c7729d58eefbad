package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Sketches, Text}

/** Corpus deduplication operators (SURVEY.md §2.6). Input contract: a
  * DataFrame with (doc_id: bigint, text: string).
  *
  * Scale design (SURVEY.md §6): every candidate generator is a
  * bucket-equi-join — shingle, LSH band, or simhash chunk — never an
  * all-pairs cross join, so work is bounded by bucket sizes. Hot buckets
  * (stopword shingles, degenerate bands) are capped by document
  * frequency before the join; the cap is a tunable that trades recall
  * for a hard bound on join fan-out at 100 TB.
  */
object Dedup {

  /** Exact dedup on normalized text: each group keeps its minimum doc_id
    * as canonical. One hash-shuffle on the 128-bit content hash.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(Text.normText(col("text"))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct (doc_id, shingle) pairs, with shingles appearing in more
    * than `maxDf` documents dropped (hot-bucket cap). The shingle itself
    * is carried as a 64-bit hash, not the string: the self-join and the
    * df-count shuffle move 8-byte keys instead of ~20-byte strings, and
    * key equality is a long compare (collision odds at 64 bits are
    * ~n²/2⁶⁵ — negligible against corpus-level shingle counts). `dw` is
    * a words table (`Text.wordsTable` output).
    */
  def docShinglesW(dw: DataFrame, n: Int = 3, maxDf: Int = 50): DataFrame = {
    // fused shingle+xxhash64 kernel == xxhash64(concat_ws(' ', window))
    // (SketchParitySpec) — no shingle strings are ever materialized
    val sh = dw
      .select(col("doc_id"),
        explode(graft.plans.NativeFunctions.shingleHashes(col("w"), n, "xx")).as("s"))
      .distinct()
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("s"))
    sh.join(broadcast(hot), Seq("s"), "left_anti")
  }

  /** Exact n-gram Jaccard near-duplicate pairs above `threshold`:
    * shingle-bucket self-join (shared-shingle counting), then
    * |A∩B| / (|A| + |B| − |A∩B|). No all-pairs scan: only documents
    * sharing at least one (non-hot) shingle are ever compared. `dw` is a
    * words table (`Text.wordsTable` output).
    */
  def jaccardPairsW(dw: DataFrame, threshold: Double, n: Int = 3, maxDf: Int = 50): DataFrame = {
    // The shingle index feeds four consumers (df-count, both join sides,
    // per-doc sizes) — materialize it once rather than re-deriving the
    // text→words→shingles pipeline per consumer. At warehouse scale this
    // persist is a written shingle-index table. The index cache is
    // released deterministically below: the (small, cap-bounded) pair
    // table is materialized eagerly while the index is live, so callers
    // get a self-contained cached frame and no index blocks leak across
    // queries in a long-lived session.
    val sh = docShinglesW(dw, n, maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val pairs = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn("jaccard",
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("na"), col("nb"), col("jaccard"))
    materializeAndRelease(pairs, sh)
  }

  /** Benchmark decontamination (reference presto-docs string/array
    * surface has no counterpart — brief-mandated pipeline op): flag
    * training documents whose n-gram shingles overlap an evaluation set
    * beyond `minOverlap`. The canonical pre-training hygiene pass: any
    * training doc sharing a large shingle fraction with a benchmark doc
    * leaks the benchmark into the training corpus.
    *
    * Scale design: the eval side is benchmark-sized (thousands of docs,
    * not the corpus), so its shingle index is explicitly `broadcast` —
    * the 100 TB training corpus streams map-side against it with NO
    * shuffle of training shingles for the probe. The df cap (shared with
    * [[docShinglesW]]) drops stop-shingles that would otherwise make
    * every document "contaminated". One aggregation shuffle on train
    * doc_id produces the per-doc overlap counts.
    */
  def decontaminate(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
                    minOverlap: Double, n: Int = 3, maxDf: Int = 50): DataFrame = {
    val sh = docShinglesW(Text.wordsTable(docs), n, maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ev = sh.filter(evalPred).select(col("doc_id").as("eval_id"), col("s"))
    val tr = sh.filter(!evalPred)
    val sizes = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hits = tr.join(broadcast(ev), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
    // hits is DECLARED-BOUNDED: only train docs sharing ≥1 (df-capped)
    // shingle with the benchmark — at most |eval shingles|·maxDf rows,
    // benchmark-scale, never corpus-scale. Broadcasting it makes the
    // final per-doc join map-side: two exchanges and a sort-merge drop
    // out of the plan (r6 plan diet — the r5 plan re-shuffled both
    // aggregated sides on doc_id just to join hit docs to their sizes).
    val out = sizes.join(broadcast(hits), Seq("doc_id"))
      .withColumn("overlap", round(col("n_shared") / col("n_sh").cast("double"), 6))
      .filter(col("overlap") >= minOverlap)
      .select(col("doc_id").as("train_id"), col("n_shared"), col("n_eval_docs"),
        col("n_sh"), col("overlap"))
    materializeAndRelease(out, sh)
  }

  /** Compute `result` once (into its own cache) while `index` is live,
    * then release the index blocks. The result cache is registered with
    * the session CacheManager, so `spark.catalog.clearCache()` (or the
    * caller's own unpersist) reclaims it — nothing is stranded.
    *
    * The release is BLOCKING: with the default async unpersist, a
    * corpus-sized index's block removal bleeds into whatever runs next —
    * the r5 driver bench showed exactly that signature (q62/q155, the
    * two biggest index builders, 8–21× driver/local while everything
    * else sat at ~1.3×, with the queries scheduled right after them
    * inflated too — BENCHNOTES.md r6). Synchronous removal bills the
    * teardown to the operator that created the index, where it belongs.
    */
  private def materializeAndRelease(result: DataFrame, index: DataFrame): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    index.unpersist(blocking = true)
    out
  }

  /** The per-document MinHash signature table — the unit that gets
    * persisted as the dedup index at warehouse scale. md5+affine sketch
    * family (not xxhash64): every step is portable SQL, so the DuckDB
    * oracle replays the pipeline end to end. Signs over 3-gram shingles
    * (same feature set as [[jaccardPairsW]]) — word sets are too coarse:
    * a shared vocabulary makes all word-Jaccards high, while
    * shingle-Jaccard discriminates documents. `dw` is a words table
    * (`Text.wordsTable` output).
    */
  def minhashSignaturesW(dw: DataFrame, k: Int = 32): DataFrame =
    dw
      .select(col("doc_id"), graft.plans.NativeFunctions
        .shingleHashes(col("w"), 3, "md5", graft.plans.Affine.P).as("hs"))
      .filter(size(col("hs")) > 0) // no shingles → no similarity evidence
      .select(col("doc_id"), Sketches.minhashAffine("hs", k).as("sig"))

  /** Banded form of a signature table: one row per (doc, band) with the
    * band's signature slots as plain long key columns k0..k{r−1}
    * (explode + element_at are codegen'd; string band keys built by
    * nested interpreted lambdas dominated the query before). This is
    * the LSH index layout — persisted bucketed by (band, k*) at scale.
    */
  def minhashBands(sigs: DataFrame, k: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    val nBands = k / rowsPerBand
    val slotCols = (0 until rowsPerBand).map(j =>
      element_at(col("sig"), col("band") * rowsPerBand + j + 1).as(s"k$j"))
    sigs
      .select(col("doc_id"), col("sig"), explode(expr(s"sequence(0, ${nBands - 1})")).as("band"))
      .select(Seq(col("doc_id"), col("sig"), col("band")) ++ slotCols: _*)
  }

  /** MinHash+LSH near-duplicate candidates: k-slot signatures, banded
    * into k/rowsPerBand buckets; documents colliding in any band become a
    * candidate pair, scored by estimated Jaccard (signature agreement).
    * The band join is the scale path — candidates are bounded by bucket
    * occupancy, capped at `maxBucket` docs per (band, key). `dw` is a
    * words table (`Text.wordsTable` output, persisted by callers that
    * feed other stages from the same tokenization).
    */
  def minhashCandidatesW(dw: DataFrame, k: Int = 32, rowsPerBand: Int = 4,
                         maxBucket: Int = 20, minEstJaccard: Double = 0.5): DataFrame = {
    val keyNames = (0 until rowsPerBand).map(j => s"k$j")
    val bands = minhashBands(minhashSignaturesW(dw, k), k, rowsPerBand)
    // Materialize the banded index once: both sides of the self-join (and
    // the hot-bucket count) would otherwise re-derive the whole
    // text→shingles→md5→signature pipeline. At warehouse scale this is
    // the persisted LSH index table. Released deterministically by
    // materializeAndRelease once the candidate pairs exist.
    val indexed = bands
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hot-bucket cap: aggregate bucket counts (few rows), broadcast, and
    // anti-join — NOT a count().over(Window) on the full index, which
    // would shuffle+sort every index row just to drop hot buckets
    val bucketKeys = "band" +: keyNames
    val hot = indexed.groupBy(bucketKeys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(bucketKeys.map(col): _*)
    val bounded = indexed.join(broadcast(hot), bucketKeys, "left_anti")
    // score-then-distinct (r17 — the q63 verify-then-distinct reorder
    // applied here): est_jaccard is functionally determined by the pair
    // (identical sigs on every colliding band), so scoring + threshold
    // BEFORE the distinct is output-identical while the dedup exchange
    // carries 24-byte (doc_a, doc_b, est) rows of SURVIVORS only,
    // instead of every band collision with two 32-slot signature arrays
    // (~0.5 KB/row). slotAgree re-evaluates per colliding band (small,
    // codegen'd) — bytes through the exchange are the scale cost, not
    // the slot compares (guide §2.3: shuffle fewer bytes).
    val pairs = bounded.as("a")
      .join(bounded.as("b"),
        ("band" +: keyNames).map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(graft.plans.NativeFunctions.slotAgree(col("a.sig"), col("b.sig"))
          / lit(k.toDouble), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
    materializeAndRelease(pairs, indexed)
  }

  /** LEARNED-threshold near-dup pairs — the calibrate→deploy
    * composition (SURVEY §7's "learned-threshold dedup"): run the q155
    * calibration sweep (exact Jaccard ground truth on the sample,
    * positives at exact ≥ 0.5 among pairs ≥ 0.3; minhash candidates at
    * a deliberately low 0.25 floor; thresholds i/20 for i ∈ 6..18, F1
    * per grid point in integer micro-units), pick the LOWEST threshold
    * attaining the maximum F1 (deterministic tie-break), and emit the
    * candidate pairs at that learned threshold with the threshold
    * attached. The candidate table is built ONCE and persisted — the
    * calibration sweep and the deployment filter read the same index
    * (at warehouse scale the sweep runs on a calibration sample while
    * the learned threshold filters the full candidate stream).
    *
    * The argmax is a 13-row driver decision (the ivfFit centroid-
    * collect discipline) with the oracle's exact arithmetic: F1
    * compared after round-to-6 in micro-units, so no float drift can
    * flip the grid choice between engines.
    */
  /** Deterministic calibration sample: the q27 hash-bucket filter on
    * doc_id — `sampleBuckets` of 256 md5 buckets kept (256 = whole
    * corpus). Content-independent, reproducible across engines and
    * retries; the DuckDB oracle replays the same predicate.
    */
  def inCalibrationSample(c: org.apache.spark.sql.Column,
                          sampleBuckets: Int): org.apache.spark.sql.Column = {
    // loud contract: 0 would yield an empty sample that only fails
    // later in argmaxF1, and a negative value formats via %02x to an
    // always-true predicate ("ffffffff") — both silent bends
    require(sampleBuckets >= 1,
      s"sampleBuckets must be >= 1 (256 = whole corpus), got $sampleBuckets")
    if (sampleBuckets >= 256) lit(true)
    else substring(md5(c.cast("string")), 1, 2) < f"$sampleBuckets%02x"
  }

  /** ONE definition of the sampled-calibration construction, shared by
    * [[learnedThresholdPairs]] (q189), [[learnThreshold]] (the
    * streaming deployment), and the q155 report — the sample
    * predicate, the 0.25 candidate floor, and the 0.3 truth floor can
    * never desynchronize across the three faces.
    *
    * The calibration input is explicitly SAMPLE-CAPPED (default 192/256
    * = 75%, tuned down hard in a deployment — 100 TB wants ~1/256):
    * the exact-Jaccard ground truth is inherently O(sample²)-shaped, so
    * the truth join runs on the hash-bucket sample only, and the sweep
    * reads the candidate table restricted to sample-sample pairs.
    * Restricting the DEPLOYED candidate table (rather than re-running
    * minhash on the sample) keeps calibration faithful to deployment:
    * the hot-bucket cap is the full-corpus one the learned threshold
    * will actually filter behind.
    *
    * Returns (cands, truth, sweep). cands/truth come back
    * persisted+materialized (their builders materializeAndRelease);
    * the CALLER releases them per its own cache posture — q189
    * cache-clean, q155 deliberately lazy (BENCHNOTES r12).
    */
  def sampledCalibration(docs: DataFrame, sampleBuckets: Int = 192)
      : (DataFrame, DataFrame, DataFrame) = {
    // ONE corpus tokenization for both branches (r18, guide §1.2/§2.3):
    // the minhash index and the exact-Jaccard ground truth each ran the
    // normText regexp + split over their input; the shared words table
    // is materialized BEFORE the overlap (so the concurrent branches
    // read a filled cache instead of racing to compute it) and released
    // once both branches' outputs are materialized (their builders
    // materializeAndRelease internally).
    val dw = Text.wordsTable(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dw.count()
    // the candidate index and the exact-Jaccard ground truth are
    // independent eager builds (each materializes its own persisted
    // table) — overlap them (guide §2.6; Overlap.build) instead of
    // idling the cluster through two serial chains of small jobs
    val Seq(cands, truth) = Overlap.build(Seq(
      () => minhashCandidatesW(dw, minEstJaccard = 0.25),
      () => jaccardPairsW(
        dw.filter(inCalibrationSample(col("doc_id"), sampleBuckets)),
        threshold = 0.3)), sessions = Seq(docs.sparkSession))
    dw.unpersist(blocking = true)
    val sweep = calibrationSweep(truth, cands.filter(
      inCalibrationSample(col("doc_a"), sampleBuckets) &&
        inCalibrationSample(col("doc_b"), sampleBuckets)))
    (cands, truth, sweep)
  }

  def learnedThresholdPairs(docs: DataFrame, sampleBuckets: Int = 192): DataFrame = {
    // sampledCalibration's persisted inputs are released below once the
    // sweep and the deployment filter no longer need them; the emitted
    // pairs are the FULL candidate table at the learned threshold.
    val (cands, truth, sweepDf) = sampledCalibration(docs, sampleBuckets)
    val sweep = sweepDf.collect()
    truth.unpersist(blocking = true)
    val bi = argmaxF1(sweep)
    val out = cands
      .filter(round(col("est_jaccard") * 1000000).cast("long") >= bi * 50000L)
      .select(round(lit(bi.toDouble) / 20.0, 2).as("threshold"),
        col("doc_a"), col("doc_b"), col("est_jaccard"))
    materializeAndRelease(out, cands)
  }

  /** The q155 oracle's exact grid selection over a collected
    * [[calibrationSweep]]: f1 rounded to 6 decimals (−1 when
    * undefined), max over the grid, LOWEST threshold index on a tie.
    */
  private def argmaxF1(sweep: Array[org.apache.spark.sql.Row]): Int = {
    val f1ByI = sweep.map { r =>
      val (i, tp, fp, fn) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val f1 = if (2 * tp + fp + fn > 0)
        math.round(2.0 * tp / (2 * tp + fp + fn) * 1e6) / 1e6 else -1.0
      (i, f1)
    }
    require(f1ByI.nonEmpty, "learned-threshold calibration saw an empty grid")
    val bestF1 = f1ByI.map(_._2).max
    f1ByI.filter(_._2 == bestF1).map(_._1).min
  }

  /** Calibrate only — learn the est-jaccard threshold (i/20 at the
    * argmax-F1 grid point) WITHOUT emitting pairs, releasing every
    * intermediate cache. This is the value a CONTINUOUS-ingestion
    * deployment computes once on a calibration sample and then plugs
    * into [[minhashCandidatesAgainst]] for every micro-batch
    * (StreamingDedupSpec pins stream-at-learned-threshold == the
    * batch [[learnedThresholdPairs]] pair set). Grid thresholds i/20
    * and signature agreements j/32 are compared after round-to-6;
    * boundary equality only occurs where both grids coincide (0.5,
    * 0.75 — dyadic, exactly representable), so the float compare in
    * the streaming filter cannot diverge from the micro-unit filter.
    */
  def learnThreshold(docs: DataFrame, sampleBuckets: Int = 192): Double = {
    val (cands, truth, sweepDf) = sampledCalibration(docs, sampleBuckets)
    val sweep = sweepDf.collect()
    truth.unpersist(blocking = true)
    cands.unpersist(blocking = true)
    argmaxF1(sweep) / 20.0
  }

  /** The calibration grid sweep shared by the q155 report and the
    * learned-threshold deployment above: join exact ground truth
    * ([[jaccardPairsW]] output) with minhash candidates
    * ([[minhashCandidatesW]] output) full-outer on the pair key, and
    * count tp/fp/fn per grid point i ∈ 6..18 (threshold i/20) in
    * integer micro-units — positives at exact ≥ 0.5, predictions at
    * est ≥ i/20, an LSH-missed true pair (est NULL → −1) counting
    * against recall at EVERY threshold. One 13× explode of the
    * (sample-sized, capped) pair tables + one aggregation shuffle.
    */
  def calibrationSweep(truth: DataFrame, cands: DataFrame): DataFrame = {
    val t = truth.select(col("doc_a"), col("doc_b"),
      round(col("jaccard") * 1000000).cast("long").as("exact_m"))
    val c = cands.select(col("doc_a"), col("doc_b"),
      round(col("est_jaccard") * 1000000).cast("long").as("est_m"))
    t.join(c, Seq("doc_a", "doc_b"), "full_outer")
      .select(coalesce(col("exact_m"), lit(0L)).as("exact_m"),
        coalesce(col("est_m"), lit(-1L)).as("est_m"))
      .select(col("exact_m"), col("est_m"), explode(expr("sequence(6, 18)")).as("i"))
      .groupBy(col("i"))
      .agg(
        sum(when(col("exact_m") >= 500000L && col("est_m") >= col("i") * 50000L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("exact_m") < 500000L && col("est_m") >= col("i") * 50000L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("exact_m") >= 500000L && col("est_m") < col("i") * 50000L, 1L).otherwise(0L)).as("fn"))
  }

  /** Incremental MinHash dedup: candidates between a NEW batch and an
    * EXISTING banded signature index ([[minhashBands]] output, persisted
    * at scale) — the continuous-ingestion path. Only the new batch is
    * signed; the corpus side is a plain scan of the index (bucketed by
    * (band, k*) in a warehouse, so this join is co-located). No
    * self-join, no recompute of historical signatures.
    */
  def minhashCandidatesAgainst(newDocs: DataFrame, index: DataFrame,
                               k: Int = 32, rowsPerBand: Int = 4,
                               minEstJaccard: Double = 0.5): DataFrame = {
    val keyNames = (0 until rowsPerBand).map(j => s"k$j")
    val newBands = minhashBands(minhashSignaturesW(Text.wordsTable(newDocs), k),
      k, rowsPerBand)
    // score-then-distinct: same exchange diet as [[minhashCandidatesW]]
    // (est is pair-determined; survivors-only 24-byte rows shuffle)
    newBands.as("n")
      .join(index.as("o"),
        ("band" +: keyNames).map(c => col(s"n.$c") === col(s"o.$c")).reduce(_ && _))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"),
        round(graft.plans.NativeFunctions.slotAgree(col("n.sig"), col("o.sig"))
          / lit(k.toDouble), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** SimHash near-duplicate candidates: 60-bit md5+affine sketch (SQL-
    * replayable — see [[minhashSignaturesW]]), bucketed on its four 15-bit
    * chunks (pigeonhole: hamming ≤ 3 ⟹ some chunk equal), verified by
    * exact hamming distance.
    *
    * Scale shape (r13, closing the r12 verdict's one weak): the hamming
    * verify + `≤ maxHamming` filter run BEFORE the pair `.distinct()` —
    * hamming is functionally determined by the pair, so
    * verify-then-distinct is output-identical to distinct-then-verify
    * (the q71/lshDupsAgainst reorder), and the dedup exchange now
    * carries only VERIFIED near-dup pairs (4-byte hamming payload)
    * instead of every chunk-collision candidate with two 8-byte
    * sketches. And like [[minhashCandidatesW]]' hot buckets, chunks whose
    * document frequency exceeds `maxChunkDf` are dropped by an
    * aggregate+broadcast anti-join before the self-join — a
    * boilerplate-heavy corpus would otherwise put near-identical docs in
    * one chunk bucket and go quadratic in that bucket. The cap trades
    * the pigeonhole recall guarantee ON CAPPED CHUNKS ONLY for a hard
    * per-bucket join bound (a pair whose every equal chunk is hot is
    * missed) — the same recall-for-boundedness trade minhash banding
    * already makes, and at 100 TB the capped chunks are exactly the
    * degenerate ones (empty-ish docs, boilerplate) where pair emission
    * is least useful.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
                        maxChunkDf: Int = 20): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), Sketches.md5Hashes("w").as("hs"))
      .select(col("doc_id"), Sketches.simhashBits("hs", 60).as("sh"))
    val chunks = hashed
      .select(col("doc_id"), col("sh"), posexplode(Sketches.simhash60Chunks("sh")))
      .select(col("doc_id"), col("sh"), col("pos").as("chunk"), col("col").as("ckey"))
    val hot = chunks.groupBy(col("chunk"), col("ckey"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxChunkDf)
      .select(col("chunk"), col("ckey"))
    val bounded = chunks.join(broadcast(hot), Seq("chunk", "ckey"), "left_anti")
    bounded.as("a")
      .join(bounded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** KEEP-BEST dedup — the selection step clustering stops short of:
    * which copy of each near-dup cluster ships. Keep-earliest throws
    * away information; the production convention (RefinedWeb/
    * FineWeb-style) keeps the HIGHEST-QUALITY member. Takes the docs
    * table and a near-dup pair table (any of [[minhashCandidatesW]] /
    * [[jaccardPairsW]] / [[simhashCandidates]] output), closes the
    * pairs into clusters ([[Components.dedupClusters]]), scores
    * quality ONLY for cluster members ([[Quality.score]] after a
    * semi-join prune — at 100 TB the member set is a vanishing
    * fraction, so the text HOFs never run on the full corpus), and
    * flags the per-cluster argmax (quality desc, doc_id tie-break).
    * Returns one row per CLUSTERED doc: (doc_id, cluster_id,
    * cluster_size, quality, kept 1/0); unclustered docs survive
    * trivially and never enter the window — the argmax window
    * partitions by cluster_id over members only, never a corpus-sized
    * sort.
    */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = Components.dedupClusters(
      pairs.select(col("doc_a"), col("doc_b")))
    val affected = docs.join(clusters.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val scored = Quality.score(affected).select(col("doc_id"), col("quality"))
    argmaxKept(clusters.join(scored, Seq("doc_id")))
  }

  /** [[keepBest]] over a precomputed words table — the shared-words-
    * pass face. `dw` is a persisted `Text.wordsTable` the caller also
    * feeds the pair generator from, so cluster members are scored from
    * the SAME tokenization (Quality.scoreW) and the corpus text is
    * never re-tokenized. NOTE: a caller without an existing words
    * table should use [[keepBest]] — it tokenizes AFTER the member
    * semi-join, so only the (vanishing) member fraction ever pays the
    * text HOFs at 100 TB.
    */
  def keepBestW(dw: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = Components.dedupClusters(
      pairs.select(col("doc_a"), col("doc_b")))
    val affected = dw.join(clusters.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val scored = Quality.scoreW(affected).select(col("doc_id"), col("quality"))
    argmaxKept(clusters.join(scored, Seq("doc_id")))
  }

  /** KEEP-BEST over already-scored state — the STREAMING ingestion face
    * (r13 VERDICT item 4). A continuous ingestion keeps three
    * corpus-THIN accumulated tables: the banded signature index (the
    * [[minhashCandidatesAgainst]] loop), the near-dup PAIR table it
    * extends per batch, and a (doc_id, quality) score table fed by each
    * batch's map-side [[Quality.score]] pass (12 bytes/doc — the
    * Report-partials accumulated-state posture; a doc's twin may arrive
    * ANY number of batches later, so member scores must be resolvable
    * from history without re-reading text). Each batch recomputes the
    * kept flags from pairs + scores ONLY — cluster state is
    * near-dup-sized, never corpus-sized, so the recompute is O(pairs)
    * min-label propagation plus a member-count window, regardless of
    * how much corpus has flowed past. Keep-best is a GLOBAL per-cluster
    * argmax, so kept flags legitimately flip as better members arrive —
    * recomputing over the full thin state is the semantics, not a
    * shortcut; `StreamingDedupSpec` pins streamed kept-set == batch
    * [[keepBest]] exactly on monotone arrivals.
    */
  def keepBestFromScored(scored: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = Components.dedupClusters(
      pairs.select(col("doc_a"), col("doc_b")))
    // loud contract (the Mix.keepAgainst discipline): a cluster MEMBER
    // missing from the score table means the accumulated state is
    // inconsistent — an inner join would silently shrink the cluster
    // and could flip which member is "best"; fail instead
    argmaxKept(clusters
      .join(scored.select(col("doc_id"), col("quality")), Seq("doc_id"), "left")
      .filter(assert_true(col("quality").isNotNull,
        concat(lit("Dedup.keepBestFromScored: cluster member "),
          col("doc_id").cast("string"),
          lit(" has no accumulated quality score — every ingested batch " +
            "must contribute its map-side Quality.score pass"))).isNull))
  }

  /** The shared argmax tail: per-cluster quality argmax (quality desc,
    * doc_id tie-break) over cluster members — the window partitions by
    * cluster_id over MEMBERS only, never a corpus-sized sort.
    */
  private def argmaxKept(members: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    members
      .withColumn("kept",
        when(row_number().over(win) === 1, 1).otherwise(0).cast("int"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality"), col("kept"))
  }

  /** Cross-source duplicate-LEAKAGE matrix — which corpus copies from
    * which: every minhash near-dup pair is attributed to the unordered
    * (source_x ≤ source_y) cell of its two documents' sources, with the
    * pair count and the mean estimated Jaccard of the cell. The report
    * a curator reads before mixing sources: a hot off-diagonal cell is
    * a mirror site or a cross-crawl leak (dedup the pair of sources
    * jointly); a hot diagonal cell is internal duplication.
    *
    * Determinism: est_jaccard is m/32 for m matching signature slots —
    * an exact dyadic double — so m is recovered exactly via ·32 and the
    * cell average is integer-exact until ONE final rounded division,
    * identical on both engines.
    *
    * Scale shape: pairs come banded + bucket-bounded from
    * [[minhashCandidatesW]] (never all-pairs); the two source lookups
    * are thin unique-key equi-joins against a (doc_id, source)
    * projection; the final groupBy is |sources|² cells, map-side
    * combined.
    */
  def crossSourceLeakage(docs: DataFrame): DataFrame = {
    // corpus-THIN (doc_id, source), materialized once: both endpoint
    // lookups read the same 2-column table — without this each join
    // side re-scans the full documents parquet (text included) just to
    // project two columns (PlanAudit's multi-scan gate)
    val meta = docs.select(col("doc_id"), col("source")).localCheckpoint(true)
    leakageFromState(meta, minhashCandidatesW(Text.wordsTable(docs)))
  }

  /** [[crossSourceLeakage]] over accumulated state — the STREAMING
    * ingestion face: a continuous ingestion keeps the corpus-THIN
    * (doc_id, source) meta table and extends the near-dup pair table
    * per batch (the [[minhashCandidatesAgainst]] loop); each refresh
    * recomputes the matrix from pairs + meta only. Loud contract: a
    * pair endpoint missing from `meta` is inconsistent accumulated
    * state — an inner join would silently drop the pair; fail instead.
    * Pairs must carry (doc_a, doc_b, est_jaccard) where est_jaccard is
    * the MINHASH m/32 estimate (an exact dyadic double — the ·32
    * recovery below depends on it); pairs from a continuous-similarity
    * source (e.g. jaccardPairsW) would silently quantize to 1/32 steps —
    * attach sources to those with a plain join instead.
    */
  def leakageFromState(meta: DataFrame, pairs: DataFrame): DataFrame = {
    def loud(c: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
      assert_true(c.isNotNull,
        concat(lit("Dedup.leakageFromState: pair endpoint "),
          id.cast("string"),
          lit(" has no accumulated (doc_id, source) meta row — every " +
            "ingested batch must contribute its thin projection"))).isNull
    // row-PRESENCE marker: a document with a legitimate NULL source
    // must attribute its pairs to the NULL cell, not trip the loud
    // contract — after the left join, nullness of the source DATA
    // column conflates "meta row absent" with "source column null",
    // so the assert keys on this marker instead
    val m = meta.select(col("doc_id"), col("source"),
      lit(true).as("__has_meta"))
    pairs
      .join(m.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "source_a")
        .withColumnRenamed("__has_meta", "__has_a"), Seq("doc_a"), "left")
      .filter(loud(col("__has_a"), col("doc_a")))
      .join(m.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "source_b")
        .withColumnRenamed("__has_meta", "__has_b"), Seq("doc_b"), "left")
      .filter(loud(col("__has_b"), col("doc_b")))
      .select(
        least(col("source_a"), col("source_b")).as("source_x"),
        greatest(col("source_a"), col("source_b")).as("source_y"),
        round(col("est_jaccard") * 32, 0).cast("long").as("slots"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("slots")).cast("double") / (count(lit(1)) * 32), 6)
          .as("avg_est_jaccard"))
  }
}
