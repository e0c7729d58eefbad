package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Winnowing fingerprints + duplicated-span detection (Schleimer,
  * Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003 — the MOSS algorithm). Detects text
  * SPANS duplicated across documents at ARBITRARY alignment, the case
  * both document-level dedup (q60/q61/q62: whole-doc similarity) and
  * fixed segmentation (q119: hash of pre-cut segments) miss — a span
  * straddling a segment boundary, or duplicated text embedded in
  * otherwise-unrelated documents.
  *
  * Guarantee (the paper's): any substring of at least w + k − 1 tokens
  * shared by two documents yields at least one common fingerprint, while
  * only ~2/(w+1) of positions are kept. Selection is per WINDOW of w
  * consecutive k-gram hashes: keep the window's minimal hash, ties
  * broken by position. Because tie-break order is preserved inside a
  * shared region (relative positions shift together), both documents
  * select the same gram occurrence — encoded here as argmin over
  * h·2³⁰ + pos, a single integer min both engines compute identically.
  *
  * Scale design: fingerprint selection is a per-document HOF projection
  * — transform/array_min/array_distinct inside WholeStageCodegen, ZERO
  * shuffles (no window function: a partitionBy(doc_id) sort would
  * shuffle the whole corpus just to scan each doc's positions). The
  * only shuffles are the df-cap aggregate and the fingerprint
  * equi-join, both on 8-byte keys, both bounded by the hot-fingerprint
  * cap — the q61 discipline. Position encoding caps documents at 2³⁰
  * k-gram positions (≫ any real document).
  *
  * Reference analog: none in presto's SQL surface (brief-mandated
  * pipeline operator); hash discipline shared with [[Dedup]]'s
  * SQL-replayable md5+affine family, so the DuckDB oracle replays the
  * selection bit-exactly.
  */
object Winnow {

  /** 2^30 — pos lives in the low bits, the k-gram hash (< 2^31) above:
    * h·2³⁰ + pos < 2⁶² never overflows, and integer min orders by
    * (hash, position) lexicographically.
    */
  private val Shift = 1073741824L

  /** Selected fingerprints: (doc_id, pos, fh, gram) — `pos` the 0-based
    * k-gram position, `fh` the md5-60 % (2³¹−1) hash of the gram,
    * `gram` the k-token text (carried for exact verification of hash
    * matches). Zero-shuffle projection.
    */
  def fingerprints(docs: DataFrame, k: Int = 5, w: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .withColumn("hs", graft.plans.NativeFunctions
        .shingleHashes(col("w"), k, "md5", graft.plans.Affine.P))
      // O(n) native window-min selection (plans/WinnowSelect): min of
      // each length-w window over h·2³⁰+pos, each selected value once.
      // Replaces the O(n·w) interpreted HOF whose upstream hash chain
      // projection collapse re-evaluated once PER WINDOW (measured 23×
      // on the real corpus); WinnowSpec pins kernel == HOF bit-exactly
      .withColumn("sel", graft.plans.NativeFunctions.winnowSelect(col("hs"), w))
      .select(col("doc_id"), col("w"), explode(col("sel")).as("c"))
      .select(col("doc_id"),
        expr(s"c % ${Shift}L").as("pos"),
        expr(s"c div ${Shift}L").as("fh"),
        expr(s"concat_ws(' ', slice(w, cast(c % ${Shift}L as int) + 1, $k))").as("gram"))

  /** Cross-document duplicated spans: pairs of documents sharing at
    * least one verified fingerprint, with the count of distinct shared
    * grams and the first shared position on each side. Fingerprints in
    * more than `maxDf` documents (boilerplate, licenses) are dropped
    * before the self-join — the hard fan-out bound at corpus scale.
    */
  def spanPairs(docs: DataFrame, k: Int = 5, w: Int = 8, maxDf: Int = 50): DataFrame = {
    // one fingerprint scan feeds the df-count and both join sides
    val fp = fingerprints(docs, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = fp.groupBy(col("fh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf).select(col("fh"))
    val ok = fp.join(broadcast(hot), Seq("fh"), "left_anti")
    val pairs = ok.as("a")
      .join(ok.as("b"),
        col("a.fh") === col("b.fh") && col("a.gram") === col("b.gram")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(countDistinct(col("a.gram")).as("n_spans"),
        min(col("a.pos")).as("pos_a"), min(col("b.pos")).as("pos_b"))
    val out = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    fp.unpersist(blocking = true)
    out
  }

  /** Contiguous duplicated-span EXTENTS — the output an excision pass
    * consumes (where to cut, not just which pairs match). Shared
    * verified fingerprints are grouped per document pair by their
    * alignment DIAGONAL (pos_a − pos_b: a shared region keeps both
    * positions shifting together, so its fingerprints share one
    * diagonal) and split into segments where consecutive fingerprint
    * positions gap by more than `w` — inside one shared region the
    * winnowing guarantee bounds the gap by w, so a larger gap means
    * distinct regions. Output: (doc_a, doc_b, start_a, end_a, start_b,
    * end_b, n_fp) with end = last fingerprint position + k − 1 (token
    * extents, inclusive). Resolution: two shared regions on the same
    * diagonal separated by fewer than ~w unshared tokens merge into one
    * reported span.
    *
    * Scale shape: the fingerprint join is df-capped as in [[spanPairs]];
    * the segment window partitions by (pair, diagonal) — matched
    * fingerprints only, a vanishing fraction of the corpus — never by
    * document over the full corpus.
    */
  def spanExtents(docs: DataFrame, k: Int = 5, w: Int = 8, maxDf: Int = 50): DataFrame = {
    val fp = fingerprints(docs, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = extentsOfFp(fp, k, w, maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    fp.unpersist(blocking = true)
    out
  }

  /** fp rows whose fingerprint hash is NOT boilerplate in `capSource`
    * (more than `maxDf` distinct documents) — the shared df-cap every
    * pair search applies before joining.
    */
  private def dfCapped(fp: DataFrame, capSource: DataFrame, maxDf: Int): DataFrame = {
    val hot = capSource.groupBy(col("fh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf).select(col("fh"))
    fp.join(broadcast(hot), Seq("fh"), "left_anti")
  }

  /** Append `seg`: contiguous runs of `posCol` within `keys` where
    * consecutive positions gap by ≤ w — the shared segmentation rule
    * (inside one shared region winnowing bounds the gap by w).
    */
  private def segmented(df: DataFrame, keys: Seq[String], posCol: String,
                        w: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val win = W.partitionBy(keys.map(col): _*).orderBy(col(posCol))
    df.withColumn("gap", col(posCol) - lag(col(posCol), 1).over(win))
      .withColumn("brk", when(col("gap").isNull || col("gap") > w, 1L).otherwise(0L))
      .withColumn("seg", sum(col("brk")).over(win.rowsBetween(W.unboundedPreceding, 0)))
      .drop("gap", "brk")
  }

  /** The lazy extents core over a fingerprint table — [[spanExtents]]
    * is this plus persist/materialize lifecycle; [[exciseAgainst]] runs
    * it over one micro-batch's fingerprints for within-batch cuts.
    */
  private def extentsOfFp(fp: DataFrame, k: Int, w: Int, maxDf: Int): DataFrame = {
    val ok = dfCapped(fp, fp, maxDf)
    val shared = ok.as("a")
      .join(ok.as("b"),
        col("a.fh") === col("b.fh") && col("a.gram") === col("b.gram")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))
      .dropDuplicates("doc_a", "doc_b", "pa", "pb")
    segmented(shared, Seq("doc_a", "doc_b", "diag"), "pa", w)
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("seg"))
      .agg(min(col("pa")).as("start_a"), (max(col("pa")) + (k - 1)).as("end_a"),
        min(col("pb")).as("start_b"), (max(col("pb")) + (k - 1)).as("end_b"),
        count(lit(1)).as("n_fp"))
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("end_a"),
        col("start_b"), col("end_b"), col("n_fp"))
  }

  /** Incremental face: a new batch's fingerprints (`fp`, the batch's
    * [[fingerprints]] output) probed against an ACCUMULATED fingerprint
    * index (a prior [[fingerprints]] output, persisted — bucketed by
    * `fh` at scale so only the batch side shuffles, the
    * [[graft.operators.Ann.lshDupsAgainst]] ingestion shape). Returns
    * (new_id, old_id, n_spans): spans the new batch shares with any
    * already-indexed document. The df cap is computed over the INDEX
    * (that is where boilerplate accumulates); only new-vs-indexed pairs
    * are emitted — callers fold the batch into the index afterwards.
    *
    * A loop running detect AND cut on the same micro-batch persists
    * `fp` once and passes it here and to [[exciseAgainstFp]]: one
    * [[fingerprints]] pass per micro-batch feeds both.
    */
  def spansAgainstFp(fp: DataFrame, index: DataFrame,
                     maxDf: Int = 50): DataFrame =
    indexMatches(fp, index, maxDf)
      .groupBy(col("new_id"), col("old_id"))
      .agg(countDistinct(col("gram")).as("n_spans"))

  /** Verified fingerprint matches between a batch's fingerprints and
    * the accumulated index, df-capped over the INDEX (where boilerplate
    * accumulates): (new_id, old_id, pn, diag, gram) — shared by
    * [[spansAgainstFp]] (detect) and [[exciseAgainst]] (cut).
    */
  private def indexMatches(fp: DataFrame, index: DataFrame,
                           maxDf: Int): DataFrame =
    dfCapped(fp, index, maxDf).as("a")
      .join(index.as("b"),
        col("a.fh") === col("b.fh") && col("a.gram") === col("b.gram")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"),
        col("a.pos").as("pn"), (col("a.pos") - col("b.pos")).as("diag"),
        col("a.gram").as("gram"))

  /** Span EXCISION — the cut an extents consumer actually performs
    * (the RefinedWeb-style removal of duplicated passages): for every
    * document on the CUT side of a [[spanExtents]] pair (keep-earliest
    * convention — doc_b, the higher id, loses its copy), merge its cut
    * intervals into maximal spans (overlapping or adjacent intervals
    * coalesce), drop the covered tokens, and emit the cleaned document:
    * (doc_id, n_spans, tokens_cut, clean_text) over the normalized word
    * sequence, affected documents only.
    *
    * Scale shape: extents are df-capped upstream; interval merging
    * windows partition by doc_id over extent rows only (a vanishing
    * fraction of the corpus); ONLY affected documents re-read their
    * text and pay the token explode — the cut itself is an anti-join of
    * (doc, pos) against the merged spans, equi on doc_id.
    */
  def exciseSpans(docs: DataFrame, k: Int = 5, w: Int = 8,
                  maxDf: Int = 50): DataFrame = {
    val ext = spanExtents(docs, k, w, maxDf)
    // no distinct: the interval-merge window in cutDocs coalesces
    // duplicate intervals (same span cut against several partners) for
    // free — a pre-dedup exchange would move the same rows once more
    val cuts = ext
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        col("end_b").as("e"))
    val out = cutDocs(docs, cuts)
    ext.unpersist(blocking = true)
    out
  }

  /** The streaming counterpart of [[exciseSpans]]: cut each NEW
    * document's passages already present in the ACCUMULATED fingerprint
    * index (the [[spansAgainstFp]] ingestion shape — df cap over the
    * index, only the batch side shuffles when the index is bucketed by
    * fh), AND passages duplicated WITHIN the arriving batch (an
    * intra-batch [[extentsOfFp]] pass over the batch's own
    * fingerprints — without it two near-dups arriving together would
    * both enter the index uncut and escape excision forever).
    *
    * Keep-earliest semantics: vs the index, the INDEXED copy wins (it
    * arrived first — arrival order, the deployment semantics, which
    * coincides with the batch face's id order only when ids are
    * monotone with arrival); within one batch there is no arrival
    * order, so the batch face's rule applies (the higher id loses).
    *
    * Fold protocol (what enters the index after the cut): folding this
    * batch's UNCUT fingerprints keeps the index matching every future
    * copy of an excised passage — maximal dedup recall, at the price of
    * the index diverging from the shipped (cleaned) corpus. A caller
    * that needs index == shipped corpus should instead fold
    * `fingerprints(cleaned)` over this method's `clean_text` output
    * (note unaffected batch docs pass through untouched and still need
    * folding — union their fp rows or re-fingerprint the whole cleaned
    * batch). Default recommendation is uncut-fp folding: an excised
    * passage EXISTS in the corpus (its first copy shipped), so keeping
    * its fingerprints is semantically "the passage is taken", which is
    * exactly what future arrivals must learn.
    *
    * This convenience face computes its own fingerprint pass; a loop
    * that also runs detection on the same batch should persist one
    * [[fingerprints]] output and use [[spansAgainstFp]] +
    * [[exciseAgainstFp]] so the batch is scanned once for both.
    */
  def exciseAgainst(newDocs: DataFrame, index: DataFrame,
                    k: Int = 5, w: Int = 8, maxDf: Int = 50): DataFrame = {
    val fp = fingerprints(newDocs, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = exciseAgainstFp(newDocs, fp, index, k, w, maxDf)
    fp.unpersist(blocking = true)
    out
  }

  /** [[exciseAgainst]] over a caller-held fingerprint table: `fp` must
    * be `fingerprints(newDocs, k, w)`, persisted by the caller (and
    * released by the caller after the returned frame is consumed — the
    * result is materialized through the interval checkpoint in
    * [[cutDocs]], so the fp cache is not needed once this returns).
    */
  def exciseAgainstFp(newDocs: DataFrame, fp: DataFrame, index: DataFrame,
                      k: Int = 5, w: Int = 8, maxDf: Int = 50): DataFrame = {
    val idxCuts = segmented(
      indexMatches(fp, index, maxDf)
        .dropDuplicates("new_id", "old_id", "pn", "diag"),
      Seq("new_id", "old_id", "diag"), "pn", w)
      .groupBy(col("new_id"), col("old_id"), col("diag"), col("seg"))
      .agg(min(col("pn")).as("s"), (max(col("pn")) + (k - 1)).as("e"))
      .select(col("new_id").as("doc_id"), col("s"), col("e"))
    val batchCuts = extentsOfFp(fp, k, w, maxDf)
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        col("end_b").as("e"))
    cutDocs(newDocs, idxCuts.unionByName(batchCuts))
  }

  /** Merge cut intervals per document into maximal spans and remove the
    * covered tokens — the machinery [[exciseSpans]] and [[exciseAgainst]]
    * share. `cuts` is (doc_id, s, e) inclusive token intervals over the
    * normalized word sequence.
    *
    * Interval-ARRAY formulation (r13): each affected doc's merged,
    * disjoint intervals aggregate to ONE array row (extent-count-sized),
    * which equi-joins to the document scan; the cut is then a single
    * indexed HOF filter over the word array, map-side — the affected
    * TEXT never enters an exchange. The r12 shape instead posexploded
    * affected docs to (doc_id, pos, word) rows, range-joined the
    * intervals, and REBUILT the text through a collect_list aggregation
    * — the entire affected corpus crossed that final exchange as
    * per-token rows (51 MB at sf1 vs ~31 for the extents it consumed).
    * Here the only shuffles are interval-sized.
    *
    * The interval side is broadcast: one row per AFFECTED document
    * (near-dup victims with their extent arrays), orders of magnitude
    * under the corpus. At warehouse scale, if the affected set outgrows
    * a broadcast, drop the hint and bucket both sides by doc_id — the
    * join is already equi on doc_id, so co-located storage keeps the
    * text out of the exchange the same way.
    */
  private def cutDocs(docs: DataFrame, cuts: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byDoc = W.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val ivs = cuts
      .withColumn("pme", max(col("e")).over(byDoc.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pme").isNull || col("s") > col("pme") + 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(byDoc.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        array_sort(collect_list(struct(col("s"), col("e")))).as("ivs"))
      // extent-count-sized; materializing severs the lineage so callers
      // (exciseSpans/exciseAgainst) can release their extent/fp caches
      // on return without the lazy result recomputing them
      .localCheckpoint()
    docs
      .join(broadcast(ivs), "doc_id")
      .select(col("doc_id"), col("n_spans"),
        Text.words(col("text")).as("w"), col("ivs"))
      // merged intervals are disjoint, so a token is covered by at most
      // one — `exists` over the (small) interval array per position
      .withColumn("kept",
        expr("filter(w, (x, i) -> NOT exists(ivs, v -> i >= v.s AND i <= v.e))"))
      .select(col("doc_id"), col("n_spans"),
        (size(col("w")) - size(col("kept"))).cast("long").as("tokens_cut"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }
}
