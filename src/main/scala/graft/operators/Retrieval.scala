package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Lexical and hybrid retrieval (SURVEY.md §2.6) — the RAG deployment
  * stack's ranking layer: BM25 (Robertson/Spärck Jones probabilistic
  * weighting, the k1/b formulation every production engine ships),
  * and the standard hybrid composition — a lexical ranking ⊕ a vector
  * ranking fused by reciprocal-rank fusion (Cormack et al. SIGIR 2009),
  * the zero-tuning fusion that is remarkably hard to beat.
  *
  * Scale design: scoring reduces the corpus to a persisted THIN
  * match-list projection in ONE scan (per doc: its length and only the
  * query's terms — what a posting-list intersection produces); corpus
  * stats and df broadcast; every top-N is orderBy+limit
  * (TakeOrderedAndProject: per-partition top-k + k-sized merge) BEFORE
  * any rank window, so no window ever sees more than N rows. The fusion
  * join is N×N on unique doc_id — rank-list-sized regardless of corpus
  * size. At 100 TB the lexical side reads a persisted posting index and
  * the vector side any Ann index face; the fusion is unchanged.
  */
object Retrieval {

  /** BM25 contribution of one (term, doc) match — k1 = 1.2, b = 0.75
    * (the universal defaults). Expects columns n_docs, df, tf, dl,
    * avgdl in scope.
    */
  private val bm25Contrib =
    "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 " +
      "/ (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"

  /** BM25 match scores for a bag-of-terms query: (doc_id, score,
    * n_terms) for every document matching ≥1 query term; score rounded
    * to 6 dp (replay-deterministic cross-engine). One corpus scan —
    * the persisted base carries (doc_id, dl, matched-terms-only) and
    * feeds lengths, corpus stats, tf and df; df and the corpus stats
    * broadcast into the scoring join.
    */
  def bm25Scored(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25Scored: query terms must be non-empty")
    // terms ride a typed array literal matched with array_contains —
    // never interpolated into SQL text, so a term containing a quote
    // (user-reachable through the graft_hybrid_search TVF) is data, not
    // syntax (r17, ADVICE)
    val tset = typedlit(terms)
    val base = docs.select(col("doc_id"), Text.words(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("double").as("dl"),
        filter(col("w"), t => array_contains(tset, t)).as("qterms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    val dl = base.select(col("doc_id"), col("dl"))
    val ad = base.agg(avg("dl").as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val tf = base.select(col("doc_id"), explode(col("qterms")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    // materialize the match-list-sized scored table, then free the
    // corpus-wide base eagerly — the operator runs twice per session
    // (q140 + q220's hybridSearch) and dead corpus blocks would squat on
    // executor memory
    val scored = tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(ad))
      .groupBy("doc_id")
      .agg(round(sum(expr(bm25Contrib)), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .localCheckpoint(true)
    base.unpersist(blocking = false)
    scored
  }

  /** The persisted LEXICAL index build (r17) — the fit/encode half of
    * the retrieval deployment split the Ann family already has: ONE
    * corpus scan produces (a) the posting table (term, doc_id, tf) —
    * bucket BY term at warehouse scale, so a query's probe reads only
    * its terms' buckets with the term predicate pushed to the scan —
    * (b) the doc-length table (doc_id, dl) — bucket BY doc_id, making
    * the score join's exchange free — and (c) the single-row corpus
    * stats (avgdl, n_docs). [[bm25ScoredFromIndex]] then serves
    * queries with ZERO scans of the document corpus (AnnIndexSpec
    * discipline: the plan is asserted scan-free), which is the whole
    * point at 100 TB: the corpus pays one indexing pass, queries pay
    * posting-list-sized work forever.
    */
  def lexIndex(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id"), Text.words(col("text")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    val dl = base.select(col("doc_id"), size(col("w")).cast("double").as("dl"))
      .localCheckpoint(true)
    val postings = base
      .select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .repartition(col("term"))
      .localCheckpoint(true)
    val stats = dl.agg(avg("dl").as("avgdl"),
      count(lit(1)).cast("double").as("n_docs")).localCheckpoint(true)
    base.unpersist(blocking = false)
    (postings, dl, stats)
  }

  /** Incremental lexical-index ingestion (r17) — the continuous-
    * ingestion face ([[Ann.nswInsert]]'s posture for the lexical side):
    * a batch of NEW documents appends its posting rows and doc lengths
    * to the persisted faces, and the single-row stats recompute from
    * the corpus-THIN dl table (one thin-scan aggregation per batch —
    * storing avgdl directly instead of running sums keeps the stats
    * face identical to [[lexIndex]]'s). Because tf is per-(term,
    * doc_id) and a batch's doc_ids are new by ingestion contract, the
    * append is EXACT: appended faces equal a fresh whole-corpus build
    * row-for-row (RetrievalSpec pins the law) — no compaction pass is
    * ever needed for correctness, only the warehouse re-bucketing
    * ([[graft.operators.Ann.compactIndex]] on the term key) to keep
    * the probe's bucket pruning effective as segments accumulate.
    */
  def lexIndexAppend(batch: DataFrame, postings: DataFrame,
                     dl: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (bPost, bDl, _) = lexIndex(batch)
    val newPost = postings.unionByName(bPost)
    val newDl = dl.unionByName(bDl)
    val stats = newDl.agg(avg("dl").as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    (newPost, newDl, stats)
  }

  /** BM25 match scores served from the PERSISTED index — identical
    * output contract to [[bm25Scored]] (RetrievalSpec pins row-for-row
    * equality) with no corpus access: probe the postings for the
    * query's terms (a pushed `array_contains` filter — at warehouse
    * scale a bucket-pruned read of |terms| buckets), derive each
    * term's df by COUNTING ITS PROBED POSTINGS (exact — a term's df IS
    * its posting-list length, so no separate df table can drift out of
    * sync with the postings), then the same broadcast-stats scoring
    * aggregation. Every side is posting-list- or single-row-sized.
    */
  def bm25ScoredFromIndex(postings: DataFrame, dl: DataFrame,
                          stats: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25ScoredFromIndex: query terms must be non-empty")
    val tset = typedlit(terms)
    val probed = postings.filter(array_contains(tset, col("term")))
    val dfT = probed.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    probed.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(expr(bm25Contrib)), 6).as("score"),
        count(lit(1)).as("n_terms"))
  }

  /** BM25 top-k from the persisted index — [[bm25]]'s deployment form
    * (the q224 face).
    */
  def bm25FromIndex(postings: DataFrame, dl: DataFrame, stats: DataFrame,
                    terms: Seq[String], k: Int = 10): DataFrame =
    topRanked(bm25ScoredFromIndex(postings, dl, stats, terms), "score", "rank", k)
      .select(col("doc_id"), col("score"), col("n_terms"), col("rank"))
      .orderBy("rank")

  /** Top-`n` of `scored` by (scoreCol desc, doc_id), ranked 1..n:
    * orderBy+limit FIRST (TakeOrderedAndProject), THEN the row_number
    * window over the ≤n survivors — a rank window over the full match
    * set would single-partition it.
    */
  def topRanked(scored: DataFrame, scoreCol: String, rankCol: String,
                n: Int): DataFrame = {
    val w = Window.orderBy(col(scoreCol).desc, col("doc_id"))
    scored.orderBy(col(scoreCol).desc, col("doc_id")).limit(n)
      .withColumn(rankCol, row_number().over(w).cast("int"))
  }

  /** BM25 top-k (the q140 face): (doc_id, score, n_terms, rank). */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame =
    topRanked(bm25Scored(docs, terms), "score", "rank", k)
      .select(col("doc_id"), col("score"), col("n_terms"), col("rank"))
      .orderBy("rank")

  /** Hybrid BM25 ⊕ vector-cosine retrieval through integer RRF — the
    * standard RAG stack: the lexical ranking catches exact-term matches
    * embeddings blur, the vector ranking catches paraphrases the terms
    * miss, and reciprocal-rank fusion needs no score calibration
    * between the two (incomparable scales — THE reason RRF, not a
    * weighted score sum, is the default).
    *
    * `queries` is the bounded probe set (vec_id, embedding) — each
    * probe fuses the SAME lexical top-`depth` (one bag-of-terms query
    * against the corpus) with its OWN vector top-`depth` from
    * [[Ann.bruteKnn]] (swap any Ann index face at scale; the fusion is
    * rank-list-sized either way). Fused micro-units are integer-exact:
    * fused = Σ 1,000,000 div (rrfK + rank), absent side contributes 0
    * (the q215 discipline — zero float anywhere in the fusion).
    * Output: (qid, doc_id, rank_lex, rank_vec, fused, rank ≤ k).
    */
  def hybridSearch(docs: DataFrame, embs: DataFrame, terms: Seq[String],
                   queries: DataFrame, k: Int = 10, depth: Int = 20,
                   rrfK: Int = 60): DataFrame =
    hybridSearchRanked(docs, terms,
      queries.select(col("vec_id").as("qid")),
      Ann.bruteKnn(embs, queries, k = depth)
        .select(col("qid"), col("cid").as("doc_id"), col("rn").as("rank_vec")),
      k, depth, rrfK)

  /** Hybrid fusion over ANY vector ranking — the index-face deployment
    * form (r17): `vecRanks` is (qid, doc_id, rank_vec ≤ depth) from
    * whichever Ann face the deployment runs (nswKnnLsh beam walk, PQ
    * ADC, LSH buckets — [[hybridSearch]] passes the brute baseline).
    * The lexical side, the integer RRF and the qid-partitioned fusion
    * window are IDENTICAL regardless of the vector face, so an index
    * swap changes recall, never fusion semantics — q216's recallAtK
    * grades the swapped composition against the brute fusion (q223).
    *
    * `qids` is the bounded probe-id set (one `qid` column): the lexical
    * list is qid-independent, so it broadcasts once and
    * full-outer-joins each probe's vector list on unique doc_id
    * (cross-joined with the probe ids so lexical-only docs still
    * surface per probe).
    */
  def hybridSearchRanked(docs: DataFrame, terms: Seq[String],
                         qids: DataFrame, vecRanks: DataFrame, k: Int = 10,
                         depth: Int = 20, rrfK: Int = 60): DataFrame =
    hybridSearchRankedLex(
      topRanked(bm25Scored(docs, terms), "score", "rank_lex", depth)
        .select(col("doc_id"), col("rank_lex")),
      qids, vecRanks, k, depth, rrfK)

  /** Fusion over a PRECOMPUTED lexical top-list (doc_id, rank_lex ≤
    * depth) — the shape for callers fusing SEVERAL vector faces against
    * ONE lexical ranking (q223 grades the indexed fusion against the
    * brute fusion): the eager BM25 scoring chain runs once, not once
    * per face. [[hybridSearchRanked]] delegates here.
    */
  def hybridSearchRankedLex(lex: DataFrame, qids: DataFrame,
                            vecRanks: DataFrame, k: Int = 10,
                            depth: Int = 20, rrfK: Int = 60): DataFrame = {
    require(k >= 1 && depth >= k && rrfK >= 1,
      s"hybridSearch: need 1 <= k <= depth and rrfK >= 1, got k=$k depth=$depth rrfK=$rrfK")
    val lexPerQ = broadcast(qids.crossJoin(lex))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("fused").desc, col("doc_id"))
    vecRanks.join(lexPerQ, Seq("qid", "doc_id"), "full_outer")
      .withColumn("fused",
        coalesce(expr(s"1000000L div ($rrfK + rank_lex)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($rrfK + rank_vec)"), lit(0L)))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank_lex"), col("rank_vec"),
        col("fused"), col("rank"))
  }
}
