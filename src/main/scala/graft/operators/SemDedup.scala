package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication via embedding-space clustering
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication"): k-means cluster the embeddings,
  * then compare pairs only WITHIN a cluster and drop one side of every
  * pair above a cosine threshold. The point at 100 TB: the quadratic
  * pair search is confined to cluster-sized chunks (choose c so
  * clusters stay bounded), and the cluster assignment is the SAME
  * artifact the IVF ANN index persists — [[Ann.ivfFit]]'s model plus
  * [[Ann.ivfEncode]]'s (vec_id, ve, cluster) table serve both search
  * and dedup, so a pipeline that already maintains the ANN index gets
  * semantic dedup for one extra intra-bucket join.
  *
  * This differs from [[Ann.cosineDupPairs]] (q71) in the bucketing
  * model: LSH hyperplane buckets are data-independent (fixed recall
  * from multi-probe), k-means cells ADAPT to the corpus (the paper's
  * posture — tighter candidate sets where density is high). Both end
  * in the same exact-cosine verify.
  */
object SemDedup {

  /** Duplicate pairs (va < vb, cosine ≥ threshold) from a fitted index
    * table — [[Ann.ivfEncode]] output (vec_id, ve, cluster). The join
    * is a cluster equi-join (never an all-pairs BNLJ); with the index
    * persisted bucketed-by-cluster it is co-located and shuffle-free.
    * Output: (va, vb, sim) — cluster ids are float-k-means artifacts
    * and deliberately NOT exposed.
    */
  def dupPairsFromIndex(index: DataFrame, threshold: Double): DataFrame = {
    val a = index.select(col("cluster"), col("vec_id").as("va"), col("ve").as("vea"))
    val b = index.select(col("cluster"), col("vec_id").as("vb"), col("ve").as("veb"))
    a.join(b, Seq("cluster"))
      .filter(col("va") < col("vb"))
      .withColumn("sim", round(Ann.cosine("vea", "veb"), 4))
      .filter(col("sim") >= threshold)
      .select(col("va"), col("vb"), col("sim"))
  }

  /** Self-contained composition: fit the coarse quantizer, encode the
    * corpus, emit intra-cluster duplicate pairs. Deployments reuse a
    * maintained IVF index instead (see [[dupPairsFromIndex]]).
    */
  def dupPairs(corpus: DataFrame, threshold: Double, c: Int = 16,
               iters: Int = 2, trainMod: Int = 1): DataFrame = {
    val cents = Ann.ivfFit(corpus, c, iters, trainMod)
    // materialize the encode once for the cluster self-join: without a
    // cut, single execution of the assignment subtree depends on
    // Catalyst's ReusedExchange firing (an optimizer decision, fragile
    // under AQE re-planning); the eager persist makes it structural.
    // persist, NOT localCheckpoint: checkpoint blocks bypass the
    // catalog, so the clearCache-between-queries hygiene (§2.7) never
    // frees them — cache blocks it does. The deployment face gets the
    // cut for free from its persisted index table.
    val index = Ann.ivfEncode(corpus, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    index.count()
    dupPairsFromIndex(index, threshold)
  }

  /** Incremental SemDeDup ingestion (the Ann.lshDupsAgainst shape,
    * for Structured Streaming foreachBatch loops): a NEW batch is
    * encoded against the already-FITTED model — broadcast centroids
    * only, no re-clustering — and probes the accumulated index with a
    * cluster equi-join; exact cosine verifies. Returns (new_id,
    * old_id, sim). Appending `Ann.ivfEncode(batch, cents)` to the
    * index is the caller's merge step, exactly how the persisted
    * bucketed index table grows at 100 TB: batch-sized encode, no
    * recompute of history.
    *
    * `excludeSelf` (default true) drops pairs whose ids are EQUAL —
    * correct when the batch and the index share one id space (the
    * streaming ingestion loop, where a batch may be re-processed
    * against an index that already contains it). Pass false when the
    * two sides carry INDEPENDENT id spaces (the [[decontaminate]]
    * posture): there an id equality is a coincidence that must NOT
    * suppress a real match — the Ann.ivfSearch excludeSelf contract.
    */
  def dupsAgainstIndex(newVecs: DataFrame, cents: Seq[(Int, Seq[Double])],
                       index: DataFrame, threshold: Double,
                       excludeSelf: Boolean = true): DataFrame =
    Ann.ivfEncode(newVecs, cents)
      .select(col("cluster"), col("vec_id").as("new_id"), col("ve").as("nve"))
      .join(index.select(col("cluster"), col("vec_id").as("old_id"), col("ve").as("ove")),
        Seq("cluster"))
      .filter(if (excludeSelf) col("new_id") =!= col("old_id") else lit(true))
      .withColumn("sim", round(Ann.cosine("nve", "ove"), 4))
      .filter(col("sim") >= threshold)
      .select(col("new_id"), col("old_id"), col("sim"))

  /** Cross-corpus semantic decontamination — the embedding-space
    * counterpart of n-gram decontamination (q128's GPT-3-style shape):
    * fit the coarse quantizer on the TRAINING corpus, encode it as the
    * IVF index, probe with the EVAL set; any training vector within
    * `threshold` cosine of an eval vector is contaminated and returned
    * as (eval_id, train_id, sim). The eval side is benchmark-sized —
    * it probes the index exactly like a query batch, so a deployment
    * that maintains the ANN index ([[Ann.ivfFit]]/[[Ann.ivfEncode]]
    * persisted as the bucketed table) decontaminates against a new
    * benchmark with ONE eval-sized encode + one cluster equi-join,
    * never rescanning 100 TB of training embeddings.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, threshold: Double,
                    c: Int = 16, iters: Int = 2,
                    trainMod: Int = 1): DataFrame = {
    val cents = Ann.ivfFit(train, c, iters, trainMod)
    // same persist-not-localCheckpoint cut as dupPairs (§2.7 hygiene)
    val index = Ann.ivfEncode(train, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    index.count()
    // excludeSelf = false: eval and train carry INDEPENDENT id spaces,
    // so a numeric id collision (eval benchmark row 42 copied from
    // train row 42) is a real contamination that the same-id filter
    // would silently swallow — the documented ivfSearch contract.
    dupsAgainstIndex(eval, cents, index, threshold, excludeSelf = false)
      .select(col("new_id").as("eval_id"), col("old_id").as("train_id"),
        col("sim"))
  }

  /** COMBINED decontamination — both hygiene passes of the published
    * pre-training recipes in one operator (GPT-3's appendix-C n-gram
    * overlap scrub AND an embedding-space probe, run together because
    * each catches leaks the other misses: paraphrased benchmark items
    * have low shingle overlap but high cosine; templated/numeric items
    * have high shingle overlap but unremarkable embeddings). The n-gram
    * branch is [[Dedup.decontaminate]] (corpus streams against a
    * broadcast benchmark shingle index); the semantic branch is
    * [[decontaminate]] (eval-sized encode probes the persisted IVF
    * index). Flag sets are full-outer-merged per training doc with
    * PROVENANCE: (train_id, ngram_flag, sem_flag, overlap, max_sim) —
    * overlap/max_sim null where that branch did not fire. Both
    * branches persist their own projections, so each corpus table is
    * scanned once; the merge joins two flagged-doc-sized tables.
    */
  def decontaminateCombined(docs: DataFrame, trainEmbs: DataFrame,
                            evalEmbs: DataFrame,
                            evalDocPred: org.apache.spark.sql.Column,
                            minOverlap: Double, semThreshold: Double,
                            c: Int = 16, iters: Int = 2,
                            trainMod: Int = 1): DataFrame = {
    // the two branches are independent eager chains over DIFFERENT
    // tables (documents vs embeddings: shingle-index persist + probe,
    // Lloyd fit + IVF-index persist + probe) — overlap them from the
    // driver (guide §2.6; Overlap.build) instead of idling the cluster
    // through each branch's small-job tail in turn
    val Seq(ngram, sem) = graft.operators.Overlap.build(Seq(
      () => Dedup.decontaminate(docs, evalDocPred, minOverlap)
        .select(col("train_id"), col("overlap"), lit(true).as("ngram_hit")),
      () => decontaminate(trainEmbs, evalEmbs, semThreshold, c, iters, trainMod)
        .groupBy(col("train_id"))
        .agg(max(col("sim")).as("max_sim"))
        .withColumn("sem_hit", lit(true))),
      sessions = Seq(docs.sparkSession, trainEmbs.sparkSession))
    ngram.join(sem, Seq("train_id"), "full_outer")
      .select(col("train_id"),
        coalesce(col("ngram_hit"), lit(false)).as("ngram_flag"),
        coalesce(col("sem_hit"), lit(false)).as("sem_flag"),
        col("overlap"), col("max_sim"))
  }
}
