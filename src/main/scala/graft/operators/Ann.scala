package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Sketches

/** Similarity search over an embedding column (SURVEY.md §2.6). Input
  * contract: (vec_id: bigint, embedding: array<float>).
  *
  * Scale design: brute force is the correctness baseline and is only ever
  * run against a bounded query set (queries broadcast against the
  * candidate corpus — the corpus is never self-cross-joined). The LSH
  * path buckets the corpus by hyperplane signs so each query probes one
  * bucket: at 100 TB the bucketed table is the persisted index.
  */
object Ann {

  /** Exact cosine similarity between two double-array columns (by name):
    * native codegen'd kernel (graft.plans.CosineSim) — one fused
    * dot+norms loop per pair, no interpreted lambdas.
    */
  def cosine(a: String, b: String): org.apache.spark.sql.Column =
    graft.plans.NativeFunctions.cosineSim(col(a), col(b))

  /** HOF formulation of the same kernel — kept as the parity oracle for
    * the native expression (AnnSpec asserts equality).
    */
  def cosineHof(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)") /
      (sqrt(expr(s"aggregate($a, 0.0D, (acc, x) -> acc + x * x)")) *
        sqrt(expr(s"aggregate($b, 0.0D, (acc, x) -> acc + x * x)")))

  // native Cast (codegen'd), not a transform() lambda
  private def asDouble(c: String) = col(c).cast("array<double>")

  /** Brute-force top-k cosine neighbours of each query vector.
    * The query set must be small (it is broadcast); the candidate corpus
    * streams through one scan.
    */
  def bruteKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), asDouble("embedding").as("qe")))
    val c = corpus.select(col("vec_id").as("cid"), asDouble("embedding").as("ce"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(q, col("qid") =!= col("cid"))
      .withColumn("sim", round(cosine("qe", "ce"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rn"))
  }

  // ---------------------------------------------------------------------
  // FILTERED ANN search (r17) — top-k under a metadata predicate
  // (`lang = 'en'`, `source = x`, a tenant id): the RAG deployment
  // reality. The reference analog is predicate pushdown into the scan
  // (ScanFilterAndProjectOperator): the predicate prunes CANDIDATES
  // BEFORE scoring, never a finished k-list — post-filtering a k-list
  // wastes its rank slots and can go empty while allowed neighbours
  // exist. For the bucketed faces the filter sits directly on the index
  // relation, so Catalyst pushes it into the parquet scan of the probed
  // buckets (PushedFilters); the index rows must carry the metadata
  // columns the predicate references — join them onto the encode output
  // ONCE at build time and the persisted bucketed index stores them
  // (the filtered faces never join metadata at query time). The graph
  // face threads the predicate through the walk instead — traversal
  // must cross disallowed nodes to stay connected — see [[nswWalk]].
  // ---------------------------------------------------------------------

  /** Exact filtered top-k: candidates = corpus rows satisfying `pred`
    * (the filter reaches the corpus scan), then [[bruteKnn]]. The
    * correctness baseline every filtered index face is graded against
    * (q222's oracle face).
    */
  def bruteKnnFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
                       pred: Column): DataFrame =
    bruteKnn(corpus.filter(pred), queries, k)

  /** Filtered IVF search: `pred` prunes the probed buckets' rows before
    * the exact-cosine ranking — at scale the scan reads nprobe/c of the
    * index WITH the pushed predicate. With nprobe = c this equals
    * [[bruteKnnFiltered]] row-for-row (AnnSpec pins the law).
    */
  def ivfSearchFiltered(cents: Seq[(Int, Seq[Double])], index: DataFrame,
                        queries: DataFrame, k: Int, pred: Column,
                        nprobe: Int = 4,
                        excludeSelf: Boolean = true): DataFrame =
    ivfSearch(cents, index.filter(pred), queries, k, nprobe, excludeSelf)

  /** Filtered PQ ADC search: `pred` prunes code rows before the ADC
    * join (every (vec_id, sub) row of the code table carries the
    * vector's metadata — m small values per vector, still a thin
    * index). Approximation is unchanged: ADC distances over the
    * SURVIVING codes, so the k-list is dense over the allowed set.
    */
  def pqSearchFiltered(cents: Seq[(Int, Int, Seq[Double])], index: DataFrame,
                       queries: DataFrame, k: Int, pred: Column, m: Int = 4,
                       dim: Int = 64, excludeSelf: Boolean = true): DataFrame =
    pqSearch(cents, index.filter(pred), queries, k, m, dim, excludeSelf)

  /** Filtered graph-ANN search (the [[nswKnnLsh]] deployment face
    * under a predicate): the walk traverses the FULL graph, each
    * visited node carries its predicate bit on the co-located vector
    * table, and the final top-k ranks over allowed visited nodes only
    * — filter before the k-cut, zero extra joins. Raise `beam`/`hops`
    * for very selective predicates (the filtered-HNSW budget rule).
    */
  def nswSearchLshFiltered(edges: DataFrame, index: DataFrame,
                           entries: DataFrame, queries: DataFrame, k: Int,
                           nBits: Int, pred: Column, beam: Int = 16,
                           hops: Int = 4,
                           excludeSelf: Boolean = true): DataFrame =
    nswSearchLsh(edges, index, entries, queries, k, nBits, beam, hops,
      excludeSelf, Some(pred))

  /** MATRYOSHKA truncation-quality report (MRL, Kusupati et al.
    * NeurIPS'22): can retrieval run on the first `dims` coordinates?
    * For each query, the top-1 neighbour under the FULL cosine vs the
    * top-1 under the TRUNCATED-prefix cosine (cosine of slices IS the
    * renormalized-truncation similarity — the norms in the denominator
    * are the sliced norms), reporting the truncated pick's FULL-dim
    * similarity (the quality actually delivered if the cheap index
    * serves) and an agreement flag. The table read before committing an
    * index to a prefix dimension.
    *
    * Determinism: the q64 discipline — double cosine rounded to 4,
    * rank ties broken by cid; both top-1 picks are therefore
    * SQL-replayable. Brute posture by declared design (the q64
    * correctness-baseline class): queries broadcast, one corpus scan,
    * both rankings computed from the SAME scan (the two windows share
    * the per-qid partition).
    */
  def matryoshkaAgreement(corpus: DataFrame, queries: DataFrame,
                          dims: Int): DataFrame = {
    // loud argument contract: dims <= 0 slices to empty arrays whose
    // 0/0 cosine is NaN — every truncated top-1 would degenerate to the
    // min-cid row and the report would LOOK normal (the silent-bend
    // class); fail here instead
    require(dims >= 1, s"matryoshka prefix dims must be >= 1, got $dims")
    // in-plan upper-bound contract: slice() CLAMPS past the array end
    // (as does the oracle's array slicing), so dims > |embedding| would
    // silently report sim_trunc == sim_full — 100% trivial agreement —
    // instead of failing (the same silent-bend class as dims <= 0);
    // assert per-row BEFORE the join (one cheap size() per vector, the
    // query side broadcast-sized)
    def fits(df: DataFrame, side: String): DataFrame = df.filter(
      assert_true(size(col(side)) >= dims,
        concat(lit(s"Ann.matryoshkaAgreement: prefix dims=$dims exceeds " +
          s"$side embedding length "), size(col(side)).cast("string"),
          lit(" — a clamped slice would trivially agree with the full " +
            "cosine"))).isNull)
    val q = broadcast(fits(
      queries.select(col("vec_id").as("qid"), asDouble("embedding").as("qe")), "qe"))
    val c = fits(
      corpus.select(col("vec_id").as("cid"), asDouble("embedding").as("ce")), "ce")
    val wf = Window.partitionBy(col("qid")).orderBy(col("sim_full").desc, col("cid"))
    val wt = Window.partitionBy(col("qid")).orderBy(col("sim_trunc").desc, col("cid"))
    c.join(q, col("qid") =!= col("cid"))
      .withColumn("sim_full", round(cosine("qe", "ce"), 4))
      .withColumn("qe_t", expr(s"slice(qe, 1, $dims)"))
      .withColumn("ce_t", expr(s"slice(ce, 1, $dims)"))
      .withColumn("sim_trunc", round(cosine("qe_t", "ce_t"), 4))
      .withColumn("rf", row_number().over(wf))
      .withColumn("rt", row_number().over(wt))
      .filter(col("rf") === 1 || col("rt") === 1)
      .groupBy(col("qid"))
      .agg(
        max(when(col("rf") === 1, col("cid"))).as("full_cid"),
        max(when(col("rf") === 1, col("sim_full"))).as("full_sim"),
        max(when(col("rt") === 1, col("cid"))).as("trunc_cid"),
        max(when(col("rt") === 1, col("sim_full"))).as("trunc_full_sim"))
      .withColumn("agree", col("full_cid") === col("trunc_cid"))
  }

  /** LSH-bucketed approximate top-k with multi-probe: corpus vectors are
    * bucketed once by random-hyperplane signs; each query probes its own
    * bucket plus every bucket at hamming distance 1 (flip one sign bit).
    * `nBits` trades recall (fewer bits → bigger buckets) for work; the
    * bucketed corpus is the persisted index at 100 TB — queries never
    * touch vectors outside their probe set.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int = 4): DataFrame = {
    val dim = 64
    val c = corpus.select(col("vec_id").as("cid"), asDouble("embedding").as("ce"))
      .withColumn("bucket", Sketches.affineHyperplaneBucket("ce", nBits, dim))
    val probes = expr(
      s"array_union(array(bucket), transform(sequence(0, ${nBits - 1}), i -> bucket ^ shiftleft(1L, i)))")
    val q = broadcast(queries.select(col("vec_id").as("qid"), asDouble("embedding").as("qe"))
      .withColumn("bucket", Sketches.affineHyperplaneBucket("qe", nBits, dim))
      .select(col("qid"), col("qe"), explode(probes).as("bucket")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(q, Seq("bucket")).filter(col("qid") =!= col("cid"))
      .withColumn("sim", round(cosine("qe", "ce"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rn"))
  }

  /** Deterministic hash-sample of the corpus for codebook TRAINING (the
    * FAISS practice at scale: k-means quality needs a bounded multiple
    * of k training points, not the corpus — assignment/encoding still
    * see every vector). `mod` = 1 keeps the full corpus; `mod` = m
    * keeps the 1/m hash band xxhash64(vec_id) ≡ 0 (mod m) —
    * deterministic, content-independent, and stable under corpus
    * growth (a vector's membership never changes as others arrive).
    */
  private def trainSample(corpus: DataFrame, mod: Int): DataFrame =
    if (mod <= 1) corpus
    else corpus.filter(pmod(xxhash64(col("vec_id")), lit(mod.toLong)) === 0)

  /** Seeded random orthonormal matrix (Gram-Schmidt over seeded
    * gaussians — a Haar-ish rotation, deterministic and replayable).
    * Model-sized: dim×dim doubles, travels as a foldable literal.
    */
  def rotationMatrix(dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    while (rows.length < dim) {
      var v = Array.fill(dim)(rnd.nextGaussian())
      for (u <- rows) {
        val d = v.zip(u).map { case (a, b) => a * b }.sum
        v = v.zip(u).map { case (a, b) => a - d * b }
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      // a near-dependent draw (numerically possible, vanishingly rare)
      // is redrawn rather than normalized into noise
      if (n > 1e-6) rows += v.map(_ / n)
    }
    rows.toSeq.map(_.toSeq)
  }

  /** The OPQ-style pre-subvector ROTATION hook for the PQ family
    * (Ge et al., CVPR 2013; r12 anisotropy adjudication — see
    * [[graft.plans.MatVec]]): rotate the embedding column by a seeded
    * orthonormal matrix BEFORE pqFit/pqEncode/pqSearch slice it into
    * consecutive-dim subvectors. Orthonormality preserves inner
    * products and L2, so ADC scores are unchanged as a metric while a
    * skewed eigenspectrum's variance spreads evenly across subspaces
    * (measured on the sf1 aniso set: PQ recall@5 0.31 unrotated →
    * recovered to the isotropic level rotated; AnisoProbe /
    * BENCHNOTES r12). Compose: `pqKnn(rotate(corpus), rotate(queries),
    * …)` — corpus and queries MUST share the seed. One codegen'd
    * dim×dim multiply per vector per pass; the matrix is a broadcast
    * literal, never per-row data.
    */
  def rotateEmbeddings(df: DataFrame, dim: Int = 64, seed: Long = 7L,
                       embCol: String = "embedding"): DataFrame =
    rotateEmbeddings(df, rotationMatrix(dim, seed), embCol)

  /** Rotate by an EXPLICIT matrix — the deployment form: the rotation
    * is part of the PQ model (codes are only meaningful in the rotated
    * basis), so a rotated deployment persists it alongside the
    * codebooks ([[rotationDf]]/[[rotationFrom]]) and every later
    * encode or query batch rotates with the RELOADED matrix, never a
    * re-derived one.
    */
  def rotateEmbeddings(df: DataFrame, rot: Seq[Seq[Double]],
                       embCol: String): DataFrame =
    df.withColumn(embCol,
      graft.plans.NativeFunctions.matVec(col(embCol).cast("array<double>"), rot))

  /** The rotation as a (row_idx, r) DataFrame — the persistence face
    * (write as parquet next to the codebooks; reload with
    * [[rotationFrom]]). Model-sized: dim×dim doubles.
    */
  def rotationDf(spark: org.apache.spark.sql.SparkSession,
                 rot: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    rot.zipWithIndex.map { case (r, i) => (i, r) }.toDF("row_idx", "r")
  }

  /** Reload a rotation from its persisted (row_idx, r) table — the
    * sanctioned model-sized collect.
    */
  def rotationFrom(df: DataFrame): Seq[Seq[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("row_idx").cast("int"), col("r").cast("array<double>"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1).map(_._2)
  }

  /** Element-wise mean of the `ve` arrays per group: ONE aggregation
    * with map-side partial combine — each executor folds its partition
    * into a single primitive (dim+1)-double state per group
    * (graft.plans.VecMeanAgg) and ships that, keeping the r8
    * one-shuffle-per-Lloyd-round shape while cutting the per-row array
    * allocation the declarative zip_with fold paid (r8 VERDICT: 590 ms
    * driver GC inside q142's timed runs). The state is sized from the
    * first row, so the vector dimension always comes from the data.
    *
    * Centroids are QUANTIZED to 1e-6 (the q165/q175 integer-micro-unit
    * discipline, r15): a float mean's last ulp depends on the
    * ACCUMULATION ORDER of the partial-state merges, which varies with
    * partition layout — measured as a 9/10-vs-10/10 planted-twin flake
    * across plan layouts at sf1 when a boundary vector's cell
    * assignment (and with it the graph walk path) flipped on that ulp.
    * Rounding to the 1e-6 grid collapses ~1e-13 reorder noise to ONE
    * stable value (a flip would need the true mean within ~1e-13 of a
    * grid midpoint), so every fitted model — IVF, hierarchical, PQ,
    * IVF-PQ — is replay-deterministic across layouts; `AnnSpec` pins
    * ivfFit equality across repartitionings. Recall is unaffected:
    * 1e-6 on unit vectors is far below cluster-scale geometry.
    */
  private def centroidMean(assigned: DataFrame, keys: Seq[String]): DataFrame =
    assigned.groupBy(keys.map(col): _*)
      .agg(graft.plans.VecMeanAgg.vecMean(col("ve")).as("ce_raw"))
      .withColumn("ce", expr("transform(ce_raw, x -> round(x, 6))"))
      .drop("ce_raw")

  /** IVF (inverted-file) coarse quantizer: deterministic spherical
    * k-means (init = the `c` lowest vec_ids of the training set,
    * `iters` Lloyd rounds with cosine assignment — cosine is
    * scale-invariant, so centroids need no renormalization). The fitted
    * centroids are a MODEL (c × dim doubles, like MLlib's KMeansModel):
    * collecting them to the driver is the one sanctioned collect in the
    * operator layer. `trainMod` > 1 trains on the [[trainSample]] hash
    * band only — at 100 TB the Lloyd rounds are sample-sized while the
    * assignment (`cluster` column, a persisted bucketed table — the IVF
    * index) still covers every vector, and queries touch only nprobe
    * clusters.
    */
  def ivfFit(corpus: DataFrame, c: Int = 16, iters: Int = 2,
             trainMod: Int = 1): Seq[(Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // each Lloyd round scans the vectors once per assignment — cache the
    // casted working set instead of re-reading+casting per iteration
    val vecs = trainSample(corpus, trainMod)
      .select(col("vec_id"), asDouble("embedding").as("ve"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Seq[(Int, Seq[Double])] = vecs
      .orderBy("vec_id").limit(c).as[(Long, Seq[Double])].collect()
      .toSeq.zipWithIndex.map { case ((_, v), i) => (i, v) }
    for (_ <- 1 to iters) {
      // join-free assignment (r17 opt): one codegen'd argmax per row
      // instead of join(broadcast cents) → ×c rows → groupBy(vec_id)
      // exchange carrying the vector — decision-equivalent by the
      // NearestCentroidId contract, so the fitted model is bit-identical
      val assigned = vecs.select(
        graft.plans.NativeFunctions.nearestCentroid(col("ve"), cents).as("cid"),
        col("ve"))
      cents = centroidMean(assigned, Seq("cid"))
        .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    }
    vecs.unpersist(blocking = true)
    cents
  }

  // ---------------------------------------------------------------------
  // fit / encode / search: the deployment API split (r9). `fit` trains
  // a MODEL (driver-sized centroid/codebook Seqs, with DataFrame
  // persistence faces below); `encode` produces the INDEX table — the
  // persisted, bucketed layout at warehouse scale; `search` touches
  // ONLY model + index + queries, launching ZERO training jobs
  // (AnnIndexSpec counts them). The inline ivfKnn/pqKnn/ivfPqKnn stay
  // as fit∘encode∘search compositions — the self-contained oracle
  // shape — so a deployment fits once, encodes incrementally, and
  // queries forever without re-training.
  // ---------------------------------------------------------------------

  /** The IVF model as a (cid, ce) DataFrame — the persistence face
    * (write it as parquet; reload with [[ivfModelFrom]]).
    */
  def ivfModelDf(spark: org.apache.spark.sql.SparkSession,
                 cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cid", "ce")
  }

  /** Reload an IVF model from its persisted (cid, ce) table. Centroid
    * tables are model-sized (c × dim doubles) — this collect is the
    * sanctioned model load, not a data scan.
    */
  def ivfModelFrom(df: DataFrame): Seq[(Int, Seq[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("cid").cast("int"), col("ce").cast("array<double>"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
  }

  /** The IVF index table: one row per vector with its (kept) embedding
    * and its nearest-centroid cluster id — the persisted layout
    * (bucketed by `cluster` at warehouse scale) that [[ivfSearch]]
    * probes. Encoding is a single broadcast-join pass over the corpus:
    * incremental batches append without touching history.
    */
  def ivfEncode(corpus: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    // map-only encode (r17 opt): the join+groupBy assignment paid a
    // corpus-sized exchange carrying every vector per encode pass; the
    // inline argmax is decision-equivalent (NearestCentroidId contract)
    // and leaves encode with ZERO exchanges
    corpus.select(col("vec_id"), asDouble("embedding").as("ve"))
      .withColumn("cluster",
        graft.plans.NativeFunctions.nearestCentroid(col("ve"), cents))

  /** IVF query path — model + index + queries only, no training: rank
    * each query's `nprobe` closest centroids against the broadcast
    * model, then equi-join the probe set against the index on
    * `cluster`. At 100 TB this reads nprobe/c of the index and nothing
    * else; the raw corpus is never re-assigned.
    *
    * `excludeSelf` drops candidates whose vec_id EQUALS the query's —
    * correct when queries are drawn from the indexed corpus (the inline
    * Knn faces, where the self-match would waste a rank slot), WRONG
    * when query and index id spaces are independent (an unrelated index
    * vector sharing a query's id would be silently lost — possibly its
    * true top-1). Deployments with separate id spaces pass false.
    * Applies to [[pqSearch]]/[[ivfPqSearch]] identically.
    */
  def ivfSearch(cents: Seq[(Int, Seq[Double])], index: DataFrame,
                queries: DataFrame, k: Int, nprobe: Int = 4,
                excludeSelf: Boolean = true): DataFrame =
    probeIndex(index, queryProbes(cents, queries, nprobe), k, excludeSelf)

  /** The IVF routing step shared by [[ivfSearch]] and
    * [[contrastivePairsFromIndex]]: rank each query's `nprobe` closest
    * centroids against the broadcast model → (qid, qe, cluster).
    */
  private def queryProbes(cents: Seq[(Int, Seq[Double])], queries: DataFrame,
                          nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.toDF("cid", "ce"))
    queries.select(col("vec_id").as("qid"), asDouble("embedding").as("qe"))
      .join(centDf)
      .withColumn("csim", cosine("qe", "ce"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("cid").as("cluster"))
  }

  /** INDEX-BACKED contrastive mining (r13 VERDICT item 3): the
    * deployment face of [[contrastivePairs]] — anchors probe the
    * PERSISTED IVF index (model + index only, zero training jobs, the
    * ivfSearch/q180 posture) instead of broadcasting against a full
    * corpus scan, so anchor sets scale past broadcast and each anchor
    * reads ~nprobe/c of the index. Same output contract as the brute
    * face: positives = every probed candidate at sim ≥ `posThreshold`,
    * hard negatives = the k most similar probed candidates below it,
    * rn ranked within (qid, role) by (sim desc, cid). Approximation is
    * confined to CANDIDATE GENERATION exactly as in [[ivfSearch]]: a
    * near-dup positive lands in the anchor's own top cluster by
    * construction, and with nprobe = c the output equals the brute face
    * row-for-row (AnnIndexSpec pins both laws).
    */
  def contrastivePairsFromIndex(cents: Seq[(Int, Seq[Double])], index: DataFrame,
                                queries: DataFrame, k: Int,
                                posThreshold: Double = 0.9, nprobe: Int = 4,
                                excludeSelf: Boolean = true): DataFrame = {
    val cand = index.select(col("vec_id").as("cvid"), col("ve").as("cve"),
      col("cluster"))
    val w = Window.partitionBy(col("qid"), col("role"))
      .orderBy(col("sim").desc, col("cvid"))
    cand.join(broadcast(queryProbes(cents, queries, nprobe)), Seq("cluster"))
      .filter(if (excludeSelf) col("qid") =!= col("cvid") else lit(true))
      .withColumn("sim", round(cosine("qe", "cve"), 4))
      .withColumn("role",
        when(col("sim") >= posThreshold, lit("pos")).otherwise(lit("neg")))
      .withColumn("rn", row_number().over(w))
      .filter(col("role") === "pos" || col("rn") <= k)
      .select(col("qid"), col("cvid").as("cid"), col("sim"), col("role"),
        col("rn"))
  }

  /** Shared query tail of the IVF family: candidates = probe-set
    * equi-join against the index on `cluster`, exact-cosine rank,
    * top-k. `qprobes`: (qid, qe, cluster), broadcast here (bounded
    * query batch × nprobe rows).
    */
  private def probeIndex(index: DataFrame, qprobes: DataFrame, k: Int,
                         excludeSelf: Boolean): DataFrame = {
    val cand = index.select(col("vec_id").as("cvid"), col("ve").as("cve"), col("cluster"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cvid"))
    cand.join(broadcast(qprobes), Seq("cluster"))
      .filter(if (excludeSelf) col("qid") =!= col("cvid") else lit(true))
      .withColumn("sim", round(cosine("qe", "cve"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cvid").as("cid"), col("sim"), col("rn"))
  }

  // ---------------------------------------------------------------------
  // Two-level (hierarchical) coarse quantizer. At 100 TB the IVF family
  // wants c ≈ √n ≈ 10⁴–10⁵ cells (FAISS's rule of thumb; the SemDeDup
  // paper clusters at ~10⁴), and the flat assignment join materializes
  // n·c candidate rows with a c×dim broadcast model — both dead at
  // c = 65k. Routing through cSuper super-cells and then ONLY that
  // super-cell's cChild children costs n·(cSuper + cChild) candidate
  // rows — n·2√c at the balanced split — and each broadcast level
  // stays model-sized (√c×dim). Leaf cluster ids are global
  // (parent·cChild + childIdx), so the encode output is schema- and
  // semantics-compatible with everything downstream of [[ivfEncode]]:
  // [[probeIndex]] search, SemDedup.dupPairsFromIndex, persisted
  // bucketed index tables.
  // ---------------------------------------------------------------------

  /** Fit the two-level model: a cSuper-cell level-1 quantizer (via
    * [[ivfFit]]), then per-super-cell children trained in SHARED Lloyd
    * jobs — one (parent, cid)-keyed assignment join per round over the
    * parent-tagged training band (the pqFit multi-subspace pattern;
    * never a per-parent driver loop of √c separate jobs). Returns
    * (superCents (scid, ce), children (parent, cid, ce)); both halves
    * are model-sized driver collects. Empty children (no training
    * vector assigned) drop out — leaf ids are sparse in
    * [0, cSuper·cChild).
    */
  def ivfFitHier(corpus: DataFrame, cSuper: Int = 16, cChild: Int = 16,
                 iters: Int = 2, trainMod: Int = 1)
      : (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val superCents = ivfFit(corpus, cSuper, iters, trainMod)
    // parent-tag the training band once (join-free inline argmax —
    // r17 opt, see ivfEncode); child Lloyd rounds iterate on this
    // working set, never re-routing through level 1
    val assigned = trainSample(corpus, trainMod)
      .select(col("vec_id"), asDouble("embedding").as("ve"))
      .withColumn("parent",
        graft.plans.NativeFunctions.nearestCentroid(col("ve"), superCents))
      .select(col("vec_id"), col("ve"), col("parent"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic init: the cChild lowest vec_ids within each parent
    var children: Seq[(Int, Int, Seq[Double])] = assigned
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("parent")).orderBy(col("vec_id"))))
      .filter(col("rn") <= cChild)
      .select(col("parent"), (col("rn") - 1).cast("int").as("cid"), col("ve"))
      .as[(Int, Int, Seq[Double])].collect().toSeq
    for (_ <- 1 to iters) {
      // children of OWN parent only: the grouped kernel selects the
      // parent's codebook per row (join-free — r17 opt, see pqFit)
      val a2 = assigned.select(col("parent"),
        graft.plans.NativeFunctions.nearestCentroidBy(
          col("parent"), col("ve"), children, useCos = true).as("cid"),
        col("ve"))
      children = centroidMean(a2, Seq("parent", "cid"))
        .as[(Int, Int, Seq[Double])].collect().toSeq
    }
    assigned.unpersist(blocking = true)
    // empty-cell backfill: classic k-means can leave a FINAL super
    // centroid that wins zero TRAINING-band vectors (amplified by
    // trainMod subsampling), so no children trained under that parent
    // — but a full-corpus vector can still argmax to it at encode
    // time, and ivfEncodeHier's parent equi-join would silently DROP
    // it (and ivfSearchHier silently skip the probe). Give every
    // childless parent its own centroid as a single child: the join
    // is total by construction, recall unaffected (the leaf IS the
    // cell).
    val covered = children.map(_._1).toSet
    val backfill = superCents.collect {
      case (scid, sce) if !covered.contains(scid) => (scid, 0, sce)
    }
    (superCents, (children ++ backfill).sortBy(c => (c._1, c._2)))
  }

  /** The two-level index table: (vec_id, ve, cluster) with global leaf
    * ids — [[ivfEncode]]'s schema, built in two broadcast stages of
    * n·cSuper + n·cChild candidate rows instead of flat n·c.
    */
  def ivfEncodeHier(corpus: DataFrame, superCents: Seq[(Int, Seq[Double])],
                    children: Seq[(Int, Int, Seq[Double])],
                    cChild: Int = 16): DataFrame =
    // both routing levels inline (r17 opt — see ivfEncode): the two
    // broadcast-join + groupBy(vec_id) stages each paid a corpus-sized
    // vector-carrying exchange; two-level encode is now map-only with
    // ZERO exchanges. Decision-equivalent per level (the child kernel
    // sees only the winning parent's codebook, exactly the old
    // equi-join's candidate set; backfill keeps every parent covered).
    corpus.select(col("vec_id"), asDouble("embedding").as("ve"))
      .withColumn("parent",
        graft.plans.NativeFunctions.nearestCentroid(col("ve"), superCents))
      .withColumn("ccid", graft.plans.NativeFunctions.nearestCentroidBy(
        col("parent"), col("ve"), children, useCos = true))
      .select(col("vec_id"), col("ve"),
        (col("parent") * cChild + col("ccid")).cast("int").as("cluster"))

  /** Two-level query routing: rank super-cells (keep `nprobeSuper`),
    * rank children WITHIN each probed super (keep `nprobePerSuper`
    * leaves each), then the shared [[probeIndex]] cluster equi-join.
    * Per query: cSuper + nprobeSuper·cChild centroid comparisons —
    * 2√c-ish, vs flat c. Per-super child ranking (not one global leaf
    * ranking) keeps probing balanced AND makes a structural guarantee
    * the oracle leans on: a vector identical to an indexed one routes
    * to the same rank-1 super and rank-1 child, so its twin's leaf is
    * ALWAYS in the probe set.
    */
  def ivfSearchHier(superCents: Seq[(Int, Seq[Double])],
                    children: Seq[(Int, Int, Seq[Double])], index: DataFrame,
                    queries: DataFrame, k: Int, cChild: Int = 16,
                    nprobeSuper: Int = 2, nprobePerSuper: Int = 2,
                    excludeSelf: Boolean = true): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val supDf = broadcast(superCents.toDF("scid", "sce"))
    val chDf = broadcast(children.toDF("parent", "ccid", "ce"))
    val qprobes =
      queries.select(col("vec_id").as("qid"), asDouble("embedding").as("qe"))
        .join(supDf)
        .withColumn("ssim", cosine("qe", "sce"))
        // .desc id tie-breaks MATCH the encode argmax (max(struct) prefers
        // the higher id on an exact sim tie) — the twin guarantee above
        // holds even on degenerate float ties
        .withColumn("srn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("ssim").desc, col("scid").desc)))
        .filter(col("srn") <= nprobeSuper)
        .select(col("qid"), col("qe"), col("scid").as("parent"))
        .join(chDf, Seq("parent"))
        .withColumn("csim", cosine("qe", "ce"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"), col("parent"))
            .orderBy(col("csim").desc, col("ccid").desc)))
        .filter(col("rn") <= nprobePerSuper)
        .select(col("qid"), col("qe"),
          (col("parent") * cChild + col("ccid")).cast("int").as("cluster"))
    probeIndex(index, qprobes, k, excludeSelf)
  }

  /** Hierarchical-IVF top-k — fit∘encode∘search composition (the
    * self-contained oracle shape; deployments persist the middle).
    */
  def ivfKnnHier(corpus: DataFrame, queries: DataFrame, k: Int,
                 cSuper: Int = 8, cChild: Int = 8, nprobeSuper: Int = 2,
                 nprobePerSuper: Int = 2, iters: Int = 2,
                 trainMod: Int = 1): DataFrame = {
    val (sup, ch) = ivfFitHier(corpus, cSuper, cChild, iters, trainMod)
    ivfSearchHier(sup, ch, ivfEncodeHier(corpus, sup, ch, cChild), queries,
      k, cChild, nprobeSuper, nprobePerSuper)
  }

  /** IVF-bucketed approximate top-k: corpus vectors are assigned to
    * their nearest centroid once (the persisted index at scale); each
    * query scans only its `nprobe` closest clusters. Complements lshKnn
    * — IVF adapts to the data distribution where LSH is data-oblivious.
    * Composition of [[ivfFit]] → [[ivfEncode]] → [[ivfSearch]] (the
    * self-contained oracle shape; deployments persist the middle).
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             c: Int = 16, nprobe: Int = 4, iters: Int = 2,
             trainMod: Int = 1): DataFrame = {
    val cents = ivfFit(corpus, c, iters, trainMod)
    ivfSearch(cents, ivfEncode(corpus, cents), queries, k, nprobe)
  }

  /** The bucketed LSH corpus index: one row per vector with its
    * hyperplane bucket id — the persisted layout (bucketed by `bucket`
    * at warehouse scale) that [[lshKnn]] probes and
    * [[lshDupsAgainst]] ingests into incrementally.
    */
  def lshIndex(corpus: DataFrame, nBits: Int = 4): DataFrame =
    corpus.select(col("vec_id"), asDouble("embedding").as("emb"))
      .withColumn("bucket", Sketches.affineHyperplaneBucket("emb", nBits, 64))

  /** Incremental ANN ingestion (the continuous-ingestion shape, like
    * Dedup.minhashCandidatesAgainst): a NEW batch of vectors probes the
    * EXISTING bucketed index — own bucket + 1-bit flips — and each
    * candidate is exact-cosine verified. Only the batch is hashed; the
    * index side is a plain scan of its persisted layout (co-located on
    * `bucket` in a warehouse). No recompute of historical vectors.
    */
  def lshDupsAgainst(newVecs: DataFrame, index: DataFrame, threshold: Double,
                     nBits: Int = 4): DataFrame = {
    val probes = expr(
      s"array_union(array(bucket), transform(sequence(0, ${nBits - 1}), i -> bucket ^ shiftleft(1L, i)))")
    val n = lshIndex(newVecs, nBits)
      .select(col("vec_id").as("new_id"), col("emb").as("ne"), explode(probes).as("bucket"))
    // verify + threshold BEFORE the pair dedup (the cosineDupPairs
    // ordering, measured there): sim is functionally determined by the
    // pair, so the filter commutes with dropDuplicates — ordered the
    // other way the dedup exchange dragged BOTH embedding arrays
    // (~1 KB/row) for every multi-probe candidate instead of 24-byte
    // survivor rows
    n.join(index.select(col("vec_id").as("old_id"), col("emb").as("oe"), col("bucket")), Seq("bucket"))
      .filter(col("new_id") =!= col("old_id"))
      .withColumn("sim", round(cosine("ne", "oe"), 4))
      .filter(col("sim") >= threshold)
      .select(col("new_id"), col("old_id"), col("sim"))
      .dropDuplicates("new_id", "old_id")
  }

  /** Embedding near-duplicate pairs with cosine ≥ threshold, found by
    * LSH candidate generation + exact-cosine verification — never an
    * all-pairs join. Candidates are pairs colliding under the same
    * hyperplane bucketing lshKnn uses, with 1-bit multi-probe on one
    * side (a pair whose sign vectors differ by ≤ 1 bit still collides);
    * each candidate is then verified with the exact fused cosine
    * kernel. Work is bounded by bucket occupancy — the equi-join shape
    * that survives a 100× corpus, where `a.join(b, va < vb)` (a
    * BroadcastNestedLoopJoin over corpus×corpus) is O(n²) dead.
    * Fewer `nBits` → bigger buckets → higher recall and more work.
    *
    * DEPLOYMENT CONTRACT (r16, caught by the sf1→sf10 decade gate):
    * candidate volume is n²/2^nBits per probe orientation — QUADRATIC
    * in n at a FIXED nBits (measured 59× shuffle bytes for 10× data at
    * nBits = 4). At scale, hold bucket occupancy constant:
    * nBits ≈ log₂(n) − 8 keeps candidates linear; recall at the fixed
    * 1-bit multi-probe drops with nBits (Q71Probe: 0.57 at +2 bits,
    * 0.29 at +4), so the HIGH-RECALL scale path for cosine near-dup
    * detection is [[graft.operators.Dedup.minhashCandidates]]'s banded
    * tables (recall composes across independent bands) or
    * [[graft.operators.SemDedup.dupPairs]]'s k-means cells — this face
    * is the exact-verification primitive for bounded-occupancy inputs.
    */
  def cosineDupPairs(embs: DataFrame, threshold: Double, nBits: Int = 4): DataFrame = {
    val dim = 64
    val base = embs.select(col("vec_id"), asDouble("embedding").as("emb"))
      .withColumn("bucket", Sketches.affineHyperplaneBucket("emb", nBits, dim))
    // probe side: own bucket + every 1-bit flip; the other side stays in
    // its home bucket — flips are symmetric, so each ≤1-bit pair is
    // found in at least one orientation and `va < vb` keeps exactly one
    val probes = expr(
      s"array_union(array(bucket), transform(sequence(0, ${nBits - 1}), i -> bucket ^ shiftleft(1L, i)))")
    val a = base.select(col("vec_id").as("va"), col("emb").as("ea"), explode(probes).as("bucket"))
    val b = base.select(col("vec_id").as("vb"), col("emb").as("eb"), col("bucket"))
    // sim is computed BEFORE the pair dedup so the dedup exchange moves
    // 24-byte (va, vb, sim) rows, not ~1 KB rows dragging both embedding
    // arrays; sim is deterministic per pair, so dedup-after is identical.
    // (With one exploded side and array_union'd probes each ≤1-bit pair
    // matches in exactly one bucket — the dedup is a cheap invariant
    // guard, not a hot path.)
    // threshold BEFORE the dedup exchange: sim is functionally
    // determined by (va, vb), so the filter commutes with
    // dropDuplicates — but Catalyst cannot push a non-key filter
    // through the aggregate itself, and the order decides whether the
    // dedup exchange carries every CANDIDATE pair or only survivors
    // (measured at the sf1 decade, threshold 0.4: 851 → 11.4 MB
    // shuffled, identical 62 675-pair output — Q71Probe/BENCHNOTES r12)
    a.join(b, Seq("bucket")).filter(col("va") < col("vb"))
      .withColumn("sim", round(cosine("ea", "eb"), 4))
      .filter(col("sim") >= threshold)
      .select(col("va"), col("vb"), col("sim"))
      .dropDuplicates("va", "vb")
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ): the compressed-index ANN path. Each
  // vector is split into `m` contiguous subvectors; each subspace gets
  // its own ksub-centroid codebook (k-means, L2); a vector is stored as
  // m small integer codes (m·log2(ksub) bits — 64-dim float32 → 4 bytes
  // at m=4/ksub=16, a 64× shrink). Search is asymmetric distance (ADC):
  // per query, distances to every codebook centroid form an m×ksub
  // lookup table (model-sized, broadcast); candidate distance is an
  // equi-join of the code index against the table plus a (qid, vec)
  // aggregation — the original vectors are never read at query time.
  // ---------------------------------------------------------------------

  /** Squared L2 over two double-array columns (PQ's metric): native
    * codegen'd kernel (graft.plans.L2Sq) — evaluated once per
    * (vector, sub, code) candidate in codebook training/encoding, the
    * same per-pair hot path that motivated the cosine kernel. The
    * per-candidate eval count (n·m·ksub per corpus pass) grows with
    * the corpus; the HOF form pays an interpreted closure call per
    * eval there.
    */
  def l2sq(a: String, b: String): org.apache.spark.sql.Column =
    graft.plans.NativeFunctions.l2Sq(col(a), col(b))

  /** HOF formulation of the same kernel — the parity oracle for the
    * native expression (SketchParitySpec asserts equality).
    */
  def l2sqHof(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (s, v) -> s + v)")

  /** (vec_id, sub, sv): the m contiguous subvectors of each embedding. */
  private def subvecs(df: DataFrame, m: Int, dim: Int): DataFrame = {
    val sublen = dim / m
    df.select(col("vec_id"), asDouble("embedding").as("ve"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), s -> struct(s AS sub, slice(ve, s * $sublen + 1, $sublen) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
  }

  /** PQ codebooks: per-subspace k-means (deterministic init = the first
    * ksub vectors by vec_id of the training set). All m subspaces train
    * in the same Lloyd jobs; the model (m·ksub·dim/m doubles) collects
    * to the driver like [[ivfFit]] — sanctioned, it IS the
    * broadcastable model. `trainMod` > 1 trains on the [[trainSample]]
    * hash band (encoding still sees every vector — see [[pqEncode]]).
    * Returns (sub, cid, ce).
    */
  def pqFit(corpus: DataFrame, m: Int = 4, ksub: Int = 16, iters: Int = 2,
            dim: Int = 64, trainMod: Int = 1): Seq[(Int, Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val train = trainSample(corpus, trainMod)
    val sv = subvecs(train, m, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val initIds = train.select(col("vec_id")).orderBy("vec_id").limit(ksub)
      .as[Long].collect()
    var cents: Seq[(Int, Int, Seq[Double])] = sv
      .filter(col("vec_id").isin(initIds.toIndexedSeq: _*))
      .as[(Long, Int, Seq[Double])].collect().toSeq
      .groupBy(_._2).toSeq.flatMap { case (sub, rows) =>
        rows.sortBy(_._1).zipWithIndex.map { case ((_, _, v), i) => (sub, i, v) }
      }
    for (_ <- 1 to iters) {
      // join-free per-subspace assignment (r17 opt — see ivfFit): one
      // grouped argmin kernel call per (vec, sub) row instead of the
      // ×ksub join + (vec_id, sub)-keyed exchange carrying subvectors
      val assigned = sv.select(col("sub"),
        graft.plans.NativeFunctions.nearestCentroidBy(
          col("sub"), col("sv"), cents, useCos = false).as("cid"),
        col("sv").as("ve"))
      cents = centroidMean(assigned, Seq("sub", "cid"))
        .as[(Int, Int, Seq[Double])].collect().toSeq
    }
    sv.unpersist(blocking = true)
    cents.sortBy(c => (c._1, c._2))
  }

  /** The compressed index: one row per (vec_id, sub) with its code —
    * the persisted layout at scale (m small ints per vector), emitted
    * CO-LOCATED BY vec_id. The layout is the ADC query path's whole
    * cost model (r14, found by the natural-density shuffle control):
    * the encode aggregation's own exchange hashes on (vec_id, sub), so
    * without the re-key a vector's m code rows scatter across every
    * partition and [[pqSearch]]'s partial aggregation over the
    * corpus·m·nq ADC join rows cannot combine — measured 764k shuffled
    * rows at sf1. With the m rows of each vector on one partition the
    * per-(qid, vec) sums finish map-side and the rank-limit pushdown
    * (WindowGroupLimit) caps the search shuffle at ~partitions·nq·k
    * rows — measured 1.6k rows at BOTH sf0.1 and sf1: the query path
    * is scale-independent, paid for by one thin (20-byte-row) exchange
    * at index-BUILD time. At warehouse scale: bucket the persisted
    * table BY vec_id.
    */
  def pqEncode(corpus: DataFrame, cents: Seq[(Int, Int, Seq[Double])],
               m: Int = 4, dim: Int = 64): DataFrame =
    // inline per-subspace argmin (r17 opt): encode's only exchange is
    // now the vec_id co-location repartition the layout REQUIRES (the
    // ADC combine contract above) — the ×ksub join and the
    // (vec_id, sub)-keyed reduce exchange drop out
    subvecs(corpus, m, dim)
      .select(col("vec_id"), col("sub"),
        graft.plans.NativeFunctions.nearestCentroidBy(
          col("sub"), col("sv"), cents, useCos = false).as("code"))
      .repartition(col("vec_id"))

  /** The PQ model as a (sub, cid, ce) DataFrame — the persistence face
    * (write it as parquet; reload with [[pqModelFrom]]).
    */
  def pqModelDf(spark: org.apache.spark.sql.SparkSession,
                cents: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("sub", "cid", "ce")
  }

  /** Reload a PQ model from its persisted (sub, cid, ce) table —
    * model-sized (m·ksub·dim/m doubles), the sanctioned collect.
    */
  def pqModelFrom(df: DataFrame): Seq[(Int, Int, Seq[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("sub").cast("int"), col("cid").cast("int"),
        col("ce").cast("array<double>"))
      .as[(Int, Int, Seq[Double])].collect().toSeq.sortBy(c => (c._1, c._2))
  }

  /** PQ query path — model + code index + queries only, no training:
    * per-query m×ksub ADC lookup tables (broadcast), equi-joined
    * against the code index on (sub, code), summed per (qid, vec).
    * Approximate distance = Σ_sub d²(q_sub, centroid(code)); the raw
    * corpus vectors are never scanned at query time.
    */
  def pqSearch(cents: Seq[(Int, Int, Seq[Double])], index: DataFrame,
               queries: DataFrame, k: Int, m: Int = 4,
               dim: Int = 64, excludeSelf: Boolean = true): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.toDF("sub", "code", "ce"))
    val qtab = broadcast(
      subvecs(queries, m, dim)
        .withColumnRenamed("vec_id", "qid").withColumnRenamed("sv", "qsv")
        .join(centDf, Seq("sub"))
        .withColumn("d2", l2sq("qsv", "ce"))
        .select(col("qid"), col("sub"), col("code"), col("d2")))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("cid"))
    index.join(qtab, Seq("sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("d2")), 4).as("adist"))
      .filter(if (excludeSelf) col("qid") =!= col("vec_id") else lit(true))
      .withColumnRenamed("vec_id", "cid")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("adist"), col("rn"))
  }

  /** ADC top-k — composition of [[pqFit]] → [[pqEncode]] →
    * [[pqSearch]] (the self-contained oracle shape; deployments
    * persist the codebooks and the code table).
    */
  def pqKnn(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
            ksub: Int = 16, iters: Int = 2, dim: Int = 64,
            trainMod: Int = 1): DataFrame = {
    val cents = pqFit(corpus, m, ksub, iters, dim, trainMod)
    pqSearch(cents, pqEncode(corpus, cents, m, dim), queries, k, m, dim)
  }

  /** IVF-PQ: the composed billion-scale index layout (FAISS's default
    * posture). The IVF coarse quantizer routes each vector to a cell;
    * PQ codebooks are trained on the RESIDUAL (vector − cell centroid),
    * which is far more compressible than the raw vector; queries probe
    * `nprobe` cells and score candidates by ADC over the residual
    * codes. Storage per vector: cell id + m codes. Query cost:
    * nprobe/c of the index via the (cluster, sub, code) equi-join —
    * raw vectors never read at query time.
    */
  /** Coarse assignment with residuals: (id, ve, cluster, resid) per
    * vector. argmax carries only (sim, cl) through the aggregation —
    * the winning centroid's array is re-fetched from the broadcast
    * model AFTER the reduce, so per-candidate rows never drag c×dim
    * doubles.
    */
  private def ivfPqAssign(df: DataFrame, coarse: Seq[(Int, Seq[Double])],
                          idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val coarseDf = broadcast(coarse.toDF("cl", "cce"))
    // inline argmax assignment (r17 opt — see ivfEncode): map-only, no
    // ×c row blowup, no id-keyed exchange; the broadcast join-back on
    // the winning cell fetches its centroid for the residual (map-side)
    df.select(col("vec_id").as(idCol), asDouble("embedding").as("ve"))
      .withColumn("cluster",
        graft.plans.NativeFunctions.nearestCentroid(col("ve"), coarse))
      .join(coarseDf, col("cluster") === col("cl"))
      .select(col(idCol), col("ve"), col("cluster"),
        expr("zip_with(ve, cce, (a, b) -> a - b)").as("resid"))
  }

  /** IVF-PQ fit: coarse centroids + residual PQ codebooks — the two
    * model halves a deployment persists ([[ivfModelDf]]/[[pqModelDf]]).
    */
  def ivfPqFit(corpus: DataFrame, c: Int = 8, m: Int = 16, ksub: Int = 16,
               dim: Int = 64, trainMod: Int = 1)
      : (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])]) = {
    val coarse = ivfFit(corpus, c, iters = 2, trainMod)
    val assigned = ivfPqAssign(corpus, coarse, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pqCents = pqFit(
      assigned.select(col("vec_id"), col("resid").as("embedding")),
      m, ksub, iters = 2, dim, trainMod)
    assigned.unpersist(blocking = true)
    (coarse, pqCents)
  }

  /** The IVF-PQ index table: (vec_id, cluster, sub, code) per vector —
    * the persisted layout at scale (cell id + m codes; bucketed by
    * (cluster, sub, code) it co-locates with the ADC join). Encoding
    * is assignment + residual PQ codes in one pass; incremental
    * batches append without touching history.
    */
  def ivfPqEncode(corpus: DataFrame, coarse: Seq[(Int, Seq[Double])],
                  pqCents: Seq[(Int, Int, Seq[Double])], m: Int = 16,
                  dim: Int = 64): DataFrame = {
    // materialize the assignment once: it feeds BOTH join branches
    // below. Catalyst's ReusedExchange CAN dedupe the identical
    // assignment subtree, but that is an optimizer decision (fragile
    // under AQE re-planning); the eager persist makes single-execution
    // structural. persist (catalog-managed cache), NOT localCheckpoint:
    // checkpoint blocks are only freed when the ContextCleaner GCs the
    // RDD, invisible to the clearCache-between-queries hygiene Bench/
    // Verify pin (§2.7) — over a 177-query session they linger
    // nondeterministically. A cache eviction before consumption merely
    // recomputes from lineage. At warehouse scale a deployment writes
    // the encode output to its index table anyway — one materialization
    // either way.
    val assigned = ivfPqAssign(corpus, coarse, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count() // eager: both consumers below must read the cache
    pqEncode(assigned.select(col("vec_id"), col("resid").as("embedding")),
        pqCents, m, dim)
      .join(assigned.select(col("vec_id"), col("cluster")), Seq("vec_id"))
  }

  /** IVF-PQ query path — models + index + queries only, no training:
    * each query probes its `nprobe` best cells with the residual vs
    * THAT cell; candidates are scored by ADC over the (cluster, sub,
    * code) equi-join. Raw vectors never read at query time.
    */
  def ivfPqSearch(coarse: Seq[(Int, Seq[Double])],
                  pqCents: Seq[(Int, Int, Seq[Double])], index: DataFrame,
                  queries: DataFrame, k: Int, nprobe: Int = 4,
                  m: Int = 16, dim: Int = 64,
                  excludeSelf: Boolean = true): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val coarseDf = broadcast(coarse.toDF("cl", "cce"))
    val qranked = broadcast(
      queries.select(col("vec_id").as("qid"), asDouble("embedding").as("qe"))
        .join(coarseDf)
        .withColumn("csim", graft.plans.NativeFunctions.cosineSim(col("qe"), col("cce")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cl"))))
        .filter(col("rn") <= nprobe)
        .select(col("qid"), col("cl").as("cluster"),
          expr("zip_with(qe, cce, (a, b) -> a - b)").as("qresid")))
    val centDf = broadcast(pqCents.toDF("sub", "code", "ce"))
    val sublen = dim / m
    val qtab = broadcast(
      qranked.select(col("qid"), col("cluster"), explode(expr(
          s"transform(sequence(0, ${m - 1}), s -> struct(s AS sub, slice(qresid, s * $sublen + 1, $sublen) AS qsv))")).as("e"))
        .select(col("qid"), col("cluster"), col("e.sub").as("sub"), col("e.qsv").as("qsv"))
        .join(centDf, Seq("sub"))
        .withColumn("d2", l2sq("qsv", "ce"))
        .select(col("qid"), col("cluster"), col("sub"), col("code"), col("d2")))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("cid"))
    index.join(qtab, Seq("cluster", "sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("d2")), 4).as("adist"))
      .filter(if (excludeSelf) col("qid") =!= col("vec_id") else lit(true))
      .withColumnRenamed("vec_id", "cid")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("adist"), col("rn"))
  }

  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int, c: Int = 8,
               nprobe: Int = 4, m: Int = 16, ksub: Int = 16, dim: Int = 64,
               trainMod: Int = 1): DataFrame = {
    val coarse = ivfFit(corpus, c, iters = 2, trainMod)
    // fused fit+encode: assignment is computed ONCE (persisted) and
    // shared between residual codebook training and encoding — the
    // self-contained oracle shape. Deployments run ivfPqFit /
    // ivfPqEncode / ivfPqSearch as separate persisted steps so the
    // query path never trains or re-encodes.
    val corpusAssigned = ivfPqAssign(corpus, coarse, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val residDf = corpusAssigned.select(col("vec_id"), col("resid").as("embedding"))
    val cents = pqFit(residDf, m, ksub, iters = 2, dim, trainMod)
    // code index: (cluster, sub, code) per vector — the persisted layout
    val index = pqEncode(residDf, cents, m, dim)
      .join(corpusAssigned.select(col("vec_id"), col("cluster")), Seq("vec_id"))
    val out = ivfPqSearch(coarse, cents, index, queries, k, nprobe, m, dim)
    // materialize the (tiny, k-per-query) result eagerly so the working
    // set's persist can be released before returning — no stranded
    // blocks in a long-lived session (r3 VERDICT hygiene contract)
    val materialized = out.localCheckpoint()
    corpusAssigned.unpersist(blocking = true)
    materialized
  }

  /** CONTRASTIVE training-pair mining — the dataset-construction step
    * of retriever/embedding training (DPR/SimCSE-style): for each
    * anchor, its POSITIVES are every candidate at sim ≥ `posThreshold`
    * (the near-dup band — aligned/duplicate texts), and its HARD
    * NEGATIVES the k MOST similar candidates BELOW the threshold (the
    * published hard-negative recipe: random negatives are too easy to
    * teach a margin; the near-miss band is where the gradient is).
    * Returns (qid, cid, sim, role 'pos'/'neg', rn) with rn ranked
    * within role by (sim desc, cid) — fully deterministic on the
    * rounded-once sim. Anchors broadcast; the corpus streams through
    * one scan (the [[bruteKnn]] posture — the bounded-anchor
    * correctness baseline; at scale mine candidates with the LSH/IVF
    * family first and verify exactly, the q71 discipline).
    */
  def contrastivePairs(corpus: DataFrame, queries: DataFrame, k: Int,
                       posThreshold: Double = 0.9): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      asDouble("embedding").as("qe")))
    val c = corpus.select(col("vec_id").as("cid"), asDouble("embedding").as("ce"))
    val w = Window.partitionBy(col("qid"), col("role"))
      .orderBy(col("sim").desc, col("cid"))
    c.join(q, col("qid") =!= col("cid"))
      .withColumn("sim", round(cosine("qe", "ce"), 4))
      .withColumn("role",
        when(col("sim") >= posThreshold, lit("pos")).otherwise(lit("neg")))
      .withColumn("rn", row_number().over(w))
      .filter(col("role") === "pos" || col("rn") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("role"), col("rn"))
  }

  // ---------------------------------------------------------------------
  // Partitioned-NSW graph ANN (the HNSW-class family). True HNSW
  // construction is inherently sequential (insert one point, search,
  // link); the Spark-native equivalent partitions the corpus into cells
  // — IVF cells (c = ⌈√n⌉) or sign-LSH buckets (nBits = ⌈log₂√n⌉), so a
  // cell holds ~√n members — and composes three published pieces:
  //   1. cell-LOCAL ring init — nodes ring-connect within their cell in
  //      md5-hash order (every node gets degree ≥ min(kNbr, cell size −
  //      1));
  //   2. NN-Descent refinement (Dong et al., WWW 2011): each round
  //      proposes neighbours-of-neighbours over the SYMMETRIZED top-half
  //      sample of the lists and keeps the top-kNbr per node;
  //   3. fixed-hop BEAM search from per-cluster entry points (the
  //      min-hash node of every cell, so disconnected cells are all
  //      reachable at hop 0 and no cross-cluster navigability is
  //      assumed): each hop joins the beam against the neighbor table
  //      (bucketed by u at warehouse scale) and fetches candidate
  //      vectors through the vec_id-co-located index — nq·beam·kNbr
  //      rows per hop, independent of corpus size.
  // Steps 1–2 run in ONE task per cell ([[nswBuild]] → the native
  // [[graft.plans.NswCellGraph]] kernel): build edges never leave a cell,
  // so the build ships each cell's vectors once and needs no further
  // exchange (REPOSE's partition-local index shape).
  // Query cost: hops × (beam expansion + co-located fetch + WindowGroup-
  // Limit top-beam) — the graph-ANN promise (query cost ~ graph degree,
  // not corpus) in Spark's execution model.
  // ---------------------------------------------------------------------

  /** 60-bit deterministic hash rank of a vec_id (the ring/entry order). */
  private def hrank(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("nsw|"), c.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** Partition count for the graph-ANN build and walk exchanges, sized
    * from the index row count (guide §2.2: from the data, never a
    * constant tuned for one deployment): ceil(n / rowsPerPartition),
    * clamped to [1, spark.sql.shuffle.partitions]. rowsPerPartition is
    * `spark.graft.ann.rowsPerPartition` (default 4096 ≈ 2 MB of 64-d
    * vectors). At small n this avoids dozens of near-empty tasks per
    * stage; at large n the conf value is the ceiling, so cluster
    * deployments keep their tuned width. Callers that do not know n
    * pass -1 and keep the conf value. Partition count never changes
    * results (AnnSpec pins layout-independence).
    */
  private def annParallelism(spark: org.apache.spark.sql.SparkSession,
                             n: Long): Int = {
    val conf = spark.sessionState.conf.numShufflePartitions
    if (n <= 0) conf
    else {
      val target = spark.conf.get("spark.graft.ann.rowsPerPartition", "4096").toLong
      require(target >= 1, s"spark.graft.ann.rowsPerPartition must be >= 1, got $target")
      math.max(1L, math.min(conf.toLong, (n + target - 1) / target)).toInt
    }
  }

  /** The neighbor table (u, v, sim) over a cell-labelled index
    * (cluster, vec_id, ve): per cell, the hash ring plus `rounds`
    * NN-Descent rounds — the top-kNbr list of each node ∪ its ring links,
    * degree ≤ 2·kNbr. The ring stays in the graph as the long-link
    * spine: a pure kNN graph is not navigable (greedy ascent dead-ends
    * in local optima; measured at sf1, unreached planted twins froze at
    * 8/10 across hops 4→8 until the spine returned), and ring links are
    * the hash-random long links NSW gets from randomized insertion.
    *
    * ONE exchange: the index repartitions by cell into
    * [[annParallelism]]`(nRows)` partitions (`nRows` = index row count,
    * -1 = unknown), each cell's members collect into one row, and
    * [[graft.plans.NswCellGraph]] builds that cell's edges in its task.
    * A cell row is O(n_c·dim) bytes and a round O(n_c·(2h)²) similarity
    * evaluations, h = max(4, kNbr/2). Cells hold ~√n members by
    * construction, so at n = 10⁸ a cell row is ~10⁴ 64-d vectors ≈ 5 MB,
    * and a skewed cell costs one task. Rows with a null cluster get no
    * edges. The result is materialized (localCheckpoint) once; the
    * caller owns its blocks.
    */
  def nswBuild(index: DataFrame, kNbr: Int = 8, rounds: Int = 2,
               nRows: Long = -1): DataFrame = {
    require(kNbr >= 1 && rounds >= 0, s"kNbr=$kNbr rounds=$rounds")
    val idType = index.schema("vec_id").dataType
    index.filter(col("cluster").isNotNull)
      .select(col("cluster"), col("vec_id"), col("ve"))
      .repartition(annParallelism(index.sparkSession, nRows), col("cluster"))
      .groupBy(col("cluster"))
      .agg(collect_list(struct(col("vec_id").cast("long").as("vec_id"),
        hrank(col("vec_id")).as("h"), col("ve"))).as("members"))
      .select(explode(graft.plans.NativeFunctions.nswCellGraph(
        col("members"), kNbr, rounds)).as("e"))
      .select(col("e.u").cast(idType).as("u"), col("e.v").cast(idType).as("v"),
        col("e.sim").as("sim"))
      .localCheckpoint()
  }

  /** A few deterministic entry points per IVF cell (the lowest-hash
    * nodes): (cluster, vec_id). Graph edges never cross cells (the
    * build is cell-local by design — no global construction order), so
    * the SEARCH picks cells by exact centroid routing and seeds the
    * walk at the probed cells' entries — the SPANN/DiskANN posture:
    * coarse routing by model, fine ranking by graph walk.
    */
  def nswEntries(index: DataFrame, perCell: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("h"), col("vec_id"))
    index.select(col("cluster"), col("vec_id"), hrank(col("vec_id")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perCell)
      .select(col("cluster"), col("vec_id"))
  }

  /** SAMPLED entry set: every cell member whose hash rank ≡ 0
    * (mod sampleMod), plus each cell's min-hash node so no cell goes
    * entryless. Greedy walks dead-end when a cell holds several
    * similarity basins (a handful of fixed entries all sit in the
    * dominant basin — the r14 sf1 twin misses that hops could not fix;
    * pure-kNN non-navigability is WHY HNSW is hierarchical). Scoring a
    * deterministic 1/sampleMod sample of each probed cell at hop 0 —
    * the DiskANN start-from-best-medoid posture, ~1/sampleMod of the
    * ivfSearch scan — plants a seed in every basin of ≥~sampleMod
    * nodes, and the kNN links ascend from there.
    */
  def nswEntriesSampled(index: DataFrame, sampleMod: Int = 16): DataFrame =
    index.select(col("cluster"), col("vec_id"), hrank(col("vec_id")).as("h"))
      .filter(col("h") % sampleMod === 0)
      .select(col("cluster"), col("vec_id"))
      .unionByName(nswEntries(index, perCell = 1))
      .distinct()

  /** Fixed-hop beam search over the neighbor table: route each query
    * to its `nprobe` closest cells via the broadcast centroid model
    * (exactly [[ivfSearch]]'s routing — an identical vector provably
    * routes to its own cell first), seed the beam at those cells'
    * entry nodes, then walk: each hop expands the beam through the
    * edge table (nq·beam·kNbr rows, bucketed by u at warehouse scale),
    * fetches ONLY unvisited candidates through the vec_id-co-located
    * index, scores exactly, and keeps the top `beam` per query; the
    * final top-k ranks over everything visited. The query path touches
    * model + entries + edges + index rows reached — never a corpus or
    * cell scan (vs [[ivfSearch]], which scores every vector of every
    * probed cell). Deterministic: md5 entry order, (sim desc, cid)
    * tie-breaks everywhere.
    */
  def nswSearch(cents: Seq[(Int, Seq[Double])], edges: DataFrame,
                index: DataFrame, entries: DataFrame, queries: DataFrame,
                k: Int, beam: Int = 16, hops: Int = 4, nprobe: Int = 4,
                excludeSelf: Boolean = true,
                pred: Option[Column] = None, nRows: Long = -1): DataFrame = {
    // hop 0: centroid-route to nprobe cells, seed at their entries
    val seeds = queryProbes(cents, queries, nprobe)
      .select(col("qid"), col("cluster"))
      .join(broadcast(entries), Seq("cluster"))
      .select(col("qid"), col("vec_id").as("cid")).distinct()
    nswWalk(seeds, edges, index, queries, k, beam, hops, excludeSelf, pred,
      nRows)
  }

  /** The walk itself, routing-agnostic: score the seeds, then `hops`
    * rounds of expand-through-adjacency / fetch-unvisited / score /
    * top-beam; final top-k over everything visited.
    *
    * `pred` (filtered search, r17): a metadata predicate over the
    * INDEX's columns. The walk TRAVERSES the full graph — dropping
    * disallowed nodes from the adjacency would disconnect it exactly
    * when the predicate is selective — but each visited node carries
    * its predicate bit on the co-located vector table (zero extra
    * joins, zero extra shuffle), and the FINAL top-k ranks over allowed
    * visited nodes only. The allowed filter runs BEFORE the k-cut —
    * never post-filtering a k-list that can go empty; for very
    * selective predicates callers raise `beam`/`hops` (the filtered-
    * HNSW budget rule).
    */
  private def nswWalk(seeds: DataFrame, edges: DataFrame, index: DataFrame,
                      queries: DataFrame, k: Int, beam: Int, hops: Int,
                      excludeSelf: Boolean,
                      pred: Option[Column] = None,
                      nRows: Long = -1): DataFrame = {
    val np = annParallelism(index.sparkSession, nRows)
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      asDouble("embedding").as("qe")))
    // vector table CO-LOCATED by cid once (r15): each hop's scoring join then exchanges only the
    // THIN (qid, cid) candidate rows — without this, the moment the
    // index outgrows the broadcast threshold every score() call pays a
    // full vector-table SMJ shuffle (measured at sf10: 4 × ~104 MB of
    // the 578 MB search total). At warehouse scale the persisted index
    // is bucketed by vec_id, making this exchange free forever.
    val thin = index.select(col("vec_id").as("cid"), col("ve"),
        pred.getOrElse(lit(true)).as("ok"))
      .repartition(np, col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def score(cand: DataFrame): DataFrame = cand
      .join(thin, Seq("cid"))
      .join(q, Seq("qid"))
      .filter(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"),
        round(graft.plans.NativeFunctions.cosineSim(col("qe"), col("ve")), 4)
          .as("sim"), col("ok"))
    val wb = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    def topBeam(acc: DataFrame): DataFrame = acc
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= beam)
      .select(col("qid"), col("cid"), col("sim"))
    var acc = score(seeds).localCheckpoint()
    // hop 1 expands EVERY seed (seeds are hash-random representatives,
    // not good scorers — beam-cutting them here would silently drop
    // whole probed cells before they are walked once; measured at sf1:
    // recall@5 froze at ~28% across nprobe 4→32 until each probed
    // cell's seed kept its first expansion); later hops focus on merit
    var frontier = acc.select(col("qid"), col("cid"), col("sim"))
    // the walk runs on the UNDIRECTED graph (HNSW/NSW convention): a
    // directed top-kNbr list starves low-in-degree nodes — at sf1 the
    // directed walk recovered only ~60% of the matched-cell full-scan
    // recall until reverse edges joined the expansion
    // adjacency CO-LOCATED by cid once, like the vector table above:
    // the per-hop expansion join otherwise re-shuffles the whole
    // symmetrized edge list every hop (measured at sf10: 3 × ~115 MB —
    // the bulk of the search shuffle), while the frontier side is
    // beam-sized. Bucket the persisted edge table by u at warehouse
    // scale and this exchange disappears entirely.
    val adj = edges.select(col("u").as("cid"), col("v"))
      .unionByName(edges.select(col("v").as("cid"), col("u").as("v")))
      .repartition(np, col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to hops) {
      val expand = frontier
        .join(adj, Seq("cid"))
        .select(col("qid"), col("v").as("cid")).distinct()
        // only NEW candidates are scored (visited set = acc)
        .join(acc.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_anti")
      acc = acc.unionByName(score(expand)).localCheckpoint()
      frontier = topBeam(acc)
    }
    // every score() result is checkpointed — the co-located vector and
    // adjacency caches have no remaining consumer
    thin.unpersist(blocking = false)
    adj.unpersist(blocking = false)
    // allowed-only BEFORE the k-cut: the rank window never sees
    // disallowed nodes, so rn 1..k is dense over the allowed set
    acc.filter(col("ok"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rn"))
  }

  /** LSH-celled NSW — the model-free deterministic graph-ANN face:
    * cells are sign-LSH buckets (each bucket bit is the sign of a
    * fixed-order dot product with a seeded hyperplane — bit-identical
    * on every run with no fit step at all). An identical query lands
    * in its twin's bucket BY CONSTRUCTION, and the whole build + walk
    * is replay-exact. Since r15's centroid quantization the k-means
    * face ([[nswKnn]]) is replay-deterministic too (see
    * [[centroidMean]]); this face remains the zero-model variant —
    * no training pass, buckets assignable per-row at ingest (the
    * [[nswInsert]] streaming posture). Routing is multi-probe LSH
    * (own bucket + every hamming-1 flip — the [[lshKnn]] probe set).
    */
  def nswLshIndex(corpus: DataFrame, nBits: Int): DataFrame =
    corpus.select(col("vec_id"), asDouble("embedding").as("ve"))
      .withColumn("cluster",
        Sketches.affineHyperplaneBucket("ve", nBits, 64).cast("int"))

  def nswSearchLsh(edges: DataFrame, index: DataFrame, entries: DataFrame,
                   queries: DataFrame, k: Int, nBits: Int, beam: Int = 16,
                   hops: Int = 4, excludeSelf: Boolean = true,
                   pred: Option[Column] = None, nRows: Long = -1): DataFrame = {
    val probes = expr(
      s"array_union(array(bucket), transform(sequence(0, ${nBits - 1}), i -> bucket ^ shiftleft(1L, i)))")
    val seeds = queries
      .select(col("vec_id").as("qid"), asDouble("embedding").as("qe"))
      .withColumn("bucket",
        Sketches.affineHyperplaneBucket("qe", nBits, 64))
      .select(col("qid"), explode(probes).as("pb"))
      .select(col("qid"), col("pb").cast("int").as("cluster"))
      .join(broadcast(entries), Seq("cluster"))
      .select(col("qid"), col("vec_id").as("cid")).distinct()
    nswWalk(seeds, edges, index, queries, k, beam, hops, excludeSelf, pred,
      nRows)
  }

  /** INCREMENTAL graph ingestion — the continuous-ingestion face (the
    * minhash/SemDeDup accumulated-index posture, via the DiskANN
    * insertion recipe: SEARCH the existing graph for each new node's
    * neighbors, then link bidirectionally). Returns (newIndex,
    * newEdges): the batch's rows appended to the index (bucket
    * assignment is the deterministic sign-LSH — no model, no refit),
    * and the edge table extended with (a) each new node's top-kNbr
    * walk results linked BOTH directions (new→old enters the beam
    * search from day one; old→new keeps history navigable toward
    * arrivals), and (b) a hash-ring chain among the batch's own nodes
    * per bucket (the long-link spine keeps growing, and batch-local
    * pairs are ring-REACHABLE before any walk links them directly). Cost per
    * batch: one walk per new node (graph-degree rows) + batch-sized
    * appends — history is never re-scanned or re-linked wholesale.
    * `StreamingGraphAnnSpec` pins that a twin of an EARLIER streamed
    * vector is found against the accumulated graph.
    */
  def nswInsert(batch: DataFrame, index: DataFrame, edges: DataFrame,
                nBits: Int, kNbr: Int = 12, beam: Int = 16,
                hops: Int = 3): (DataFrame, DataFrame) = {
    val bIdx = nswLshIndex(batch, nBits)
    // each new node's neighbors, found by walking the EXISTING graph
    // (excludeSelf=false is irrelevant here — id spaces are disjoint by
    // ingestion contract, matching the accumulated-index loops)
    val found = nswSearchLsh(edges, index, nswEntriesSampled(index), batch,
      k = kNbr, nBits = nBits, beam = beam, hops = hops)
    val newLinks = found
      .select(col("qid").as("u"), col("cid").as("v"), col("sim"))
    // batch-local ring chain per bucket (hash order, the build's spine)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("h"), col("vec_id"))
    val ranked = bIdx
      .select(col("vec_id"), col("ve"), col("cluster"), hrank(col("vec_id")).as("h"))
      .withColumn("rn", row_number().over(w))
    val chain = ranked.as("a")
      .join(ranked.as("b"),
        col("a.cluster") === col("b.cluster") && col("b.rn") === col("a.rn") + 1)
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"),
        graft.plans.NativeFunctions.cosineSim(col("a.ve"), col("b.ve")).as("sim"))
    val newEdges = edges
      .unionByName(newLinks)
      .unionByName(newLinks.select(col("v").as("u"), col("u").as("v"), col("sim")))
      .unionByName(chain)
      .distinct()
    (index.unionByName(bIdx), newEdges)
  }

  /** Index COMPACTION — the missing piece of the fit/encode/search
    * deployment story (r17, VERDICT r16 item 8). Streamed ingestion
    * ([[lshDupsAgainst]], [[nswInsert]], SemDedup's accumulated index)
    * appends per-batch SEGMENTS to the persisted bucketed tables
    * forever: each append lands in its batch's file layout, not the
    * warehouse bucketing, so over time a bucket's rows scatter across
    * every segment file and the probe path's "read nprobe/c of the
    * index" promise decays into a full-segment-list scan. Compaction
    * re-keys the accumulated rows into the warehouse layout — one
    * exchange on the bucket key, after which writing with
    * bucketBy(cluster) restores the co-located layout every search
    * face assumes. Values are untouched (row-set equality is the spec's
    * law); only the physical layout moves.
    */
  def compactIndex(index: DataFrame, bucketCol: String = "cluster"): DataFrame =
    index.repartition(
      index.sparkSession.sessionState.conf.numShufflePartitions,
      col(bucketCol))

  /** NSW graph compaction: re-link the cells TOUCHED by streamed
    * inserts. [[nswInsert]] keeps the graph navigable per batch (walk
    * links + a batch-local ring chain per bucket), but the accumulated
    * edge table drifts from the fresh-build shape: every batch adds
    * its own ring spine and cross-cell walk links, so edge volume
    * grows with ingestion history, not corpus size. Compaction:
    *
    *   1. touched cells = cells holding ≥ 1 row of `newIds` (the
    *      appended segment ids — a deployment reads them from its
    *      segment manifest);
    *   2. those cells are REBUILT with the build recipe ([[nswBuild]]:
    *      ring init + NN-Descent rounds — cell-local and deterministic,
    *      so a rebuilt cell's edges are IDENTICAL to what a fresh
    *      whole-corpus build would produce for it);
    *   3. untouched cells keep their existing edges (no new member can
    *      have changed them — build edges are cell-local), and every
    *      accumulated edge with EITHER endpoint in a touched cell is
    *      dropped (its navigation duty is subsumed by the rebuild; the
    *      fresh baseline has no cross-cell edges either).
    *
    * Hence compacted edges == fresh-built edges EXACTLY when the
    * untouched cells' edges came from a build — StreamingGraphAnnSpec
    * pins edge-set equality, recall parity on planted twins, and the
    * bytes bound (compacted ≤ accumulated, == fresh). Cost: rebuild is
    * proportional to the TOUCHED cells' membership, never the corpus —
    * between compactions ingestion stays append-only.
    */
  def nswCompact(index: DataFrame, edges: DataFrame, newIds: DataFrame,
                 kNbr: Int = 12, rounds: Int = 2): DataFrame = {
    // touched-cell list: bounded by the segment sizes, broadcastable
    val touched = index
      .join(newIds.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("cluster")).distinct()
      .localCheckpoint(true)
    val touchedIdx = index.join(broadcast(touched), Seq("cluster"))
    val cellOf = index.select(col("vec_id"), col("cluster"))
    val keep = edges
      .join(cellOf.toDF("u", "cu"), Seq("u"))
      .join(cellOf.toDF("v", "cv"), Seq("v"))
      .join(broadcast(touched.toDF("cu")), Seq("cu"), "left_anti")
      .join(broadcast(touched.toDF("cv")), Seq("cv"), "left_anti")
      .select(col("u"), col("v"), col("sim"))
    keep.unionByName(nswBuild(touchedIdx, kNbr, rounds))
  }

  /** Deterministic graph-ANN top-k: LSH cells (≈√n buckets via
    * nBits = ⌈log₂√n⌉) + ring/NN-Descent build + multi-probe beam
    * walk. The q203 oracle composition.
    */
  def nswKnnLsh(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int = 0,
                kNbr: Int = 12, rounds: Int = 2, beam: Int = 16,
                hops: Int = 3): DataFrame = {
    // ONE count job (r18): nswLshIndex is a 1:1 map-only projection of
    // the corpus, so the corpus count that sizes the bucket bits IS the
    // index row count the build's exchanges are sized from — the old
    // index.count() was a second full scan+encode pass whose only
    // other effect, pre-filling the persist, the overlapped branches'
    // first read performs anyway (block-locked, computed once).
    val n = corpus.count()
    val bits = if (nBits > 0) nBits
      else math.max(3, math.ceil(
        math.log(math.sqrt(n.toDouble)) / math.log(2)).toInt)
    val index = nswLshIndex(corpus, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // graph build and entry sampling are independent reads of the
    // persisted index — overlap them (guide §2.6) so the entry window
    // rides the build's idle tail instead of the walk's critical path
    val Seq(edges, entries) = Overlap.build(Seq(
      () => nswBuild(index, kNbr, rounds, nRows = n),
      () => nswEntriesSampled(index).localCheckpoint(true)),
      sessions = Seq(corpus.sparkSession))
    val out = nswSearchLsh(edges, index, entries, queries, k, bits, beam, hops,
      nRows = n)
    val materialized = out.localCheckpoint()
    index.unpersist(blocking = true)
    materialized
  }

  /** Graph-ANN top-k — ivfFit∘ivfEncode∘nswBuild∘nswSearch composition
    * (the self-contained oracle shape; deployments persist the model,
    * the index, the neighbor table, and the entry list, then query
    * forever). Cell count defaults to ~√n (the SPANN/FAISS rule), so
    * cells stay beam-walkable as the corpus grows; pass `c` > 0 to pin
    * it.
    */
  def nswKnn(corpus: DataFrame, queries: DataFrame, k: Int, c: Int = 0,
             kNbr: Int = 12, rounds: Int = 3, beam: Int = 16, hops: Int = 4,
             nprobe: Int = 4, trainMod: Int = 1): DataFrame = {
    // ONE count job (r18, see nswKnnLsh): ivfEncode is a 1:1 map-only
    // projection, so the corpus count that sizes the cell count IS the
    // index row count — no second scan+encode pass just to pre-fill
    // the persist (the overlapped branches' first read fills it).
    val n = corpus.count()
    val cells = if (c > 0) c
      else math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = ivfFit(corpus, cells, iters = 2, trainMod)
    val index = ivfEncode(corpus, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // build ∥ entry sampling — independent reads of the persisted
    // index (see nswKnnLsh)
    val Seq(edges, entries) = Overlap.build(Seq(
      () => nswBuild(index, kNbr, rounds, nRows = n),
      () => nswEntriesSampled(index).localCheckpoint(true)),
      sessions = Seq(corpus.sparkSession))
    val out = nswSearch(cents, edges, index,
      entries, queries, k, beam, hops, nprobe, nRows = n)
    val materialized = out.localCheckpoint()
    index.unpersist(blocking = true)
    materialized
  }

  /** ANN index-QUALIFICATION recall report (r15): recall@k of an
    * approximate ranking against the exact baseline, per query — the
    * table a deployment reads before switching an index family (the
    * measurement NswRecallProbe ran as a tool, promoted to a
    * first-class oracled operator). Both inputs are (qid, cid, rn)
    * rankings (any of the bruteKnn/lshKnn/ivfKnn/pqKnn/nswKnn faces);
    * the base is the EXACT list's actual size (< k only when the
    * corpus itself is) and recall_ppm is integer-exact
    * (hits·1e6 div base — the Mix discipline, zero float anywhere).
    *
    * Scale shape: both inputs are queries×k rows by construction, so
    * every join/aggregate here is rank-list-sized regardless of corpus
    * size — the expensive part is producing the rankings, not grading
    * them.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"recallAtK: k must be >= 1, got $k")
    val a = approx.filter(col("rn") <= k)
      .select(col("qid"), col("cid"), lit(1L).as("__hit"))
    exact.filter(col("rn") <= k).select(col("qid"), col("cid"))
      .join(a, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_ppm",
        expr("cast(n_hits * 1000000 div n_exact as bigint)"))
  }

  /** 1-NN LABEL AGREEMENT (r15): the standard embedding-quality probe —
    * for each probe vector, does its nearest neighbour share its label?
    * Reported per label class (n_queries, n_agree, agreement_ppm,
    * integer-exact) — the table read before trusting an embedding
    * column for SemDeDup / ANN / contrastive mining (a space whose
    * neighbours cross labels will near-dup across concepts). Top-1 by
    * the q64 determinism discipline (round-4 cosine, cid tie-break);
    * labels ride thin equi-joins; the groupBy is |labels| rows.
    *
    * Brute posture by declared design for the probe set (the q64
    * correctness-baseline class): probes are a bounded broadcast side,
    * one corpus scan. At 100 TB, swap [[bruteKnn]] for any index face
    * ([[lshKnn]]/[[ivfKnn]]/[[pqKnn]]) — the grading joins stay
    * probe-set-sized either way.
    */
  def nnLabelAgreement(corpus: DataFrame, queries: DataFrame): DataFrame = {
    // corpus-THIN (vec_id, label), materialized once: both endpoint
    // lookups read the same 2-column table — without this each label
    // join re-scans the embeddings parquet (vectors included) just to
    // project two columns (the crossSourceLeakage discipline;
    // PlanAudit's multi-scan gate)
    val labels = corpus.select(col("vec_id"), col("label"),
        lit(true).as("__has"))
      .localCheckpoint(true)
    // LOUD CONTRACT (the leakageFromState idiom): a probe whose vec_id
    // has no label row in the corpus is a caller bug — left-join with a
    // presence MARKER and assert on it, so the absent row fails the
    // query instead of silently dropping from the report, while a
    // legitimate NULL label still aggregates as its own class.
    def loud(side: String, id: org.apache.spark.sql.Column) =
      assert_true(col(s"__has_$side").isNotNull,
        concat(lit(s"Ann.nnLabelAgreement: $side endpoint "),
          id.cast("string"),
          lit(" has no (vec_id, label) row in the corpus"))).isNull
    bruteKnn(corpus, queries, k = 1)
      .join(labels.select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("__has").as("__has_q")), Seq("qid"), "left")
      .filter(loud("q", col("qid")))
      .join(labels.select(col("vec_id").as("cid"), col("label").as("nn_label"),
        col("__has").as("__has_n")), Seq("cid"), "left")
      .filter(loud("n", col("cid")))
      .groupBy(col("q_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("q_label") === col("nn_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agreement_ppm",
        expr("cast(n_agree * 1000000 div n_queries as bigint)"))
  }

  /** Exact L2 top-k baseline (the PQ recall reference; same broadcast
    * bounded-query posture as [[bruteKnn]]).
    */
  def bruteKnnL2(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), asDouble("embedding").as("qe")))
    val c = corpus.select(col("vec_id").as("cid"), asDouble("embedding").as("ce"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cid"))
    c.join(q, col("qid") =!= col("cid"))
      .withColumn("d2", round(l2sq("qe", "ce"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("d2"), col("rn"))
  }
}
