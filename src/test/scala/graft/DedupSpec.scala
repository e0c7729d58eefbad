package graft

import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.Dedup

/** Planted-duplicate tests for the dedup family. */
class DedupSpec extends SparkSpec {

  private def docsWithPlants = {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    // plant: 9001 = exact copy of doc 0 (re-spaced), 9002 = near-copy of
    // doc 1 (one word changed), 9003 = unrelated
    val d0 = base.filter(col("doc_id") === 0).head().getString(1)
    val d1 = base.filter(col("doc_id") === 1).head().getString(1)
    val near = d1.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 5) "REPLACED" else w }.mkString(" ")
    base.unionAll(Seq(
      (9001L, "  " + d0.toUpperCase + "  "),
      (9002L, near),
      (9003L, "totally unrelated text about nothing at all whatsoever")
    ).toDF("doc_id", "text"))
  }

  test("exact dedup groups the normalized exact copy with its source") {
    val groups = Dedup.exactGroups(docsWithPlants)
    val dupGroups = groups.filter(col("n_copies") > 1).collect()
    assert(dupGroups.length == 1)
    assert(dupGroups.head.getAs[Long]("canonical_id") == 0L)
    assert(dupGroups.head.getAs[Long]("n_copies") == 2L)
  }

  test("ngram jaccard finds the planted near-copy above 0.8") {
    val pairs = Dedup.jaccardPairsW(Text.wordsTable(docsWithPlants), threshold = 0.8)
      .filter(col("doc_b") === 9002).collect()
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 1L),
      s"pair (1, 9002) missing from ${pairs.mkString(",")}")
  }

  test("minhash LSH surfaces the planted pairs as candidates") {
    val cands = Dedup.minhashCandidatesW(Text.wordsTable(docsWithPlants))
      .filter(col("doc_b") >= 9001).collect()
    val found = cands.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(found.contains((0L, 9001L)), s"exact copy not a candidate: $found")
    assert(found.contains((1L, 9002L)), s"near copy not a candidate: $found")
    assert(!found.exists(_._2 == 9003L), s"unrelated doc surfaced: $found")
  }

  test("keep-best keeps the highest-quality cluster member, not the earliest") {
    import spark.implicits._
    // fluent stopword-rich text scores high; the SAME text trailed by
    // short junk tokens scores lower (short_ratio up). The high-quality
    // copy deliberately carries the HIGHER doc_id, so keep-earliest
    // would pick wrong.
    val fluent = "the quick brown fox jumps over the lazy dog and runs " +
      "into the quiet forest where the morning light is soft and warm"
    val degraded = fluent + " x y z q w x y z q w"
    val docs = Seq(
      (50L, degraded), (100L, fluent),          // cluster A: 100 must win
      (200L, "identical tie text here with the same words exactly matching"),
      (300L, "identical tie text here with the same words exactly matching"),
      (999L, "an unclustered document about something else entirely")
    ).toDF("doc_id", "text")
    val pairs = Seq((50L, 100L), (200L, 300L)).toDF("doc_a", "doc_b")
    val out = Dedup.keepBest(docs, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Int]("kept"))).toMap
    assert(out.keySet == Set(50L, 100L, 200L, 300L),
      s"unclustered doc must not appear: ${out.keySet}")
    assert(out(100L)._3 == 1 && out(50L)._3 == 0,
      s"higher-quality member must win: $out")
    // equal quality -> lowest doc_id wins
    assert(out(200L)._3 == 1 && out(300L)._3 == 0, s"tie-break: $out")
    assert(out(50L)._1 == 50L && out(50L)._2 == 2L)
    // exactly one survivor per cluster
    assert(out.values.groupBy(_._1).forall(_._2.count(_._3 == 1) == 1))
  }

  test("incremental minhash finds a new near-dup against the existing index only") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    val index = Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(corpus)))
    val d1 = corpus.filter(col("doc_id") === 1).head().getString(1)
    val near = d1.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 5) "REPLACED" else w }.mkString(" ")
    val newBatch = Seq(
      (9100L, near),
      (9101L, "fresh unrelated text with no duplicate in the corpus whatsoever")
    ).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidatesAgainst(newBatch, index).collect()
    assert(cands.exists(r =>
      r.getAs[Long]("new_id") == 9100L && r.getAs[Long]("old_id") == 1L))
    assert(!cands.exists(_.getAs[Long]("new_id") == 9101L))
  }

  test("learned threshold is the q155 sweep's argmax (lowest on ties) and gates the pair set") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Dedup.learnedThresholdPairs(docs).collect()
    assert(out.nonEmpty, "calibration corpus must yield pairs")
    val thresholds = out.map(_.getAs[Double]("threshold")).distinct
    assert(thresholds.length == 1, s"one learned threshold, got ${thresholds.toSeq}")
    val thr = thresholds.head
    assert(thr >= 0.30 && thr <= 0.90, s"threshold $thr outside the sweep grid")
    // cross-operator consistency: the q155 calibration program's
    // best_f1 rows must contain this threshold, and the LOWEST flagged
    // threshold must be it (the deterministic tie-break)
    val sweep = queries.PipelineQueries.q155.fn(spark, sfDir).collect()
    val flagged = sweep.filter(_.getAs[Boolean]("best_f1"))
      .map(_.getAs[Double]("threshold"))
    assert(flagged.nonEmpty && flagged.min == thr,
      s"learned $thr vs sweep argmax ${flagged.toSeq.sorted}")
    // the pair set is exactly the candidates at the learned threshold
    val want = Dedup.minhashCandidatesW(Text.wordsTable(docs), minEstJaccard = 0.25)
      .filter(round(col("est_jaccard") * 1000000).cast("long") >=
        math.round(thr * 20) * 50000L)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val got = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == want, s"pair set mismatch: extra ${got -- want}, missing ${want -- got}")
  }

  test("calibration sample cap: capped (default) threshold == uncapped on the test corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val capped = Dedup.learnThreshold(docs) // default 192/256 hash-bucket sample
    val uncapped = Dedup.learnThreshold(docs, sampleBuckets = 256)
    assert(capped == uncapped,
      s"sampled calibration shifted the learned threshold: $capped vs $uncapped")
  }

  test("simhash puts the exact copy at hamming 0 and excludes unrelated docs") {
    val cands = Dedup.simhashCandidates(docsWithPlants, maxHamming = 3)
      .filter(col("doc_b") >= 9001).collect()
    val h = cands.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
      r.getAs[Int]("hamming")).toMap
    assert(h.get((0L, 9001L)).contains(0), s"exact copy hamming != 0: $h")
    assert(!h.keySet.exists(_._2 == 9003L), s"unrelated doc surfaced: $h")
  }

  test("simhash hot-chunk cap bounds the bucket join on planted boilerplate") {
    import spark.implicits._
    // 30 identical boilerplate docs: one simhash value, so every chunk
    // bucket they occupy has df=30 — over the cap. Uncapped, that bucket
    // alone joins to C(30,2)=435 pairs; capped, it contributes zero and
    // non-hot verified pairs still surface.
    val boiler = (0 until 30).map(i =>
      (8000L + i, "the same boilerplate banner text repeated verbatim in every single document"))
    val docs = docsWithPlants.unionAll(boiler.toDF("doc_id", "text"))
    val capped = Dedup.simhashCandidates(docs, maxHamming = 3, maxChunkDf = 20)
    assert(capped.filter(col("doc_a").between(8000, 8099) &&
      col("doc_b").between(8000, 8099)).count() == 0L,
      "hot-chunk bucket must be capped out of the join")
    assert(capped.filter(col("doc_a") === 0 && col("doc_b") === 9001).count() == 1L,
      "non-hot verified pair must survive the cap")
    val uncapped = Dedup.simhashCandidates(docs, maxHamming = 3, maxChunkDf = 1000000)
      .filter(col("doc_a").between(8000, 8099) && col("doc_b").between(8000, 8099))
    assert(uncapped.count() == 435L, "uncapped hot bucket goes quadratic (the hazard the cap bounds)")
  }

  test("decontaminate flags the training copy of an eval doc and only it") {
    import spark.implicits._
    // eval = doc_id >= 9000; 9001 is an exact (re-spaced) copy of train
    // doc 0, 9003 is unrelated — so train doc 0 must be flagged at
    // overlap 1.0 and the unrelated plant must flag nobody new.
    val flagged = Dedup.decontaminate(docsWithPlants,
      col("doc_id") >= 9000, minOverlap = 0.9).collect()
    val ids = flagged.map(_.getAs[Long]("train_id")).toSet
    assert(ids.contains(0L), s"train copy of eval doc not flagged: $ids")
    val row0 = flagged.find(_.getAs[Long]("train_id") == 0L).get
    assert(row0.getAs[Double]("overlap") == 1.0)
    assert(row0.getAs[Long]("n_eval_docs") >= 1L)
    // near-copy of doc 1 is also in the eval set (9002, one word changed)
    // — doc 1 shares most but not all shingles, so it must NOT clear 0.9
    // unless it genuinely does; assert the unrelated plant flags nothing.
    assert(!ids.exists(_ >= 9000L), s"eval docs must not appear as train: $ids")
  }

  test("crossSourceLeakage attributes planted dups to unordered source cells") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val t2 = "completely different content about distributed query engines and shuffle planning at scale"
    val docs = Seq(
      (1L, t1, "web"), (2L, t1, "wiki"),  // cross-source exact pair
      (3L, t2, "web"), (4L, t2, "web"),   // intra-source exact pair
      (5L, "unrelated third text mentioning neither foxes nor engines anywhere at all", "books")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceLeakage(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // exact copies share every signature slot → est 1.0; cells are
    // normalized (web, wiki), never (wiki, web)
    assert(out(("web", "wiki")) == ((1L, 1.0)), out)
    assert(out(("web", "web")) == ((1L, 1.0)), out)
    assert(out.size == 2, out)
  }
}
