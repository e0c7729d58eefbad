package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, SemDedup}

/** SemDeDup semantic dedup (q176 / graft.operators.SemDedup). */
class SemDedupSpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, sfDir)

  private def withTwins = {
    val twins = embs.filter(col("vec_id") % 10 === 3)
      .withColumn("vec_id", col("vec_id") + 100000L)
    embs.unionByName(twins)
  }

  test("every planted twin pair is recovered at cosine 1.0, nothing else at 0.9") {
    val expected = embs.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val pairs = SemDedup.dupPairs(withTwins, threshold = 0.9, c = 16).collect()
    assert(pairs.nonEmpty)
    val got = pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.forall { case (va, vb, sim) =>
      expected.contains(va) && vb == va + 100000L && sim == 1.0
    }, s"unexpected pair among ${got.take(5)}")
    assert(got.map(_._1).toSet == expected, "a twin pair was missed")
  }

  test("reusing a maintained IVF index gives identical pairs (deployment face)") {
    val corpus = withTwins
    val cents = Ann.ivfFit(corpus, c = 16, iters = 2)
    val index = Ann.ivfEncode(corpus, cents)
    val a = SemDedup.dupPairsFromIndex(index, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = SemDedup.dupPairs(corpus, threshold = 0.9, c = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
  }

  test("pair search is an equi-join on cluster, never a nested loop") {
    // structural count (the PlanAudit discipline): the persisted encode
    // build plan is counted ONCE, however many sides scan the cache
    val df = SemDedup.dupPairs(withTwins, threshold = 0.9, c = 16)
    val joins =
      graft.tools.PlanAudit.structuralCounts(df.queryExecution.executedPlan).joins
    assert(joins.getOrElse("CartesianProduct", 0) == 0)
    // the only BNLJ allowed is the c-row centroid-model assignment join
    assert(joins.getOrElse("BroadcastNestedLoopJoin", 0) <= 1,
      s"unexpected nested loops: $joins")
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(joins.getOrElse(_, 0) > 0),
      s"intra-cluster pair join must be an equi-join: $joins")
  }

  test("below-threshold natural pairs are excluded (threshold actually binds)") {
    // with no twins planted, this corpus has no pair at >= 0.9
    // (measured max natural cosine 0.60 at sf0.1, lower here)
    val pairs = SemDedup.dupPairs(embs, threshold = 0.9, c = 16)
    assert(pairs.count() == 0)
    // loosening the threshold to 0 must surface intra-cluster pairs
    val loose = SemDedup.dupPairs(embs, threshold = 0.0, c = 16)
    assert(loose.count() > 0)
  }

  test("cross-corpus decontamination flags exactly the planted eval twins") {
    val expected = embs.filter(col("vec_id") % 10 === 7)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val evalSet = embs.filter(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val got = SemDedup.decontaminate(embs, evalSet, threshold = 0.9, c = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (e, t, sim) =>
      expected.contains(t) && e == t + 1000000L && sim == 1.0
    }, s"unexpected contamination among ${got.take(5)}")
    assert(got.map(_._2).toSet == expected,
      "a contaminated training vector was missed")
  }

  test("decontamination reports a match even when eval and train ids numerically collide") {
    // independent id spaces: eval benchmark row 42 can be a verbatim
    // copy of train row 42 — a same-id filter would silently swallow
    // exactly that contamination (the Ann.ivfSearch excludeSelf
    // contract; decontaminate must pass excludeSelf = false)
    val evalSet = embs.filter(col("vec_id") % 10 === 7)
      .select(col("vec_id"), col("embedding")) // SAME ids as train
    val expected = evalSet.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val got = SemDedup.decontaminate(embs, evalSet, threshold = 0.9, c = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.filter { case (e, t) => e == t }.map(_._2).toSet == expected,
      "self-id contamination pairs must be reported, not filtered")
  }

  test("combined decontamination carries per-branch provenance and unions the flag sets") {
    // docs corpus where the n-gram branch fires (train doc 103 shares
    // all its shingles with eval doc 0 — NOT id 100, which is % 50 == 0
    // and lands on the eval side itself) and the embeddings corpus where the
    // semantic branch fires (planted twins on %10==7 ids) — the merged
    // output must flag both sets, each with ONLY its own branch's
    // provenance, and the metric of the other branch null
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), // eval doc (id % 50 == 0)
      (103L, "alpha beta gamma delta epsilon zeta"), // verbatim train copy
      (101L, "totally different words here entirely now")).toDF("doc_id", "text")
    val got = SemDedup.decontaminateCombined(
        docs, embs, embs.filter(col("vec_id") % 10 === 7)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        evalDocPred = col("doc_id") % 50 === 0,
        minOverlap = 0.05, semThreshold = 0.9, c = 16)
      .collect()
      .map(r => r.getAs[Long]("train_id") ->
        ((r.getAs[Boolean]("ngram_flag"), r.getAs[Boolean]("sem_flag"),
          Option(r.getAs[java.lang.Double]("overlap")),
          Option(r.getAs[java.lang.Double]("max_sim"))))).toMap
    val semIds = embs.filter(col("vec_id") % 10 === 7)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(got.keySet == semIds + 103L, s"flag union wrong: ${got.keySet}")
    assert(got(103L)._1 && !got(103L)._2, "doc 103 is an n-gram-only hit")
    assert(got(103L)._3.exists(_ >= 0.05) && got(103L)._4.isEmpty,
      "n-gram-only rows carry overlap and a null max_sim")
    for (id <- semIds) {
      assert(!got(id)._1 && got(id)._2, s"vec $id is a semantic-only hit")
      assert(got(id)._3.isEmpty && got(id)._4.contains(1.0),
        s"semantic-only rows carry max_sim 1.0 and a null overlap")
    }
  }

  test("decontamination against a disjoint training corpus flags nothing") {
    // remove the eval sources from training: the probes are now genuinely
    // novel vectors, and no NATURAL training vector sits within 0.9
    // (measured max natural pair cosine 0.60) — zero flags, not noise
    val train = embs.filter(col("vec_id") % 10 =!= 7)
    val evalSet = embs.filter(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    assert(SemDedup.decontaminate(train, evalSet, threshold = 0.9, c = 16)
      .count() == 0)
  }

  test("q176 twin offset stays outside the natural vec_id space at every SF") {
    // q176's oracle plants twins at vec_id + 100000 and ASSUMES that id
    // space is disjoint from natural ids; a testdata regen with >= 100000
    // embeddings would silently collide two different vectors under one
    // id and break the oracle with no guard firing. Fail loudly here
    // instead, across every SF the driver exercises.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(dir).isDirectory) {
        val maxId = Tables.embeddings(spark, dir)
          .agg(max(col("vec_id"))).collect()(0).getLong(0)
        assert(maxId < 100000L,
          s"$sf max vec_id=$maxId collides with q176's twin offset 100000 — " +
            "raise the offset in q176's query AND oracle together")
      }
    }
  }
}
