package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Dedup

/** The continuous-ingestion dedup loop: documents arrive as a stream;
  * each micro-batch is checked against the ACCUMULATED signature index
  * (Dedup.minhashCandidatesAgainst) and then merged into it via
  * foreachBatch — the production shape for streaming corpus dedup,
  * where the index is a persisted table and each batch touches only
  * its own band buckets.
  */
case class Doc(doc_id: Long, text: String, ts: Timestamp)

class StreamingDedupSpec extends SparkSpec {

  test("foreachBatch incremental dedup flags near-dups across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val other = "completely different content about spark catalyst optimizer internals"
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")

    val stream = MemoryStream[Doc]
    // index starts empty; grows by each batch's bands
    var index: DataFrame = Dedup.minhashBands(
      Dedup.minhashSignaturesW(Text.wordsTable(Seq.empty[(Long, String)].toDF("doc_id", "text"))))
    val dups = collection.mutable.Set[(Long, Long)]()

    val query = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val docs = batch.select("doc_id", "text")
        dups ++= Dedup.minhashCandidatesAgainst(docs, index)
          .select("new_id", "old_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        index = index.unionByName(
          Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(docs)))).localCheckpoint()
        ()
      }
      .start()
    try {
      stream.addData(Seq(Doc(1, base, t0), Doc(2, other, t0)))
      query.processAllAvailable()
      stream.addData(Seq(Doc(3, near, t0))) // near-dup of batch-1's doc 1
      query.processAllAvailable()
      assert(dups.contains((3L, 1L)), s"got $dups")
      assert(!dups.exists(_._1 == 2L))
    } finally query.stop()
  }

  test("learned threshold deploys on the stream: calibrate once, stream == batch pair set") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    // clusters of graded similarity (exact dup, one-word swap, half
    // overlap) + singletons — enough structure for the calibration
    // grid to have real tp/fp/fn mass at several thresholds
    val mk = (s: String) => s + " filler words pad the shingle set out to a reasonable length"
    val corpus: Seq[(Long, String)] = Seq(
      1L -> mk("alpha beta gamma delta epsilon zeta eta theta"),
      2L -> mk("alpha beta gamma delta epsilon zeta eta theta"),
      3L -> mk("alpha beta gamma delta epsilon zeta eta iota"),
      4L -> mk("alpha beta gamma delta nine ten eleven twelve"),
      5L -> mk("one two three four five six seven eight"),
      6L -> mk("one two three four five six seven nine"),
      7L -> mk("totally unrelated content about catalyst plans"),
      8L -> mk("other unrelated content about shuffle exchanges"))
    val docsDf = corpus.toDF("doc_id", "text")

    val learned = Dedup.learnThreshold(docsDf)
    assert(learned >= 0.3 && learned <= 0.9, s"grid range violated: $learned")
    val batch = Dedup.learnedThresholdPairs(docsDf)
    // the deployment filter and the calibrate-only helper must agree
    // on the decision (same sweep, same argmax)
    assert(batch.select("threshold").head.getDouble(0) == learned)
    val batchPairs = batch.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "calibration corpus produced no deployed pairs")

    // stream the same corpus in 3 micro-batches; each batch's bands
    // join the index FIRST so within-batch pairs surface too, then the
    // batch is checked at the LEARNED threshold (self-matches dropped)
    val stream = MemoryStream[Doc]
    var index: DataFrame = Dedup.minhashBands(
      Dedup.minhashSignaturesW(Text.wordsTable(Seq.empty[(Long, String)].toDF("doc_id", "text"))))
    val dups = collection.mutable.Set[(Long, Long)]()
    val query = stream.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val docs = b.select("doc_id", "text")
        index = index.unionByName(
          Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(docs)))).localCheckpoint()
        dups ++= Dedup.minhashCandidatesAgainst(docs, index, minEstJaccard = learned)
          .filter(col("new_id") =!= col("old_id"))
          .select("new_id", "old_id").collect()
          .map(r => (math.min(r.getLong(0), r.getLong(1)),
            math.max(r.getLong(0), r.getLong(1))))
        ()
      }
      .start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      corpus.grouped(3).foreach { g =>
        stream.addData(g.map { case (id, tx) => Doc(id, tx, t0) })
        query.processAllAvailable()
      }
      assert(dups.toSet == batchPairs,
        s"stream ${dups.toSet} != batch $batchPairs at learned=$learned")
    } finally query.stop()
  }

  test("streaming keep-best: accumulated thin state == batch keepBest on monotone arrivals") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    // three near-dup clusters with graded member quality (longer docs
    // score higher on the n_words term) + singletons; members of one
    // cluster arrive in DIFFERENT micro-batches so the kept flag must
    // flip when a better member lands later
    val pad = " the of and is to in common words extend the document body"
    val corpus: Seq[(Long, String)] = Seq(
      1L -> ("alpha beta gamma delta epsilon zeta eta theta" + pad),
      2L -> ("alpha beta gamma delta epsilon zeta eta theta" + pad + pad),
      3L -> ("alpha beta gamma delta epsilon zeta eta theta" + pad + " x"),
      4L -> ("one two three four five six seven eight" + pad),
      5L -> ("one two three four five six seven eight" + pad + pad + pad),
      6L -> ("totally unrelated content about catalyst plans" + pad),
      7L -> ("other unrelated content about shuffle exchanges" + pad))
    val docsDf = corpus.toDF("doc_id", "text")
    val batchKept = Dedup.keepBest(docsDf, Dedup.minhashCandidatesW(Text.wordsTable(docsDf)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    assert(batchKept.nonEmpty, "corpus produced no clusters")

    // the three accumulated corpus-thin tables of the ingestion loop
    val stream = MemoryStream[Doc]
    var index: DataFrame = Dedup.minhashBands(
      Dedup.minhashSignaturesW(Text.wordsTable(Seq.empty[(Long, String)].toDF("doc_id", "text"))))
    var pairs: DataFrame = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    var scored: DataFrame = Seq.empty[(Long, Double)].toDF("doc_id", "quality")
    var kept = Set.empty[(Long, Long, Long, Double, Int)]
    val query = stream.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val docs = b.select("doc_id", "text")
        // bands merge FIRST so within-batch pairs surface too
        index = index.unionByName(
          Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(docs)))).localCheckpoint()
        val newPairs = Dedup.minhashCandidatesAgainst(docs, index)
          .filter(col("new_id") =!= col("old_id"))
          .select(least(col("new_id"), col("old_id")).as("doc_a"),
            greatest(col("new_id"), col("old_id")).as("doc_b"))
        pairs = pairs.unionByName(newPairs).distinct().localCheckpoint()
        // per-batch map-side score pass; scores accumulate doc-thin
        scored = scored.unionByName(graft.operators.Quality.score(docs)
          .select(col("doc_id"), col("quality"))).localCheckpoint()
        kept = Dedup.keepBestFromScored(scored, pairs)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getInt(4))).toSet
        ()
      }
      .start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      // interleave cluster members across batches: 2 and 5 (the best
      // members) arrive LAST, so earlier batches keep 1 and 4 and the
      // final state must have flipped both flags
      Seq(Seq(1L, 4L, 6L), Seq(3L, 7L), Seq(2L, 5L)).foreach { ids =>
        val m = corpus.toMap
        stream.addData(ids.map(id => Doc(id, m(id), t0)))
        query.processAllAvailable()
      }
      assert(kept == batchKept, s"stream $kept\n!= batch $batchKept")
      // and the flips actually happened: 2/5 kept, 1/4 not
      val keptIds = kept.filter(_._5 == 1).map(_._1)
      assert(keptIds.contains(2L) && keptIds.contains(5L), keptIds.toString)
      assert(!keptIds.contains(1L) && !keptIds.contains(4L), keptIds.toString)
    } finally query.stop()
  }

  test("keep-best fails loudly when a cluster member has no accumulated score") {
    import spark.implicits._
    // pairs name docs 1 and 2; the score table only covers doc 1 — an
    // inner join would silently shrink the cluster (and could flip the
    // argmax); the contract is a loud failure
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val scored = Seq((1L, 0.7)).toDF("doc_id", "quality")
    val e = intercept[Exception] {
      Dedup.keepBestFromScored(scored, pairs).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("no accumulated quality score")),
      e.getMessage)
  }
}
