package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.LmScore

/** The streaming CCNet loop (q194's ingestion face): fit the unigram
  * model and the per-language tercile cutoffs ONCE (the calibrate-once
  * posture every deployment face in this repo shares), then score and
  * bucket each arriving micro-batch against the fixed artifacts.
  * Scoring is per-document given the model and assignment is a
  * broadcast-join CASE, so batch boundaries cannot move any bucket.
  */
case class CcnetDoc(doc_id: Long, lang: String, text: String)

class StreamingCcnetSpec extends SparkSpec {

  test("calibrate-once ccnet on the stream: buckets == the batch assignment") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val rnd = new scala.util.Random(31)
    val langs = Array("aa", "bb")
    val corpus = (1L to 60L).map { i =>
      val gib = (1 to rnd.nextInt(12)).map(j => s"g${i}q$j").mkString(" ")
      CcnetDoc(i, langs((i % 2).toInt), s"the cat sat on the mat $gib")
    }
    val corpusDf = corpus.toDF()
    val V = 5

    // batch face: the reference assignment
    val batchBuckets = LmScore.ccnetBuckets(corpusDf, v = V)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(batchBuckets.values.toSet == Set("head", "middle", "tail"),
      s"all three buckets must be populated: ${batchBuckets.values.toSet}")

    // calibrate ONCE: model + totals + cutoffs, all held fixed
    val (model, totals) = LmScore.unigramModelW(Text.wordsTable(corpusDf), V)
    val modelFixed = model.localCheckpoint()
    val totalsFixed = totals.localCheckpoint()
    val cuts = LmScore.ccnetCutoffs(
      LmScore.scoredMicroAgainstW(Text.wordsTable(corpusDf, Seq("lang")), modelFixed,
          totalsFixed, V, carry = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("avg_micro6").as("am"))).localCheckpoint()

    val stream = MemoryStream[CcnetDoc]
    val streamed = collection.mutable.Map[Long, String]()
    val query = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val scored = LmScore.scoredMicroAgainstW(Text.wordsTable(batch.toDF(), Seq("lang")),
            modelFixed, totalsFixed, V, carry = Seq("lang"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("avg_micro6").as("am"))
        streamed ++= LmScore.ccnetAssign(scored, cuts)
          .select("doc_id", "bucket").as[(Long, String)].collect()
        ()
      }
      .start()
    try {
      // arrivals split unaligned with doc ids
      corpus.grouped(23).foreach { g =>
        stream.addData(g)
        query.processAllAvailable()
      }
    } finally query.stop()

    assert(streamed.toMap == batchBuckets,
      "fixed model + cutoffs must make streamed buckets equal the batch assignment")
  }
}
