package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** Streaming BPE application (the tokenizer family's ingestion face):
  * documents arrive as a stream; each micro-batch is tokenized against
  * the FIXED trained merge list (training predates the stream — the
  * deployment posture) and its token counts merge into a running
  * frequency table via foreachBatch. Token counting is an associative
  * sum, so batch boundaries cannot change the totals: stream == batch
  * exactly, asserted here. The running table is token-vocabulary-sized
  * — the live "tokens ingested per subword" telemetry of a corpus
  * build.
  */
class StreamingBpeSpec extends SparkSpec {

  test("stream == batch: token frequencies accumulate exactly across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val all = Tables.documents(spark, sfDir).orderBy("doc_id").limit(30)
      .select("doc_id", "text").as[(Long, String)].collect()
    val corpus = all.toSeq.toDF("doc_id", "text")
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")

    // train once, before the stream — the fixed deployment artifact
    val merges = BpeOracles.trainMerges(corpus, rounds = 4).orderBy("round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val batchFreq = Bpe.encodeTokenFreqWf(Bpe.wordFreq(corpus), merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    var acc: DataFrame = Seq.empty[(String, Long)].toDF("token", "freq")
    val stream = MemoryStream[Doc]
    val query = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val counts = Bpe.encodeTokenFreqWf(Bpe.wordFreq(batch.select("doc_id", "text")), merges)
        acc = Bpe.mergeTokenFreq(acc, counts).localCheckpoint()
        ()
      }.start()
    try {
      all.grouped(10).foreach { b =>
        stream.addData(b.map { case (id, tx) => Doc(id, tx, t0) })
        query.processAllAvailable()
      }
    } finally query.stop()

    val streamFreq = acc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamFreq == batchFreq,
      s"diverging tokens: ${(streamFreq.keySet ++ batchFreq.keySet)
        .filter(k => streamFreq.get(k) != batchFreq.get(k)).take(5)}")
  }
}
