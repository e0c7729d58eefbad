package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Bpe, Components, Dedup}

/** Streaming faces of the curation reports (q204/q205/q206): each
  * ingestion keeps corpus-THIN accumulated state (meta projections,
  * near-dup pairs from the minhashCandidatesAgainst loop, per-(lang,
  * word) usage) and the report finalizes from state only — streamed
  * output must equal the batch face EXACTLY (integer tallies, order-
  * free merges, one rounded division per ratio).
  */
case class CurDoc(doc_id: Long, text: String, source: String, lang: String,
                  ts: Timestamp)

class StreamingCurationSpec extends SparkSpec {

  private val pad = " the of and is to in common words extend the document body"
  private val corpus: Seq[(Long, String, String, String)] = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta" + pad, "web", "en"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta" + pad, "wiki", "en"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta" + pad + " x", "web", "en"),
    (4L, "one two three four five six seven eight" + pad, "books", "de"),
    (5L, "one two three four five six seven eight" + pad, "books", "de"),
    (6L, "totally unrelated content about catalyst plans" + pad, "web", "en"),
    (7L, "other unrelated content about shuffle exchanges" + pad, "wiki", "fr"))

  private def corpusDf = {
    import spark.implicits._
    corpus.toDF("doc_id", "text", "source", "lang")
  }

  /** The StreamingDedupSpec accumulation loop: per batch, merge the
    * batch's bands into the index FIRST (so within-batch pairs
    * surface), then collect candidates (self-matches dropped, pair
    * normalized a < b) into the accumulated pair set. Returns the
    * accumulated (doc_a, doc_b, est_jaccard) rows after all batches.
    */
  private def streamPairs(batches: Seq[Seq[CurDoc]]): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CurDoc]
    var index: DataFrame = Dedup.minhashBands(
      Dedup.minhashSignaturesW(Text.wordsTable(Seq.empty[(Long, String)].toDF("doc_id", "text"))))
    val pairs = collection.mutable.Map[(Long, Long), Double]()
    val query = stream.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val docs = b.select("doc_id", "text")
        index = index.unionByName(
          Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(docs)))).localCheckpoint()
        pairs ++= Dedup.minhashCandidatesAgainst(docs, index)
          .filter(col("new_id") =!= col("old_id")).collect()
          .map(r => (math.min(r.getLong(0), r.getLong(1)),
            math.max(r.getLong(0), r.getLong(1))) -> r.getDouble(2))
        ()
      }
      .start()
    try {
      batches.foreach { g => stream.addData(g); query.processAllAvailable() }
    } finally query.stop()
    pairs.toSeq.map { case ((a, b), e) => (a, b, e) }
  }

  private def inBatches: Seq[Seq[CurDoc]] = {
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    corpus.map { case (id, tx, src, lg) => CurDoc(id, tx, src, lg, t0) }
      .grouped(3).toSeq
  }

  test("streaming dedup savings == batch savingsBySource on monotone arrivals") {
    import spark.implicits._
    val batchOut = Components.savingsBySource(corpusDf,
        Dedup.minhashCandidatesW(Text.wordsTable(corpusDf)).select(col("doc_a"), col("doc_b")))
      .collect().map(_.toSeq).toSet
    assert(batchOut.exists(_(2).asInstanceOf[Long] > 0),
      "corpus must produce removable dups for this test to mean anything")

    // accumulated thin state: meta unioned per batch; pairs from the loop
    val accMeta = inBatches.map(g =>
        g.map(d => (d.doc_id, d.text, d.source)).toDF("doc_id", "text", "source")
          .select(col("doc_id"), col("source"),
            expr("cast(size(split(trim(text), '\\\\s+')) as bigint)").as("toks")))
      .reduce(_ unionByName _).localCheckpoint()
    val accPairs = streamPairs(inBatches)
      .map { case (a, b, _) => (a, b) }.toDF("doc_a", "doc_b")
    val streamed = Components.savingsFromState(accMeta, accPairs)
      .collect().map(_.toSeq).toSet
    assert(streamed == batchOut, s"stream $streamed != batch $batchOut")
  }

  test("streaming source leakage == batch crossSourceLeakage") {
    import spark.implicits._
    val batchOut = Dedup.crossSourceLeakage(corpusDf)
      .collect().map(_.toSeq).toSet
    assert(batchOut.nonEmpty)
    val accMeta = corpusDf.select(col("doc_id"), col("source")).localCheckpoint()
    val accPairs = streamPairs(inBatches).toDF("doc_a", "doc_b", "est_jaccard")
    val streamed = Dedup.leakageFromState(accMeta, accPairs)
      .collect().map(_.toSeq).toSet
    assert(streamed == batchOut, s"stream $streamed != batch $batchOut")
  }

  test("streaming fertility: merged usage state == batch fertilityByLang") {
    val merges = Seq(("t", "h"), ("a", "l"))
    val batchOut = Bpe.fertilityByLang(corpusDf, merges)
      .collect().map(_.toSeq).toSet
    assert(batchOut.nonEmpty)
    import spark.implicits._
    var acc = Seq.empty[(String, String, Long)].toDF("lang", "word", "cw")
    inBatches.foreach { g =>
      val b = g.map(d => (d.doc_id, d.text, d.lang)).toDF("doc_id", "text", "lang")
      acc = Bpe.mergeUsage(acc, Bpe.usageByLang(b)).localCheckpoint()
    }
    val streamed = Bpe.fertilityFromUsage(acc, merges)
      .collect().map(_.toSeq).toSet
    assert(streamed == batchOut, s"stream $streamed != batch $batchOut")
  }

  test("streaming classifier: frozen weights over foreachBatch == whole-corpus scores") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val fitted = graft.operators.Classifier.fitOdds(corpusDf,
      col("source") === "web").localCheckpoint()
    val whole = graft.operators.Classifier.scoreAgainst(corpusDf, fitted)
      .collect().map(_.toSeq).toSet
    assert(whole.nonEmpty)
    val stream = MemoryStream[CurDoc]
    val acc = collection.mutable.Set[Seq[Any]]()
    val query = stream.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc ++= graft.operators.Classifier
          .scoreAgainst(b.select("doc_id", "text"), fitted)
          .collect().map(_.toSeq)
        ()
      }
      .start()
    try {
      inBatches.foreach { g => stream.addData(g); query.processAllAvailable() }
    } finally query.stop()
    assert(acc.toSet == whole, s"stream ${acc.toSet} != batch $whole")
  }

  test("savingsFromState aggregates a legitimate NULL source, not a crash") {
    // r15 (ADVICE r14): row PRESENCE is detected via the __has_meta
    // marker, so a meta row whose source COLUMN is null lands in the
    // NULL source group instead of tripping the missing-row contract
    import spark.implicits._
    val meta = Seq((1L, Some("web"), 5L), (2L, None, 7L), (3L, None, 3L))
      .toDF("doc_id", "source", "toks")
    val edges = Seq((2L, 3L)).toDF("doc_a", "doc_b")
    val out = Components.savingsFromState(meta, edges).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(4))).toSet
    assert(out == Set((Some("web"), 1L, 5L), (None, 2L, 10L)), out)
  }

  test("leakageFromState tolerates a NULL source on a present meta row") {
    import spark.implicits._
    val meta = Seq((1L, Some("web")), (2L, None)).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L, 0.5)).toDF("doc_a", "doc_b", "est_jaccard")
    // least/greatest skip NULL (both engines), so the pair attributes
    // to the (web, web) degenerate cell rather than crashing
    val out = Dedup.leakageFromState(meta, pairs).collect()
    assert(out.length == 1 && out.head.getLong(2) == 1L)
  }

  test("roiSweep rejects an empty threshold sweep with a contract error") {
    import spark.implicits._
    val meta = Seq((1L, 5L)).toDF("doc_id", "toks")
    val pairs = Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "est_jaccard")
    val e = intercept[IllegalArgumentException] {
      Components.roiSweep(meta, pairs, Seq.empty)
    }
    assert(e.getMessage.contains("thresholds must be non-empty"))
  }

  test("leakageFromState fails loudly on a pair endpoint missing from meta") {
    import spark.implicits._
    val meta = Seq((1L, "web")).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "est_jaccard")
    val e = intercept[Exception] {
      Dedup.leakageFromState(meta, pairs).collect()
    }
    assert(e.getMessage.contains("no accumulated")
      || Option(e.getCause).exists(_.getMessage.contains("no accumulated")),
      e.getMessage)
  }

  test("roiSweep fails loudly on a removed member missing from meta") {
    import spark.implicits._
    val meta = Seq((1L, 5L)).toDF("doc_id", "toks")
    val pairs = Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "est_jaccard")
    val e = intercept[Exception] {
      Components.roiSweep(meta, pairs, Seq(0.5)).collect()
    }
    assert(e.getMessage.contains("no accumulated")
      || Option(e.getCause).exists(_.getMessage.contains("no accumulated")),
      e.getMessage)
  }

  test("savingsFromState fails loudly on a cluster member missing from meta") {
    import spark.implicits._
    val meta = Seq((1L, "web", 5L)).toDF("doc_id", "source", "toks")
    val edges = Seq((1L, 2L)).toDF("doc_a", "doc_b") // doc 2 has no meta
    val e = intercept[Exception] {
      Components.savingsFromState(meta, edges).collect()
    }
    assert(e.getMessage.contains("no accumulated")
      || Option(e.getCause).exists(_.getMessage.contains("no accumulated")),
      e.getMessage)
  }
}
