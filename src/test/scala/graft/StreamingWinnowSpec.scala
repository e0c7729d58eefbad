package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Winnow

/** Continuous-ingestion duplicated-span detection: each micro-batch's
  * winnowing fingerprints are probed against the ACCUMULATED index
  * (Winnow.spansAgainstFp), then folded into it via foreachBatch — the
  * streaming face of q161, mirroring StreamingDedupSpec's minhash loop
  * (index a persisted/bucketed table at scale, batch side the only
  * shuffle).
  */
class StreamingWinnowSpec extends SparkSpec {

  private val K = 5
  private val W = 8

  private def randWords(rnd: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(s"t${rnd.nextInt(1000000)}x${rnd.nextInt(1000000)}")

  test("foreachBatch incremental winnow flags cross-batch duplicated spans") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val rnd = new scala.util.Random(42)
    val span = randWords(rnd, W + K - 1) // exactly the guarantee length
    val doc1 = (randWords(rnd, 17) ++ span ++ randWords(rnd, 25)).mkString(" ")
    val doc2 = (randWords(rnd, 33) ++ span ++ randWords(rnd, 20)).mkString(" ")
    val noise1 = randWords(rnd, 60).mkString(" ")
    val noise2 = randWords(rnd, 60).mkString(" ")
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")

    val stream = MemoryStream[Doc]
    var index: DataFrame = Winnow.fingerprints(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), K, W)
    val hits = collection.mutable.Set[(Long, Long)]()

    val query = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val docs = batch.select("doc_id", "text")
        hits ++= Winnow.spansAgainstFp(Winnow.fingerprints(docs, K, W), index)
          .select("new_id", "old_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        index = index.unionByName(Winnow.fingerprints(docs, K, W)).localCheckpoint()
        ()
      }
      .start()
    try {
      stream.addData(Seq(Doc(1, doc1, t0), Doc(2, noise1, t0)))
      query.processAllAvailable()
      assert(hits.isEmpty, s"no dup should be flagged in batch 1: $hits")
      stream.addData(Seq(Doc(3, doc2, t0), Doc(4, noise2, t0)))
      query.processAllAvailable()
      // doc 3 shares the planted span with batch-1's doc 1, nothing else
      assert(hits.contains((3L, 1L)), s"cross-batch span not detected: $hits")
      assert(hits.forall(h => h == ((3L, 1L))), s"false pairs: $hits")
    } finally query.stop()
  }

  test("spansAgainst df-cap drops index-wide boilerplate fingerprints") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val boiler = randWords(rnd, W + K - 1)
    // boilerplate span appears in MANY indexed docs → its fingerprints
    // exceed maxDf and must not produce pairs; a unique span must.
    val uniq = randWords(rnd, W + K - 1)
    val indexed = (1 to 12).map(i =>
      (i.toLong, (randWords(rnd, 10) ++ boiler ++ randWords(rnd, 10)).mkString(" "))) :+
      (50L, (randWords(rnd, 10) ++ uniq ++ randWords(rnd, 10)).mkString(" "))
    val index = Winnow.fingerprints(indexed.toDF("doc_id", "text"), K, W)
    val newDocs = Seq(
      (100L, (randWords(rnd, 8) ++ boiler ++ randWords(rnd, 8)).mkString(" ")),
      (101L, (randWords(rnd, 8) ++ uniq ++ randWords(rnd, 8)).mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Winnow.spansAgainstFp(Winnow.fingerprints(newDocs, K, W), index, maxDf = 5)
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((101L, 50L)),
      s"expected only the unique-span pair, got ${pairs.toSet}")
  }

  test("exciseAgainst cuts an arriving near-dup's span against the index, exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val span = randWords(rnd, 40)
    val oldDoc = (randWords(rnd, 12) ++ span ++ randWords(rnd, 10)).mkString(" ")
    val index = Winnow.fingerprints(
      Seq((1L, oldDoc), (2L, randWords(rnd, 60).mkString(" ")))
        .toDF("doc_id", "text"), K, W).localCheckpoint()
    val offN = rnd.nextInt(25)
    val nWords = randWords(rnd, offN) ++ span ++ randWords(rnd, 14)
    val newDocs = Seq((10L, nWords.mkString(" ")),
      (11L, randWords(rnd, 50).mkString(" "))).toDF("doc_id", "text")
    val out = Winnow.exciseAgainst(newDocs, index, K, W).collect()
    // only the arriving near-dup is cut — the indexed copy is untouched
    // by construction (the cut side is always the new document)
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L), s"got ${out.toSeq}")
    val r = out(0)
    assert(r.getAs[Long]("n_spans") == 1L)
    // the cut equals the detected extent verbatim: reconstruct it from
    // the batch spanExtents over {old, new} (same segmentation rules)
    val ext = Winnow.spanExtents(
      Seq((1L, oldDoc), (10L, nWords.mkString(" "))).toDF("doc_id", "text"),
      K, W).collect()
    assert(ext.length == 1)
    val (s0, e0) = (ext(0).getAs[Long]("start_b").toInt, ext(0).getAs[Long]("end_b").toInt)
    val expectClean = (nWords.take(s0) ++ nWords.drop(e0 + 1)).mkString(" ")
    assert(r.getAs[Long]("tokens_cut") == (e0 - s0 + 1).toLong)
    assert(r.getAs[String]("clean_text") == expectClean,
      "streamed cut must equal the batch extent cut")
  }

  test("exciseAgainst also cuts near-dups arriving WITHIN one batch (higher id loses)") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val span = randWords(rnd, 40)
    val wA = randWords(rnd, 9) ++ span ++ randWords(rnd, 11)
    val wB = randWords(rnd, 14) ++ span ++ randWords(rnd, 8)
    val emptyIndex = Winnow.fingerprints(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), K, W)
    val batch = Seq((5L, wA.mkString(" ")), (9L, wB.mkString(" ")),
      (6L, randWords(rnd, 50).mkString(" "))).toDF("doc_id", "text")
    val out = Winnow.exciseAgainst(batch, emptyIndex, K, W).collect()
    // nothing is indexed yet, so only the intra-batch pair cuts — and
    // only its higher id (the batch face's keep-earliest rule)
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(9L),
      s"expected only doc 9 cut within the batch, got ${out.toSeq}")
    // and it matches the batch exciseSpans over the same pair exactly
    val batchFace = Winnow.exciseSpans(
      Seq((5L, wA.mkString(" ")), (9L, wB.mkString(" "))).toDF("doc_id", "text"),
      K, W).collect()
    assert(batchFace.length == 1 && batchFace(0).getAs[Long]("doc_id") == 9L)
    assert(out(0).getAs[String]("clean_text") ==
      batchFace(0).getAs[String]("clean_text"),
      "within-batch cut must equal the batch face's cut")
  }

  test("shared-fp face: detect + cut consume ONE fingerprint pass per batch") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val span = randWords(rnd, 40)
    val oldDoc = (randWords(rnd, 12) ++ span ++ randWords(rnd, 10)).mkString(" ")
    val index = Winnow.fingerprints(
      Seq((1L, oldDoc), (2L, randWords(rnd, 60).mkString(" ")))
        .toDF("doc_id", "text"), K, W).localCheckpoint()
    val batchRows = Seq(
      (10L, (randWords(rnd, 7) ++ span ++ randWords(rnd, 9)).mkString(" ")),
      (11L, randWords(rnd, 50).mkString(" ")))
    // every text read increments the accumulator; asNondeterministic
    // stops projection collapse from duplicating the eval, so the count
    // is exactly (scans of the batch) × (batch rows)
    val reads = spark.sparkContext.longAccumulator("textReads")
    val counted = udf { (t: String) => reads.add(1); t }.asNondeterministic()
    val batch = batchRows.toDF("doc_id", "text")
      .withColumn("text", counted(col("text")))
    val fp = Winnow.fingerprints(batch, K, W)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fp.count()
    val detected = Winnow.spansAgainstFp(fp, index).select("new_id", "old_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cut = Winnow.exciseAgainstFp(batch, fp, index, K, W).collect()
    fp.unpersist(blocking = true)
    assert(detected.toSet == Set((10L, 1L)), s"detect: ${detected.toSeq}")
    assert(cut.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L), s"cut: ${cut.toSeq}")
    // one fingerprint pass (fp.count) + one cut-join scan of the batch:
    // detect and the cut's fingerprint side both read the fp cache
    assert(reads.value == 2L * batchRows.length,
      s"expected one fp pass + one cut scan (${2 * batchRows.length} reads), counted ${reads.value}")
    // and the shared face equals the self-deriving convenience face
    val conv = Winnow.exciseAgainst(batchRows.toDF("doc_id", "text"), index, K, W)
      .collect()
    assert(cut.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"))).toSeq ==
      conv.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"))).toSeq,
      "shared-fp face must equal exciseAgainst")
  }

  test("exciseAgainst df-cap: index-wide boilerplate is never cut, a unique span is") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val boiler = randWords(rnd, W + K - 1)
    val uniq = randWords(rnd, 40)
    // boilerplate appears in 10 indexed docs (> maxDf = 5); the unique
    // span in exactly one
    val indexed = (1L to 10L).map(i =>
      (i, (randWords(rnd, 5) ++ boiler ++ randWords(rnd, 5)).mkString(" "))) :+
      (50L, (randWords(rnd, 8) ++ uniq ++ randWords(rnd, 8)).mkString(" "))
    val index = Winnow.fingerprints(indexed.toDF("doc_id", "text"), K, W)
      .localCheckpoint()
    val nWords = randWords(rnd, 6) ++ boiler ++ randWords(rnd, 4) ++
      uniq ++ randWords(rnd, 6)
    val out = Winnow.exciseAgainst(
      Seq((101L, nWords.mkString(" "))).toDF("doc_id", "text"),
      index, K, W, maxDf = 5).collect()
    assert(out.length == 1 && out(0).getAs[Long]("doc_id") == 101L)
    val clean = out(0).getAs[String]("clean_text")
    // the boilerplate survives (its fingerprints are df-capped away);
    // the unique span's INTERIOR is cut — winnowing extents can leave
    // up to ~w tokens at each span edge (the documented resolution)
    assert(boiler.forall(clean.contains), s"boilerplate must survive the cap: $clean")
    val interior = uniq.drop(W).dropRight(W + K - 1)
    assert(interior.nonEmpty && !interior.exists(clean.contains),
      s"unique span interior must be cut: $clean")
  }
}
