package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.{Classifier, Dedup, LmScore, Quality}

/** The shared-words-pass contract (r18, VERDICT r17 item 2): every
  * `*W` operator face over a precomputed `Text.wordsTable` must be
  * ROW-IDENTICAL to its text face — the whole point of sharing one
  * tokenization across a pipeline is that no consumer's alphabet can
  * drift. Edge inputs include NULL text (words array NULL), empty and
  * whitespace-only documents (normText "", words [""]), mixed
  * whitespace runs, and non-alphabet word forms.
  *
  * The Dedup and LmScore faces have only the `*W` form: a case named
  * "xW == x" checks that the face over a words table carrying extra
  * columns equals it over the bare `Text.wordsTable(docs)`, the text
  * face's former body.
  */
class SharedWordsSpec extends SparkSpec {

  private def corpus: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "s1", "en", "the cat sat on the mat the cat sat on the mat again"),
      (2L, "s1", "en", ""),
      (3L, "s2", "en", "   "),
      (4L, "s2", "de", "x y!  z\tx y! z  x y! z x y z w q r s t u v"),
      (5L, "s1", "en", null.asInstanceOf[String]),
      (6L, "s2", "en", "The CAT sat ON the mat the cat sat on the mat again"),
      (7L, "s1", "de", "alpha beta gamma delta epsilon zeta eta theta iota"),
      (8L, "s2", "de", "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "source", "lang", "text")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType)), s"$what: schema drift")
    assert(sortedRows(a) == sortedRows(b), s"$what: row drift")
  }

  private def dw = Text.wordsTable(corpus, carry = Seq("source", "lang"))

  test("Quality.scoreW == Quality.score (incl. NULL/empty/whitespace docs)") {
    assertSame(Quality.score(corpus), Quality.scoreW(dw), "quality")
  }

  test("Dedup.minhashSignaturesW == minhashSignatures") {
    assertSame(Dedup.minhashSignaturesW(Text.wordsTable(corpus)), Dedup.minhashSignaturesW(dw),
      "minhash signatures")
  }

  test("Dedup.minhashCandidatesW == minhashCandidates") {
    assertSame(Dedup.minhashCandidatesW(Text.wordsTable(corpus)), Dedup.minhashCandidatesW(dw),
      "minhash candidates")
  }

  test("Dedup.jaccardPairsW == jaccardPairs") {
    assertSame(Dedup.jaccardPairsW(Text.wordsTable(corpus), threshold = 0.3),
      Dedup.jaccardPairsW(dw, threshold = 0.3), "jaccard pairs")
  }

  test("Dedup.keepBestW == keepBest on the same pair table") {
    val pairs = Dedup.minhashCandidatesW(Text.wordsTable(corpus))
    assertSame(Dedup.keepBest(corpus, pairs), Dedup.keepBestW(dw, pairs),
      "keep-best")
  }

  test("Classifier.trainScoreW == trainScore") {
    val pred = col("source") === "s1"
    assertSame(Classifier.trainScore(corpus, pred, minDf = 2),
      Classifier.trainScoreW(dw, pred, minDf = 2), "classifier train+score")
  }

  test("LmScore.scoredMicroW == scoredMicro (lang carried)") {
    assertSame(
      LmScore.scoredMicroW(Text.wordsTable(corpus, Seq("lang")), v = 16, carry = Seq("lang")),
      LmScore.scoredMicroW(dw, v = 16, carry = Seq("lang")), "lm scored")
  }

  test("LmScore.ccnetBucketsW == ccnetBuckets") {
    val persisted = dw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try assertSame(LmScore.ccnetBuckets(corpus, v = 16),
      LmScore.ccnetBucketsW(persisted, v = 16), "ccnet buckets")
    finally persisted.unpersist(blocking = true)
  }

  test("Text.alphabetWordsW == alphabetWords") {
    assertSame(
      Text.alphabetWords(corpus, Seq(col("doc_id"))),
      Text.alphabetWordsW(Text.wordsTable(corpus), Seq(col("doc_id"))),
      "alphabet words")
  }

  test("normText is exactly recoverable from the words array") {
    // the Quality.scoreW premise: concat_ws(' ', words(text)) ==
    // normText(text) for non-null text, NULL words array for NULL text
    val both = corpus.select(
      Text.normText(col("text")).as("n"),
      when(Text.words(col("text")).isNull, lit(null).cast("string"))
        .otherwise(concat_ws(" ", Text.words(col("text")))).as("r"))
    assert(both.filter(!(col("n") <=> col("r"))).count() == 0L)
  }
}
