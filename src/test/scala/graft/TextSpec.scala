package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

/** Text-analysis invariants (the value-level gate is the DuckDB oracle). */
class TextSpec extends SparkSpec {

  test("normalization collapses case and whitespace") {
    import spark.implicits._
    val out = Seq("  Hello   WORLD  ").toDF("text")
      .select(Text.normText(col("text")).as("n")).head().getString(0)
    assert(out == "hello world")
  }

  test("chunkWords: window algebra — clamping, overlap, full coverage") {
    import spark.implicits._
    def chunksOf(nWords: Int, w: Int, s: Int): Seq[(Int, Int, Int, String)] =
      Seq((1 to nWords).map(i => s"w$i").mkString(" ")).toDF("text")
        .select(explode(Text.chunkWords(Text.words(col("text")), w, s)).as("c"))
        .select("c.chunk_id", "c.start_word", "c.n_words", "c.chunk")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .toSeq
    // shorter than the window: one clamped chunk
    assert(chunksOf(3, 5, 3) == Seq((0, 1, 3, "w1 w2 w3")))
    // exactly the window: still one chunk
    assert(chunksOf(5, 5, 3).map(c => (c._1, c._2, c._3)) == Seq((0, 1, 5)))
    // one word over: second chunk starts at the stride, clamps to 3
    assert(chunksOf(6, 5, 3).map(c => (c._1, c._2, c._3)) ==
      Seq((0, 1, 5), (1, 4, 3)))
    // overlap = width - stride: chunk k starts at k*stride + 1, every
    // word is covered, and consecutive chunks share width-stride words
    val cs = chunksOf(20, 8, 5)
    assert(cs.map(_._2) == Seq(1, 6, 11, 16))
    assert(cs.init.forall(_._3 == 8) && cs.last._3 == 5)
    val covered = cs.flatMap(c => c._2 until c._2 + c._3).toSet
    assert(covered == (1 to 20).toSet)
    // invalid strides fail loudly
    intercept[IllegalArgumentException] { Text.chunkWords(col("w"), 4, 5) }
    intercept[IllegalArgumentException] { Text.chunkWords(col("w"), 4, 0) }
  }

  test("corpusDiff: added/removed/changed/unchanged with a NULL source group") {
    import spark.implicits._
    val old = Seq(
      (1L, Some("web"), "alpha beta"),      // unchanged
      (2L, Some("web"), "gamma delta"),     // changed (content)
      (3L, Some("lib"), "kept words here"), // removed
      (5L, None: Option[String], "null src stays") // unchanged, NULL source
    ).toDF("doc_id", "source", "text")
    val neu = Seq(
      (1L, Some("web"), "Alpha   BETA"),    // normalized-equal: NOT a change
      (2L, Some("web"), "gamma delta epsilon"),
      (4L, Some("new"), "fresh arrival"),   // added
      (5L, None: Option[String], "null src stays")
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.Report.corpusDiff(old, neu).collect()
      .map(r => (Option(r.getString(0)),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(Some("web")) == ((0L, 0L, 1L, 1L, 1L)), out(Some("web")))
    assert(out(Some("lib")) == ((0L, 1L, 0L, 0L, -3L)), out(Some("lib")))
    assert(out(Some("new")) == ((1L, 0L, 0L, 0L, 2L)), out(Some("new")))
    assert(out(None) == ((0L, 0L, 0L, 1L, 0L)), out(None))
  }

  test("corpusDiff: presence-based attribution and null-safe content compare") {
    import spark.implicits._
    // doc 1: present in BOTH, source legitimately became NULL in the
    // new snapshot -> attributed to the NEW (NULL) source, not the old
    // (the __has_new presence marker, not coalesce-on-nullness);
    // doc 2: NULL text on both sides (md5 null) -> UNCHANGED, so
    // per-source counts still sum to the join row count
    val old = Seq(
      (1L, Some("web"), Some("same words")),
      (2L, Some("web"), None: Option[String])
    ).toDF("doc_id", "source", "text")
    val neu = Seq(
      (1L, None: Option[String], Some("same words")),
      (2L, Some("web"), None: Option[String])
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.Report.corpusDiff(old, neu).collect()
      .map(r => (Option(r.getString(0)),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(None) == ((0L, 0L, 0L, 1L)), out.toString)   // doc 1
    assert(out(Some("web")) == ((0L, 0L, 0L, 1L)), out.toString) // doc 2
    assert(out.values.map(t => t._1 + t._2 + t._3 + t._4).sum == 2L)
  }

  test("shingles: n words yield n-2 trigrams in order") {
    import spark.implicits._
    val out = Seq("a b c d").toDF("text")
      .select(Text.words(col("text")).as("w"))
      .select(expr(Text.shinglesSql("w")).as("s")).head().getSeq[String](0)
    assert(out == Seq("a b c", "b c d"))
  }

  test("fingerprint is deterministic and content-sensitive") {
    import spark.implicits._
    val fps = Seq("a b c", "a b c", "a b d").toDF("text")
      .select(Text.words(col("text")).as("w"))
      .select(Text.fingerprint("w").as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("vocabHits counts with repetition") {
    import spark.implicits._
    val n = Seq("the cat the hat").toDF("text")
      .select(Text.words(col("text")).as("w"))
      .select(Text.vocabHits("w", Seq("the", "a")).as("h")).head().getInt(0)
    assert(n == 2)
  }

  test("word_stem edge cases: short words, case folding, non-alpha") {
    import graft.plans.WordStem
    assert(WordStem.stem("") == "")
    assert(WordStem.stem("a") == "a")
    assert(WordStem.stem("by") == "by")
    assert(WordStem.stem("sky") == "sky") // no vowel before y → 1c inert
    // the expression lowercases before stemming
    import spark.implicits._
    val out = Seq("Caresses", "AGREED").toDF("word")
      .select(graft.plans.NativeFunctions.wordStem(col("word")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("caress", "agre"))
  }

  test("word_stem stays codegen'd over the corpus word stream") {
    val df = Tables.documents(spark, sfDir)
      .select(explode(Text.words(col("text"))).as("w"))
      .select(graft.plans.NativeFunctions.wordStem(col("w")).as("stem"))
      .groupBy(col("stem")).count()
    val n = df.collect().length
    assert(n > 0 && n <= 100000)
    // hot path inlines into WholeStageCodegen (doGenCode, no fallback);
    // codegen spans print as "*(id) Op" only in the executed final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(500))
    // stems are never longer than their source words
    val bad = Tables.documents(spark, sfDir)
      .select(explode(Text.words(col("text"))).as("w"))
      .select(col("w"), graft.plans.NativeFunctions.wordStem(col("w")).as("s"))
      .filter(length(col("s")) > length(col("w"))).count()
    assert(bad == 0)
  }
}
