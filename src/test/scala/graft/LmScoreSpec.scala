package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.LmScore

/** Laws of the corpus-statistical LM quality filter
  * (operators/LmScore.scala):
  *  - fluent (in-vocabulary) docs outscore gibberish;
  *  - the score matches a serial recomputation exactly (all-integer
  *    arithmetic — no tolerance needed);
  *  - OOV fraction is exact.
  */
class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("gibberish scores below fluent text; oov_frac exact") {
    val fluent = (1L to 50L).map(i => (i, "the cat sat on the mat and the dog ran"))
    val gibberish = Seq((99L, "zqx vbn wpl kjh zqx mno qrs tuv wxy zab"))
    val df = LmScore.score((fluent ++ gibberish).toDF("doc_id", "text"), v = 8, threshold = -5.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("avg_logp"), r.getAs[Double]("oov_frac"), r.getAs[Boolean]("keep"))).toMap
    val (fluentScore, fluentOov, fluentKeep) = df(1L)
    val (gibScore, gibOov, _) = df(99L)
    assert(fluentScore > gibScore, s"fluent $fluentScore !> gibberish $gibScore")
    assert(fluentOov == 0.0 && fluentKeep, "fluent doc should be fully in-vocab and kept")
    // gibberish: 10 tokens, every distinct token appears once; the 8-term
    // model is dominated by the 50x-repeated fluent vocabulary
    assert(gibOov > 0.8, s"gibberish should be mostly OOV: $gibOov")
  }

  test("zero-token docs appear in the output with keep=false, null scores") {
    val df = LmScore.score(
        Seq((1L, "a a b"), (2L, ""), (3L, "   ")).toDF("doc_id", "text"),
        v = 2, threshold = -2.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(df.keySet == Set(1L, 2L, 3L), "empty docs must not be dropped")
    for (id <- Seq(2L, 3L)) {
      val r = df(id)
      assert(r.getAs[Long]("n_tokens") == 0L, s"doc $id n_tokens")
      assert(r.isNullAt(r.fieldIndex("oov_frac")), s"doc $id oov_frac should be null")
      assert(r.isNullAt(r.fieldIndex("avg_logp")), s"doc $id avg_logp should be null")
      assert(!r.getAs[Boolean]("keep"), s"doc $id must be keep=false")
    }
    assert(df(1L).getAs[Boolean]("keep"), "non-empty in-vocab doc still kept")
  }

  test("ccnet buckets: per-language terciles, best scores to head") {
    // 9 docs, score strictly decreasing as the gibberish tail grows
    // (each zq* token is OOV under v=5): ranks 1-3 head, 4-6 middle,
    // 7-9 tail
    val docs = (1 to 9).map { i =>
      val gib = (1 to i).map(j => s"zq${i}x$j").mkString(" ")
      (i.toLong, "xx", s"the cat sat on the mat $gib")
    }.toDF("doc_id", "lang", "text")
    val out = LmScore.ccnetBuckets(docs, v = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("bucket"), r.getAs[Double]("avg_logp"))).toMap
    assert(out.size == 9)
    assert((1 to 3).forall(i => out(i.toLong)._1 == "head"), out.toString)
    assert((4 to 6).forall(i => out(i.toLong)._1 == "middle"), out.toString)
    assert((7 to 9).forall(i => out(i.toLong)._1 == "tail"), out.toString)
    // assignment is monotone in score by construction — spot-check it
    assert(out(1L)._2 > out(9L)._2)
  }

  test("ccnet buckets: boundary ties go to the better bucket; empty docs to tail") {
    // six identical docs share one score == both cutoffs -> all head
    val same = (1 to 6).map(i => (i.toLong, "xx", "the cat sat on the mat"))
    val docs = (same :+ ((99L, "xx", ""))).toDF("doc_id", "lang", "text")
    val out = LmScore.ccnetBuckets(docs, v = 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert((1 to 6).forall(i => out(i.toLong) == "head"), out.toString)
    assert(out(99L) == "tail", "zero-token doc must bucket tail, never drop")
  }

  test("a language of ONLY zero-token docs buckets tail, never crashes or drops") {
    // such a language is legitimately absent from the cutoff fit (the
    // sample excludes unscoreable docs) — the tail contract must win
    // over the missing-calibration loud failure
    val docs = Seq(
      (1L, "xx", "the cat sat on the mat"),
      (2L, "xx", "the cat ran over the mat"),
      (9L, "zz", ""), (10L, "zz", "   ")
    ).toDF("doc_id", "lang", "text")
    val out = LmScore.ccnetBuckets(docs, v = 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert(out.keySet == Set(1L, 2L, 9L, 10L), s"no doc may drop: ${out.keySet}")
    assert(out(9L) == "tail" && out(10L) == "tail", out.toString)
  }

  test("ccnet assignment fails loudly for a language missing from the cutoffs") {
    def scored(rows: Seq[(Long, String, String)]) =
      LmScore.scoredMicroW(Text.wordsTable(rows.toDF("doc_id", "lang", "text"), Seq("lang")),
          v = 5, carry = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("avg_micro6").as("am"))
    val cuts = LmScore.ccnetCutoffs(
      scored(Seq((1L, "xx", "the cat sat"), (2L, "xx", "the cat ran"))))
    val e = intercept[Exception] {
      LmScore.ccnetAssign(
        scored(Seq((3L, "yy", "the cat sat"))), cuts).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(msgs(e).exists(_.contains("missing from the calibrated cutoff table")),
      msgs(e).mkString(" | "))
  }

  test("ccnet sampled calibration assigns every doc, monotone per language") {
    val docs = (1 to 40).map { i =>
      val gib = (1 to i).map(j => s"g${i}q$j").mkString(" ")
      (i.toLong, if (i % 2 == 0) "aa" else "bb", s"the cat sat on the mat $gib")
    }.toDF("doc_id", "lang", "text")
    val out = LmScore.ccnetBuckets(docs, v = 5, sampleBuckets = 128).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("avg_logp"),
        r.getAs[String]("bucket")))
    assert(out.length == 40, "sampled calibration must still assign everyone")
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    for (lang <- Seq("aa", "bb")) {
      val per = out.filter(_._1 == lang).sortBy(-_._2)
      // bucket rank never improves as score falls
      assert(per.sliding(2).forall {
        case Array(a, b) => rank(a._3) <= rank(b._3); case _ => true
      }, per.mkString(","))
    }
  }

  test("score equals the serial all-integer recomputation") {
    val corpus = Seq((1L, "a a a b b c"), (2L, "a b x"), (3L, "c c a"))
    val v = 2 // model = {a (5), b (3)}; c and x are OOV
    val got = LmScore.score(corpus.toDF("doc_id", "text"), v = v, threshold = -2.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("oov_frac"), r.getAs[Double]("avg_logp"))).toMap
    // serial: N = 12 tokens, denom = N + v + 1 = 15
    val counts = Map("a" -> 5L, "b" -> 3L)
    def lnpMicro(c: Long) = math.floor(math.log((c + 1).toDouble / 15.0) * 1e6).toLong
    val oovMicro = lnpMicro(0)
    for ((id, text) <- corpus) {
      val toks = text.split(" ").toSeq
      val n = toks.size.toLong
      val sumMicro = toks.groupBy(identity).map { case (t, ts) =>
        ts.size.toLong * counts.get(t).map(lnpMicro).getOrElse(oovMicro)
      }.sum
      val oovToks = toks.count(t => !counts.contains(t)).toLong
      val expOov = ((2 * oovToks * 1000000 + n) / (2 * n)).toDouble / 1e6
      val expAvg = -(((2 * -sumMicro + n) / (2 * n)).toDouble) / 1e6
      val (gn, goov, gavg) = got(id)
      assert(gn == n && goov == expOov && gavg == expAvg,
        s"doc $id: got ($gn,$goov,$gavg) want ($n,$expOov,$expAvg)")
    }
  }
}
