package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

/** A reference user ports SQL text, not DataFrame programs: the same
  * queries must run as literal SQL through spark.sql() — including the
  * graft extension functions — and match the DataFrame formulations.
  */
class SqlSurfaceSpec extends SparkSpec {

  private def registerTables(): Unit =
    Seq("lineitem", "orders", "customer", "nation", "region").foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }

  test("TPC-H Q1 as literal SQL matches the DataFrame formulation") {
    registerTables()
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        | round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double), 2) AS sum_qty,
        | round(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double), 2) AS sum_base_price,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= timestamp '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    assert(sql.count() > 0)
    // shape check against the registered query (column subset)
    val df = queries.RelationalQueries.q02.fn(spark, sfDir)
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price", "count_order")
    assert(sql.collect().toSeq == df.collect().toSeq)
  }

  test("pipeline operators are callable from literal SQL as table functions, " +
      "equal to the DataFrame faces") {
    import graft.operators.{Dedup, Mix, Pack, Quality, Winnow}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.createOrReplaceTempView("sql_docs")
    // one implementation behind both faces: collect both sides sorted by
    // every column and compare row-for-row
    def pin(sql: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val got = spark.sql(sql)
      assert(got.columns.toSeq == df.columns.toSeq, s"$sql: column mismatch")
      val s1 = got.orderBy(got.columns.map(col): _*).collect().toSeq
      val s2 = df.orderBy(df.columns.map(col): _*).collect().toSeq
      assert(s1 == s2, s"$sql: ${s1.size} vs ${s2.size} rows")
      assert(s1.nonEmpty, s"$sql: empty result proves nothing")
    }
    pin("SELECT * FROM graft_dedup_exact('sql_docs')", Dedup.exactGroups(docs))
    pin("SELECT * FROM graft_jaccard_pairs('sql_docs', 0.5)",
      Dedup.jaccardPairsW(Text.wordsTable(docs), 0.5))
    pin("SELECT * FROM graft_minhash_pairs('sql_docs')",
      Dedup.minhashCandidatesW(Text.wordsTable(docs)))
    pin("SELECT * FROM graft_simhash_pairs('sql_docs', 3)",
      Dedup.simhashCandidates(docs))
    pin("SELECT * FROM graft_winnow_extents('sql_docs')", Winnow.spanExtents(docs))
    pin("SELECT * FROM graft_excise_spans('sql_docs')", Winnow.exciseSpans(docs))
    pin("SELECT * FROM graft_dedup_keep_best('sql_docs')",
      Dedup.keepBest(docs, Dedup.minhashCandidatesW(Text.wordsTable(docs))))
    pin("SELECT * FROM graft_mix_keep('sql_docs', 50000)", Mix.keep(docs, 50000L))
    pin("SELECT * FROM graft_mix_keep_temperature('sql_docs', 50000)",
      Mix.keepTemperature(docs, 50000L))
    pin("SELECT * FROM graft_mix_report('sql_docs', 50000)",
      Mix.report(docs, 50000L))
    pin("SELECT * FROM graft_pack('sql_docs', 128)",
      Pack.packSequences(docs, 128))
    pin("SELECT * FROM graft_shard_manifest('sql_docs', 128, 4)",
      Pack.shardManifest(docs, 128, 4))
    pin("SELECT * FROM graft_quality('sql_docs')", Quality.score(docs))
    pin("SELECT * FROM graft_ccnet_buckets('sql_docs', 16)",
      graft.operators.LmScore.ccnetBuckets(docs, v = 16))
    pin("SELECT * FROM graft_corpus_report('sql_docs')",
      graft.operators.Report.card(
        graft.operators.Report.thin(docs).localCheckpoint()))
    // two-table deployment faces: batch vs corpus/index, from SQL
    import graft.operators.{Ann, Winnow}
    val batch = docs.filter(col("doc_id") % 7 === 0)
    batch.createOrReplaceTempView("sql_batch")
    pin("SELECT * FROM graft_minhash_against('sql_batch', 'sql_docs')",
      Dedup.minhashCandidatesAgainst(batch,
        Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(docs)))))
    pin("SELECT * FROM graft_mix_keep_against('sql_batch', 'sql_docs', 50000)",
      Mix.keepAgainst(batch, Mix.availability(Mix.counted(docs), 50000L)))
    pin("SELECT * FROM graft_excise_against('sql_batch', 'sql_docs')",
      Winnow.exciseAgainst(batch, Winnow.fingerprints(docs)))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    embs.createOrReplaceTempView("sql_embs")
    embs.filter(col("vec_id") < 5).createOrReplaceTempView("sql_queries")
    pin("SELECT * FROM graft_knn('sql_embs', 'sql_queries', 3)",
      Ann.bruteKnn(embs, embs.filter(col("vec_id") < 5), k = 3))
    pin("SELECT * FROM graft_contrastive_pairs('sql_embs', 'sql_queries', 3)",
      Ann.contrastivePairs(embs, embs.filter(col("vec_id") < 5), k = 3))
    // r14: the last Scala-only pipeline entry points (r13 VERDICT item 5)
    pin("SELECT * FROM graft_dsir('sql_docs', 'lang = ''en''', 1024, 20)",
      graft.operators.Dsir.importanceTopK(docs, col("lang") === "en",
        b = 1024, k = 20))
    pin("SELECT * FROM graft_weighted_sample('sql_docs', 25)",
      graft.operators.WeightedSample.topK(docs, k = 25))
    pin("SELECT * FROM graft_domain_quota('sql_docs', 'source', 'doc_id', 5)",
      graft.operators.Quota.perDomain(docs, "source", "doc_id", k = 5))
    // planted twins (the q176 oracle discipline): sf0.001's max natural
    // pair cosine is 0.48, so exact copies are the only pairs ≥ 0.9
    val embsTwins = embs.unionByName(embs.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    embsTwins.createOrReplaceTempView("sql_embs_twins")
    pin("SELECT * FROM graft_semdedup_pairs('sql_embs_twins', 0.9, 8)",
      graft.operators.SemDedup.dupPairs(embsTwins, threshold = 0.9, c = 8))
    pin("SELECT * FROM graft_nsw_knn('sql_embs', 'sql_queries', 3)",
      graft.operators.Ann.nswKnnLsh(embs, embs.filter(col("vec_id") < 5), k = 3))
    val merges = graft.operators.Bpe.trainMergesBatched(docs, rounds = 4)
    merges.createOrReplaceTempView("sql_merges")
    pin("SELECT * FROM graft_bpe_train('sql_docs', 4)", merges)
    pin("SELECT * FROM graft_bpe_encode('sql_docs', 'sql_merges', 15)",
      graft.operators.Bpe.encodeTokens(docs,
        merges.orderBy(col("round")).select("pair_a", "pair_b").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq, k = 15))
    // r14 continuation: the curation reports (q204/q205/q206 faces)
    pin("SELECT * FROM graft_dedup_savings('sql_docs')",
      graft.operators.Components.savingsBySource(docs,
        Dedup.minhashCandidatesW(Text.wordsTable(docs)).select(col("doc_a"), col("doc_b"))))
    pin("SELECT * FROM graft_source_leakage('sql_docs')",
      Dedup.crossSourceLeakage(docs))
    pin("SELECT * FROM graft_fertility('sql_docs', 'sql_merges')",
      graft.operators.Bpe.fertilityByLang(docs,
        merges.orderBy(col("round")).select("pair_a", "pair_b").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq))
    val clfWeights = graft.operators.Classifier.fitOdds(docs,
      col("source").isin("src0", "src1", "src2", "src3"))
    clfWeights.createOrReplaceTempView("sql_clf_weights")
    pin("SELECT * FROM graft_clf_fit('sql_docs', " +
        "'source IN (''src0'', ''src1'', ''src2'', ''src3'')')",
      clfWeights)
    pin("SELECT * FROM graft_clf_score('sql_docs', 'sql_clf_weights')",
      graft.operators.Classifier.scoreAgainst(docs, clfWeights))
    // r16: multi-class faces (q221)
    val clfGrid = graft.operators.Classifier.fitOddsMulti(docs, col("lang"))
    clfGrid.createOrReplaceTempView("sql_clf_grid")
    pin("SELECT * FROM graft_clf_fit_multi('sql_docs', 'lang')", clfGrid)
    pin("SELECT * FROM graft_classify('sql_docs', 'sql_clf_grid')",
      graft.operators.Classifier.classifyAgainst(docs, clfGrid))
    pin("SELECT * FROM graft_matryoshka('sql_embs', 'sql_queries', 16)",
      graft.operators.Ann.matryoshkaAgreement(embs,
        embs.filter(col("vec_id") < 5), dims = 16))
    // r15: the k-means-celled graph-ANN face (q214)
    pin("SELECT * FROM graft_nsw_knn_kmeans('sql_embs', 'sql_queries', 3)",
      graft.operators.Ann.nswKnn(embs, embs.filter(col("vec_id") < 5), k = 3))
    // r15: the grading faces (q216/q217) — rankings registered as views
    val qs = embs.filter(col("vec_id") < 5)
    graft.operators.Ann.lshKnn(embs, qs, k = 3, nBits = 4)
      .createOrReplaceTempView("sql_rank_lsh")
    graft.operators.Ann.bruteKnn(embs, qs, k = 3)
      .createOrReplaceTempView("sql_rank_brute")
    pin("SELECT * FROM graft_ann_recall('sql_rank_lsh', 'sql_rank_brute', 3)",
      graft.operators.Ann.recallAtK(
        graft.operators.Ann.lshKnn(embs, qs, k = 3, nBits = 4),
        graft.operators.Ann.bruteKnn(embs, qs, k = 3), k = 3))
    val embsLabeled = spark.read.parquet(s"$sfDir/embeddings.parquet")
    embsLabeled.createOrReplaceTempView("sql_embs_labeled")
    pin("SELECT * FROM graft_nn_label_agreement('sql_embs_labeled', 'sql_queries')",
      graft.operators.Ann.nnLabelAgreement(embsLabeled,
        embsLabeled.filter(col("vec_id") < 5)))
    // r15: chunking (q218) and snapshot diff (q219)
    pin("SELECT * FROM graft_text_chunks('sql_docs', 16, 12)",
      docs.select(col("doc_id"),
        explode(graft.functions.Text.chunkWords(
          graft.functions.Text.words(col("text")), 16, 12)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          col("c.start_word").as("start_word"),
          col("c.n_words").as("n_words"), col("c.chunk").as("chunk")))
    docs.filter(col("doc_id") % 3 =!= 0).createOrReplaceTempView("sql_docs_v2")
    pin("SELECT * FROM graft_corpus_diff('sql_docs', 'sql_docs_v2')",
      graft.operators.Report.corpusDiff(docs, docs.filter(col("doc_id") % 3 =!= 0)))
    // r16: hybrid lexical ⊕ vector retrieval (q220)
    pin("SELECT * FROM graft_hybrid_search('sql_docs', 'sql_embs', " +
        "'hash,join,vector', 1, 5, 20)",
      graft.operators.Retrieval.hybridSearch(docs, embs,
        Seq("hash", "join", "vector"), embs.filter(col("vec_id") === 1),
        k = 5, depth = 20))
    // r17: filtered ANN (q222) — the predicate is SQL text pruning
    // candidates BEFORE scoring (sql_embs drops label, so register the
    // metadata-carrying view the filtered face needs)
    val embsMeta = spark.read.parquet(s"$sfDir/embeddings.parquet")
    embsMeta.createOrReplaceTempView("sql_embs_meta")
    pin("SELECT * FROM graft_filtered_knn('sql_embs_meta', 'label = 3', 5, 4)",
      graft.operators.Ann.bruteKnnFiltered(embsMeta,
        embsMeta.filter(col("vec_id") < 5), k = 4, pred = col("label") === 3))
    // r15: envelope tile cover (q213) and integer RRF (q215) as scalar
    // SQL functions — spot values, not just shape
    val cover = spark.sql(
      """SELECT t.x, t.y, t.qk
        |FROM (SELECT explode(graft_bing_tile_cover(0.0d, 0.0d, 3.0d, 3.0d, 4)) AS t)
        |ORDER BY t.x, t.y""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(cover.map(t => (t._1, t._2)).toSeq == Seq((8, 7), (8, 8)), cover.toSeq)
    assert(cover.forall(_._3.length == 4))
    val rrf = spark.sql(
      "SELECT graft_rrf(60, 1, 3) AS both_lists, " +
        "graft_rrf(60, 2, CAST(NULL AS INT)) AS one_list").head
    assert(rrf.getLong(0) == 1000000L / 61 + 1000000L / 63, rrf.getLong(0))
    assert(rrf.getLong(1) == 1000000L / 62, rrf.getLong(1))
    // the TVF output is a real table expression: composable with WHERE /
    // aggregation / joins in the surrounding statement
    val kept = spark.sql(
      """SELECT lang, count(*) AS n FROM graft_mix_keep('sql_docs', 50000)
        |WHERE toks > 10 GROUP BY lang ORDER BY lang""".stripMargin).collect()
    assert(kept.nonEmpty)
    // loud failure on a missing/mistyped argument, not a silent default
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_mix_keep('sql_docs')").collect()
    }
    assert(e.getMessage.contains("budget_tokens")
      || Option(e.getCause).exists(_.getMessage.contains("budget_tokens")),
      e.getMessage)
  }

  test("star join with CTE + window as literal SQL runs and aggregates") {
    registerTables()
    val rows = spark.sql(
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment, n_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name, c_mktsegment, cnt,
        | rank() OVER (PARTITION BY n_name ORDER BY cnt DESC, c_mktsegment) AS rk
        |FROM (SELECT n_name, c_mktsegment, count(*) AS cnt
        |      FROM cust GROUP BY n_name, c_mktsegment)""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.filter(_.getAs[Int]("rk") == 1).nonEmpty)
  }

  test("graft extension functions are callable from literal SQL") {
    val r = spark.sql(
      """SELECT
        | graft_cosine(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS cos,
        | graft_slot_agree(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS agree,
        | graft_st_contains(array(0D, 10D, 10D, 0D), array(0D, 0D, 10D, 10D), 5D, 5D) AS inside,
        | graft_st_contains(array(0D, 10D, 10D, 0D), array(0D, 0D, 10D, 10D), 15D, 5D) AS outside
        |""".stripMargin).head
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(r.getAs[Int]("agree") == 2)
    assert(r.getAs[Boolean]("inside"))
    assert(!r.getAs[Boolean]("outside"))
  }

  test("graft_hdr_quantile and graft_shingle-family SQL functions aggregate end to end") {
    registerTables()
    val q = spark.sql(
      """SELECT l_returnflag,
        | graft_hdr_quantile(cast(round(l_extendedprice * 100) AS bigint), 0.5) AS p50c
        |FROM lineitem GROUP BY l_returnflag""".stripMargin).collect()
    assert(q.length == 3 && q.forall(_.getAs[Double]("p50c") > 0))
    val m = spark.sql(
      "SELECT graft_minhash(array('a b c', 'b c d'), 8) AS sig").head
    assert(m.getSeq[Long](0).length == 8)
  }

  test("bing tile family is callable from literal SQL (spec example + round-trip + nesting)") {
    val r = spark.sql(
      """SELECT
        | graft_bing_tile_quadkey(3, 5, 3) AS qk,
        | graft_bing_tile_from_quadkey('213', 3) AS t,
        | graft_bing_tile_at(47.61, -122.33, 10) AS seattle,
        | graft_bing_tile_children(3, 5, 3) AS kids,
        | graft_bing_tile_polygon(3, 5, 3) AS poly
        |""".stripMargin).head
    assert(r.getAs[String]("qk") == "213")
    val t = r.getStruct(r.fieldIndex("t"))
    assert(t.getAs[Int]("x") == 3 && t.getAs[Int]("y") == 5)
    val s = r.getStruct(r.fieldIndex("seattle"))
    assert(s.getAs[Int]("x") >= 0 && s.getAs[Int]("x") < 1024 &&
      s.getAs[Int]("y") >= 0 && s.getAs[Int]("y") < 1024)
    assert(r.getSeq[String](r.fieldIndex("kids")) ==
      Seq("2130", "2131", "2132", "2133"))
    val p = r.getStruct(r.fieldIndex("poly"))
    assert(p.getAs[Double]("lon_min") < p.getAs[Double]("lon_max") &&
      p.getAs[Double]("lat_min") < p.getAs[Double]("lat_max"))
  }

  test("tiles_around, zoom_level and base32 codec are callable from literal SQL") {
    val r = spark.sql(
      """SELECT
        | graft_bing_tiles_around(0, 0, 3) AS corner,
        | graft_bing_tiles_around(3, 5, 3) AS interior,
        | graft_bing_tile_zoom_level(graft_bing_tile_quadkey(3, 5, 3)) AS zl,
        | graft_to_base32(cast('foobar' as binary)) AS enc,
        | cast(graft_from_base32('MZXW6YTBOI======') as string) AS dec,
        | cast(graft_from_base32(graft_to_base32(cast('doc-42' as binary))) as string) AS rt
        |""".stripMargin).head
    assert(r.getSeq[String](r.fieldIndex("corner")).length == 4)
    val interior = r.getSeq[String](r.fieldIndex("interior"))
    assert(interior.length == 9 && interior.contains("213") && interior == interior.sorted)
    assert(r.getAs[Int]("zl") == 3)
    assert(r.getAs[String]("enc") == "MZXW6YTBOI======") // RFC 4648 §10
    assert(r.getAs[String]("dec") == "foobar")
    assert(r.getAs[String]("rt") == "doc-42")
  }

  test("envelope algebra is callable from literal SQL") {
    val r = spark.sql(
      """WITH b AS (SELECT graft_st_env(0D, 0D, 10D, 10D) AS a,
        |                  graft_st_env(5D, 5D, 20D, 20D) AS b,
        |                  graft_st_env(15D, 0D, 20D, 4D) AS far)
        |SELECT graft_st_env_area(graft_st_env_intersection(a, b)) AS inter_area,
        |       graft_st_env_area(graft_st_env_buffer(a, 1.0D)) AS buf_area,
        |       graft_st_env_area(graft_st_env_union(a, b)) AS union_area,
        |       graft_st_env_intersects(a, b) AS ab,
        |       graft_st_env_intersects(a, far) AS afar,
        |       graft_st_env_contains(graft_st_env_union(a, b), a) AS contains_a,
        |       graft_st_env_intersection(a, far) IS NULL AS empty_inter
        |FROM b""".stripMargin).head
    assert(r.getAs[Double]("inter_area") == 25.0)
    assert(r.getAs[Double]("buf_area") == 144.0)
    assert(r.getAs[Double]("union_area") == 400.0)
    assert(r.getAs[Boolean]("ab") && !r.getAs[Boolean]("afar"))
    assert(r.getAs[Boolean]("contains_a") && r.getAs[Boolean]("empty_inter"))
  }

  test("an Overlap-backed graft TVF resolves from a CLONED session " +
      "(newSession) without deadlock — VERDICT r17 item 8: the catalog-" +
      "lock guard must cover sessions beyond the active one") {
    // graft_nsw_knn builds eagerly inside the clone's analyzer window
    // (the clone's SessionCatalog monitor is held) and its nswKnnLsh
    // runs Overlap.build — exactly the r17 deadlock shape, in the
    // cloned-session context the r17 guard did not check. The widened
    // guard (thunk sessions + active + default) must serialize here.
    val s2 = spark.newSession()
    val embs = s2.read.parquet(s"$sfDir/embeddings.parquet")
    embs.createOrReplaceTempView("clone_embs")
    embs.filter(col("vec_id") < 3).createOrReplaceTempView("clone_queries")
    val got = s2.sql("SELECT * FROM graft_nsw_knn('clone_embs', 'clone_queries', 3)")
    assert(got.count() == 9) // 3 queries x k=3
    // and the result matches the parent-session DataFrame face
    val df = graft.operators.Ann.nswKnnLsh(
      spark.read.parquet(s"$sfDir/embeddings.parquet"),
      spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 3),
      k = 3)
    assert(got.orderBy(got.columns.map(col): _*).collect().toSeq ==
      df.orderBy(df.columns.map(col): _*).collect().toSeq)
  }
}
