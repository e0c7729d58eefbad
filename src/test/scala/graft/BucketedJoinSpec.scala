package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

/** Bucketed-table co-located join (§2.7): both sides bucketed on the
  * join key with the same bucket count → the sort-merge join reads
  * buckets directly, with no shuffle exchange on either side. At 100 TB
  * this is the difference between re-shuffling the fact table per join
  * and a one-time bucketed layout amortized across every downstream
  * join on that key.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed-by-key tables join without a shuffle exchange") {
    Tables.orders(spark, sfDir).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    Tables.lineitem(spark, sfDir).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("o_totalprice"))
      assert(joined.count() === Tables.lineitem(spark, sfDir).count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("persisted ANN index: bucketed-by-bucket corpus scans without a shuffle") {
    import graft.functions.Sketches
    // the LSH corpus index as it would be persisted at warehouse scale:
    // vectors bucketed by their hyperplane bucket id
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
      .withColumn("bucket", Sketches.affineHyperplaneBucket("ve", 4, 64))
      .write.mode("overwrite")
      .bucketBy(8, "bucket").saveAsTable("ann_index_b")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probes = spark.table("ann_index_b")
        .filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("bucket"))
        .groupBy("bucket").agg(min("qid").as("qid"))
      val cand = spark.table("ann_index_b").join(probes, Seq("bucket"))
      assert(cand.count() > 0)
      val plan = cand.queryExecution.executedPlan.toString
      // the corpus (index) side must come straight off the bucketed scan;
      // only the small probe side may exchange
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.split("SortMergeJoin")(1).count(_ == '\n') > 0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"corpus side of the index join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS ann_index_b")
    }
  }

  test("multi-batch ingestion: every batch joins AND appends within the bucket layout, index side never shuffles") {
    import spark.implicits._
    import graft.operators.Dedup
    val keyNames = Seq("band", "k0", "k1", "k2", "k3")
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val seed = Seq(
      (1L, base),
      (2L, "completely different content about spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(seed)))
      .write.mode("overwrite")
      .bucketBy(8, "band", "k0", "k1", "k2", "k3")
      .saveAsTable("minhash_multi_b")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batches = Seq(
        10L -> base.replace("today", "tomorrow"),
        20L -> "fresh unrelated text mentioning shuffle partitions and codegen stages",
        30L -> base.replace("quick", "swift"))
      val found = collection.mutable.Set[(Long, Long)]()
      batches.foreach { case (id, text) =>
        val batch = Seq((id, text)).toDF("doc_id", "text")
        val probeBands = Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(batch)))
        val joined = spark.table("minhash_multi_b").as("o")
          .join(probeBands.as("n"),
            keyNames.map(c => col(s"n.$c") === col(s"o.$c")).reduce(_ && _))
        joined.count()
        val exchanges = "Exchange hashpartitioning".r
          .findAllIn(joined.queryExecution.executedPlan.toString).length
        assert(exchanges <= 1, "index side shuffled during batch " + id)
        found ++= Dedup.minhashCandidatesAgainst(batch, spark.table("minhash_multi_b"))
          .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        // merge the batch into the index, preserving the bucket layout
        probeBands.write.mode("append")
          .bucketBy(8, "band", "k0", "k1", "k2", "k3")
          .saveAsTable("minhash_multi_b")
      }
      // batch 1's near-dup matched the seed; batch 3's near-dup matched
      // BOTH the seed and batch 1's doc — the accumulated index works
      assert(found.contains((10L, 1L)), s"got $found")
      assert(found.contains((30L, 1L)) && found.contains((30L, 10L)), s"got $found")
      assert(!found.exists(p => p._1 == 20L || p._2 == 2L), s"got $found")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS minhash_multi_b")
    }
  }

  test("persisted minhash band index: incremental batch joins without shuffling the index side") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    // the signature index as persisted at warehouse scale: bucketed by
    // the full band-bucket key, so a new batch joins straight into the
    // index's layout — only the (small) batch side exchanges
    Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(corpus)))
      .write.mode("overwrite")
      .bucketBy(8, "band", "k0", "k1", "k2", "k3")
      .saveAsTable("minhash_index_b")
    val batch = Seq((10L, base.replace("today", "tomorrow"))).toDF("doc_id", "text")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val keyNames = Seq("band", "k0", "k1", "k2", "k3")
      val probeBands = Dedup.minhashBands(Dedup.minhashSignaturesW(Text.wordsTable(batch)))
      val joined = spark.table("minhash_index_b").as("o")
        .join(probeBands.as("n"),
          keyNames.map(c => col(s"n.$c") === col(s"o.$c")).reduce(_ && _))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"index side of the band join must not shuffle:\n$plan")
      // and the full incremental-dedup operator works against the
      // persisted table, flagging the near-dup
      val cand = Dedup.minhashCandidatesAgainst(batch, spark.table("minhash_index_b"))
        .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(cand.contains((10L, 1L)) && !cand.exists(_._2 == 2L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS minhash_index_b")
    }
  }
}
