package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.functions.Text
import graft.queries.RelationalQueries

/** Physical-plan assertions (SURVEY.md §2.7): pushdown, pruning,
  * broadcast selection, and whole-stage codegen — the properties that
  * decide whether a plan survives a 100× scale-up.
  */
class PlanSpec extends SparkSpec {

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Plan after execution — AQE replaces stages at runtime, and
    * WholeStageCodegen spans only materialize in the final plan.
    */
  private def finalPlanString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01 pushes filters and prunes columns at the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val plan = planString(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"no pushed filter in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projected columns:\n$plan")
  }

  test("prefiltered corpus load pushes the predicate to the scan, below the rebalance") {
    val df = Tables.documents(spark, sfDir, col("doc_id") < 200)
    val plan = planString(df)
    assert(plan.contains("LessThan(doc_id,200)"),
      s"doc_id predicate did not reach the parquet scan (it would run above the repartition):\n$plan")
  }

  test("q05 star join broadcasts the dimension tables") {
    val df = RelationalQueries.q05.fn(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("TPC-H Q1 aggregation runs inside WholeStageCodegen with partial aggregation") {
    val df = RelationalQueries.q02.fn(spark, sfDir)
    val plan = finalPlanString(df)
    // codegen spans print as "*(id) Operator" in the AQE final plan
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
    // partial (map-side) aggregate before the exchange, final after
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial+final agg pair:\n$plan")
  }

  test("dedup/text pipeline stays UDF-free (no BatchEvalPython/ScalaUDF nodes)") {
    val df = graft.operators.Dedup.jaccardPairsW(
      Text.wordsTable(Tables.documents(spark, sfDir)), 0.5)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("UDF"), s"UDF found in optimized plan:\n$plan")
  }

  test("q72 (TPC-H Q7) broadcasts both nation sides, shuffles the facts") {
    val df = graft.queries.TpchQueries.q72.fn(spark, sfDir)
    val plan = finalPlanString(df)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"nation dims not broadcast:\n$plan")
  }

  test("q75 (TPC-H Q10) pushes the returnflag filter into the lineitem scan") {
    val df = graft.queries.TpchQueries.q75.fn(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed:\n$plan")
  }

  test("native cosine kernel stays inside a codegen span (no CodegenFallback)") {
    val df = graft.operators.Ann.cosineDupPairs(
      Tables.embeddings(spark, sfDir), threshold = 0.4)
    val plan = finalPlanString(df)
    assert(plan.contains("graft_cosine"), s"native kernel absent:\n$plan")
    // the operator evaluating graft_cosine must carry a codegen span id
    // (the AQE dump repeats the subtree un-prefixed, so exists not forall)
    val hot = plan.linesIterator.filter(_.contains("graft_cosine")).toSeq
    assert(hot.exists(_.contains("*(")),
      s"graft_cosine evaluated outside codegen:\n${hot.mkString("\n")}")
  }

  test("partitioned parquet write is pruned on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.orders(spark, sfDir)
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    val plan = planString(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(status"),
      s"no partition filter in:\n$plan")
    val full = spark.read.parquet(dir).count()
    val part = pruned.count()
    assert(part > 0 && part < full)
  }
}
