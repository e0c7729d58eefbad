package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.plans.SmallGather

/** `SmallGather` plans a provably small shuffle as a gather into one
  * partition. Each shape must return what the same query returns with
  * AQE off (Spark's own plan, no rule), and the plan must change only
  * where the input is small, bounded and not co-partitioned with another
  * side. The job counts are pinned: each gather is one sampling job and
  * one stage fewer.
  */
class SmallGatherSpec extends SparkSpec {

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prev = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** The shuffle exchanges of `df`'s executed plan, stages included. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = p.flatMap {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case e: ShuffleExchangeExec => Seq(e)
      case _ => Nil
    }
    walk(df.queryExecution.executedPlan)
  }

  private def ranges(df: DataFrame): Int =
    exchanges(df).count(_.outputPartitioning.isInstanceOf[RangePartitioning])

  /** Rows and jobs of `build()` run as planned now. */
  private def run(build: => DataFrame): (DataFrame, Seq[Row], Int) = {
    val df = build
    val (rows, jobs) = countJobs(df.collect().toSeq)
    (df, rows, jobs)
  }

  /** The rows of `build()` planned by Spark alone, under the same scale. */
  private def aqeOff(build: => DataFrame): Seq[Row] =
    withConf("spark.sql.adaptive.enabled" -> "false")(build.collect().toSeq)

  private def brandTotals = Tables.part(spark, sfDir)
    .groupBy("p_brand").agg(count(lit(1)).as("n"), sum("p_size").as("size"))
    .orderBy("p_brand")

  test("a small aggregate and its ORDER BY share one stage after one gather") {
    brandTotals.collect()
    val (df, rows, jobs) = run(brandTotals)
    val ex = exchanges(df)
    assert(ex.size == 1 && ex.head.outputPartitioning == SinglePartition &&
      SmallGather.isGather(ex.head), s"want one gather, got:\n${df.queryExecution.executedPlan}")
    assert(jobs <= 2, s"$jobs jobs, want the gather's map stage and the result")
    assert(rows.nonEmpty && rows == aqeOff(brandTotals))
  }

  test("a scan-fed small sort has no range exchange and no sampling job") {
    def sorted = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity").orderBy("l_orderkey", "l_linenumber")
    sorted.collect()
    val (df, rows, jobs) = run(sorted)
    assert(ranges(df) == 0, s"range exchange left in:\n${df.queryExecution.executedPlan}")
    assert(jobs == 2, s"$jobs jobs, want the gather's map stage and the result")
    assert(rows.nonEmpty && rows == aqeOff(sorted))
  }

  test("an input over the bound keeps its range exchange and hash exchange") {
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      val (df, rows, jobs) = run(brandTotals)
      assert(ranges(df) == 1 && !exchanges(df).exists(SmallGather.isGather),
        s"gathered over the bound:\n${df.queryExecution.executedPlan}")
      assert(jobs >= 3, s"$jobs jobs: the range exchange's sampling job is gone")
      assert(rows == aqeOff(brandTotals))
    }
  }

  test("an explode under the sort keeps the range exchange") {
    def exploded = Tables.part(spark, sfDir).filter(col("p_partkey") < 50)
      .select(col("p_partkey"), explode(sequence(lit(1), col("p_size"))).as("i"))
      .orderBy("p_partkey", "i")
    val (df, rows, _) = run(exploded)
    assert(ranges(df) == 1, s"gathered through a generator:\n${df.queryExecution.executedPlan}")
    assert(rows.nonEmpty && rows == aqeOff(exploded))
  }

  test("the small side of a sort-merge join stays co-partitioned") {
    def joined = {
      val parts = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
      val items = Tables.lineitem(spark, sfDir).select("l_partkey", "l_quantity")
      items.join(parts.hint("merge"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(sum("l_quantity").as("q"))
    }
    val (df, rows, _) = run(joined)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("SortMergeJoin"), s"no sort-merge join:\n$plan")
    val sides = exchanges(df).filter(e => e.output.exists(_.name == "p_partkey") ||
      e.output.exists(_.name == "l_partkey"))
    assert(sides.size == 2 && sides.forall(e => !SmallGather.isGather(e) &&
      e.outputPartitioning.numPartitions == sides.head.outputPartitioning.numPartitions),
      s"join sides not co-partitioned:\n$plan")
    assert(rows.sortBy(_.toString) == aqeOff(joined).sortBy(_.toString))
  }

  test("a repartition(n) under the sort keeps the range exchange") {
    def spread = Tables.part(spark, sfDir).repartition(3)
      .select("p_partkey", "p_size").orderBy("p_partkey")
    val (df, rows, _) = run(spread)
    assert(ranges(df) == 1 && exchanges(df).exists(_.outputPartitioning.numPartitions == 3),
      s"user repartition not kept:\n${df.queryExecution.executedPlan}")
    assert(rows == aqeOff(spread))
  }

  test("AQE off plans Spark's range exchange") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = brandTotals
      df.collect()
      assert(ranges(df) == 1 && !exchanges(df).exists(SmallGather.isGather),
        s"the rule ran without AQE:\n${df.queryExecution.executedPlan}")
    }
  }

  test("the olap_mix programs return what Spark's own plan returns") {
    for (name <- Seq("q06_tpch_q6", "q11_distinct", "q78_tpch_q14", "q82_tpch_q22",
        "q48_array_agg", "q144_reduce_agg", "q108_datetime_funcs2",
        "q129_word_stem_soundex", "q151_url_funcs2", "q88_interval_join")) {
      val fn = SparkEntry.queries(name)
      val got = fn(spark, sfDir).collect().toSeq
      val want = aqeOff(fn(spark, sfDir))
      assert(got.sortBy(_.toString) == want.sortBy(_.toString), s"$name rows differ")
    }
  }
}
