package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tools.PlanAudit

/** The audit tool must be un-dodgeable: every SPELLING of an
  * un-partitioned window has to trip the detector (the r5 string-regex
  * version missed `Window.partitionBy()` — VERDICT r5 item 2), and a
  * genuinely unbounded global window must fail the audit because it is
  * absent from the bounded whitelist.
  */
class PlanAuditSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    (1L to 100L).map(i => (i, s"doc $i")).toDF("id", "text")
  }

  test("detects Window.orderBy spelling (classic global window)") {
    val w = Window.orderBy(col("id"))
    assert(PlanAudit.globalWindows(docs.withColumn("r", row_number().over(w))) == 1)
  }

  test("detects Window.partitionBy() spelling (empty varargs — the r5 miss)") {
    val w = Window.partitionBy()
    assert(PlanAudit.globalWindows(docs.withColumn("m", max(col("id")).over(w))) == 1)
  }

  test("detects multi-token ordering expressions (regex false negative)") {
    val w = Window.orderBy(col("id").cast("int").asc)
    assert(PlanAudit.globalWindows(docs.withColumn("r", row_number().over(w))) == 1)
  }

  test("partitioned windows are NOT flagged") {
    val w = Window.partitionBy(col("id") % 7).orderBy(col("id"))
    assert(PlanAudit.globalWindows(docs.withColumn("r", row_number().over(w))) == 0)
  }

  test("a gathered partitioned window is counted as a gather, not as a global window") {
    // SmallGather plans the small window's hash exchange as one partition:
    // the same SinglePartition a global window's feed has
    val w = Window.partitionBy(col("id") % 7).orderBy(col("id"))
    val counts = PlanAudit.structuralCounts(
      docs.withColumn("r", row_number().over(w)).queryExecution.executedPlan)
    assert(counts.gathers == 1 && counts.shuffles == 1 && counts.globalWindows == 0,
      s"counts: $counts")
  }

  test("a global window over a gathered aggregate measures the rows that entered it") {
    // the window's own single-partition feed is dropped (its input is
    // one partition already); the measurement reaches the aggregate
    val df = docs.groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(Window.orderBy(col("k"))))
    val counts = PlanAudit.structuralCounts(df.queryExecution.executedPlan)
    assert(counts.gathers == 1 && counts.shuffles == 1 && counts.globalWindows == 1,
      s"counts: $counts")
    df.queryExecution.toRdd.count()
    assert(PlanAudit.globalWindowInputRows(df.queryExecution.executedPlan) == Seq(7L))
  }

  test("an unbounded global window fails the audit (not whitelisted)") {
    // the audit's pass condition is whitelist membership; a data-sized
    // global window in a hypothetical query has no whitelist entry
    val w = Window.orderBy(col("id"))
    val offending = docs.withColumn("r", row_number().over(w))
    assert(PlanAudit.globalWindows(offending) > 0 &&
      !PlanAudit.boundedWhitelist.contains("q999_hypothetical"))
  }

  test("whitelist names all resolve to registered queries") {
    val registered = SparkEntry.queries.keySet
    assert(PlanAudit.boundedWhitelist.keySet.subsetOf(registered),
      s"stale whitelist entries: ${PlanAudit.boundedWhitelist.keySet -- registered}")
    assert(PlanAudit.bnljWhitelist.keySet.subsetOf(registered),
      s"stale bnlj whitelist entries: ${PlanAudit.bnljWhitelist.keySet -- registered}")
    assert(PlanAudit.multiScanWhitelist.keySet.subsetOf(registered),
      s"stale multi-scan whitelist entries: ${PlanAudit.multiScanWhitelist.keySet -- registered}")
  }

  test("tableScans counts each file-scan leaf, and a cached build only once") {
    val li = Tables.lineitem(spark, sfDir)
    // self-join: the table genuinely scans twice
    val twice = li.select(col("l_orderkey"))
      .join(li.select(col("l_orderkey").as("k2")), col("l_orderkey") === col("k2"))
    assert(PlanAudit.tableScans(twice.queryExecution.executedPlan)
      .getOrElse("lineitem", 0) == 2)
    // persisted: both consumers read ONE cached build — one scan
    val cached = li.select(col("l_orderkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    val shared = cached.join(cached.select(col("l_orderkey").as("k2")),
      col("l_orderkey") === col("k2"))
    assert(PlanAudit.tableScans(shared.queryExecution.executedPlan)
      .getOrElse("lineitem", 0) == 1)
    cached.unpersist(blocking = true)
  }

  test("structural counts see a nested-loop join through the AQE wrapper") {
    val a = docs.select(col("id"))
    val b = docs.select(col("id").as("id2")).limit(3)
    val cross = a.crossJoin(b)
    val joins = PlanAudit.structuralCounts(cross.queryExecution.executedPlan).joins
    assert(joins.getOrElse("BroadcastNestedLoopJoin", 0) +
      joins.getOrElse("CartesianProduct", 0) >= 1, s"counts: $joins")
  }

  test("detects a global window hidden inside a persisted subtree") {
    // an operator that persists and returns a materialized frame leaves
    // the outer optimizedPlan as an InMemoryRelation leaf — the audit
    // must still see the window in the cached build plan
    val w = Window.orderBy(col("id"))
    val hidden = docs.withColumn("r", row_number().over(w)).persist()
    try {
      hidden.count()
      assert(PlanAudit.globalWindows(hidden.filter(col("r") > 0)) >= 1)
    } finally { hidden.unpersist(blocking = true); () }
  }

  test("an accidental cross join fails the audit (not in the bnlj whitelist)") {
    assert(!PlanAudit.bnljWhitelist.contains("q999_hypothetical"))
  }
}
