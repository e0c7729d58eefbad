package graft

import graft.operators.Components

/** Planted-graph correctness for the dedup-clustering operator. */
class ComponentsSpec extends SparkSpec {

  import spark.implicits._

  test("chain, triangle and isolated pair resolve to min-id components") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12 + chord, pair 20-21
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)).toDF("a", "b")
    val comp = Components.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), comp)
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L), comp)
    assert(Seq(20L, 21L).forall(comp(_) == 20L), comp)
  }

  test("dedupClusters reports per-cluster sizes") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val rows = Components.dedupClusters(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows === Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (8L, 7L, 2L)))
  }

  test("a 40-node chain converges within 10 rounds (pointer jumping: log diameter)") {
    val n = 40
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    // without path compression this chain needs ~39 rounds; maxIter=10
    // only passes because pointer jumping halves the depth per round
    // (the loop itself: connectedComponents resolves a chain this small
    // on the driver)
    val comp = Components.labelPropagation(edges, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1 to n).forall(i => comp(i.toLong) == 1L))
  }

  test("a 100k-edge star (hub skew) resolves correctly with bounded per-task input") {
    // the adversarial dedup-cluster shape at 100 TB: one boilerplate
    // document near-duplicating everything gives (a) a hub whose
    // fan-in all hashes to ONE neighbor-join key and (b) a single
    // giant cluster that concentrates EVERY pointer-jump row on one
    // label key. At production bytes AQE's skew-join split handles
    // both, but it splits at mapper-output granularity — nothing to
    // split when a toy input coalesces to one mapper — so this spec
    // exercises the operator's own guarantee: salt=32 bounds any
    // task's input to ~1/32 of a hot key's rows, independent of AQE.
    val n = 100000
    val maxTaskRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics != null)
          maxTaskRecords.getAndAccumulate(m.shuffleReadMetrics.recordsRead, math.max)
      }
    }
    // byte-based partition sizing (the SkewSpec conf discipline): at
    // toy bytes AQE's parallelism-first coalescing merges EVERY
    // post-shuffle partition into one task regardless of keys, which
    // would measure the coalescer, not the salt — size partitions the
    // way a loaded cluster would instead
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    spark.sparkContext.addSparkListener(listener)
    try {
      conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      import org.apache.spark.sql.functions.{col, lit}
      val edges = spark.range(1, n + 1)
        .select(lit(0L).as("a"), col("id").as("b"))
      val rows = Components.dedupClusters(edges, maxIter = 10, salt = 32)
      val bad = rows.filter(
        col("cluster_id") =!= 0L || col("cluster_size") =!= (n + 1).toLong).count()
      assert(bad == 0, "every star node must land in cluster 0 of size n+1")
      assert(rows.count() == (n + 1).toLong)
      // the listener bus delivers asynchronously; every task-end event
      // is posted before its action returns, so once the bus is empty
      // the maximum is exact (an undelivered event would make this
      // upper-bound check pass vacuously)
      org.apache.spark.sql.graft.Bridge.waitUntilEmpty(spark.sparkContext)
      // unsalted, the hot-key join tasks read the full 100k fan-in
      // (measured: 100001); the salted run's residual maximum is the
      // initial distinct() aggregation over UNIQUE node ids (~50k in
      // one byte-coalesced partition — no hot key exists there), while
      // every join stage measures ≤ ~25k. Bound at 0.6n: far below the
      // unsalted fan-in, with headroom over the keyless residual.
      assert(maxTaskRecords.get() < (n * 6L) / 10,
        s"one task read ${maxTaskRecords.get()} shuffle records — hot keys not spread")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("clustering equals serial union-find on seeded random graphs, salted and not") {
    // property-style hardening: random multigraphs with self-loops and
    // duplicate edges; min-root union-find is the serial truth (always
    // attach the larger root under the smaller, so every root IS its
    // component's min id — the operator's cluster contract)
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 6) {
      val n = 30 + rnd.nextInt(20)
      val edges = (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(i => i -> find(i.toInt).toLong).toMap
      // salt matters to the loop alone: the graph is small enough for
      // connectedComponents' driver path
      val got = Components.labelPropagation(edges.toDF("a", "b"),
          salt = if (trial % 2 == 0) 4 else 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (n=$n) diverges from union-find")
    }
  }

  test("salted and unsalted clustering agree on a mixed graph") {
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)).toDF("a", "b")
    def run(s: Int) = Components.dedupClusters(edges, salt = s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(run(1) == run(8))
  }

  test("the small-graph driver path equals the label-propagation loop") {
    val rnd = new scala.util.Random(20260819)
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(30)
      val edges = ((1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        Seq((100L, 100L))).toDF("a", "b") // self-loop hardening
      def labels(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(labels(Components.connectedComponents(edges)) ==
        labels(Components.labelPropagation(edges)),
        s"trial $trial: the driver path diverges from the loop")
    }
  }

  test("roiSweep: removal is monotone non-increasing in the threshold") {
    // pair (1,2) at est 1.0 survives every sweep point; pair (3,4) at
    // est 0.625 drops at 0.75+ — the curve must step down, never up
    val meta = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("doc_id", "toks")
    val pairs = Seq((1L, 2L, 1.0), (3L, 4L, 0.625))
      .toDF("doc_a", "doc_b", "est_jaccard")
    val out = Components.roiSweep(meta, pairs, Seq(0.5, 0.75, 1.0)).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // total tokens 150; at 0.5 both pairs: removed {2, 4} = 60 toks
    assert(out(0.5) == ((2L, 2L, 60L, 400000L)), out(0.5))
    assert(out(0.75) == ((1L, 1L, 20L, 133333L)), out(0.75))
    assert(out(1.0) == ((1L, 1L, 20L, 133333L)), out(1.0))
  }

  test("savingsBySource: removable docs/tokens and exact ppm per source") {
    // cluster {1,2} inside web; cluster {4,5} SPANS books/wiki — the
    // canonical (min id, doc 4) stays in books, so books shows dup but
    // zero removal while wiki pays the removal
    val docs = Seq(
      (1L, "a a a", "web"), (2L, "a a a", "web"), (3L, "b b", "web"),
      (4L, "c c c c", "books"), (5L, "c c c c", "wiki"), (6L, "d", "wiki")
    ).toDF("doc_id", "text", "source")
    val edges = Seq((1L, 2L), (4L, 5L)).toDF("a", "b")
    val out = Components.savingsBySource(docs, edges).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out("web") == ((3L, 2L, 1L, 8L, 3L, 375000L)), out("web"))
    assert(out("books") == ((1L, 1L, 0L, 4L, 0L, 0L)), out("books"))
    assert(out("wiki") == ((2L, 1L, 1L, 5L, 4L, 800000L)), out("wiki"))
  }
}
