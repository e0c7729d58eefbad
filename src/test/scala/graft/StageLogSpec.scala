package graft

import org.apache.spark.sql.functions._

import graft.tools.StageLog

/** [[StageLog]] attributes stages to the action that ran them by
  * draining the listener bus, not by waiting: a drain right after an
  * action holds exactly that action's stages.
  */
class StageLogSpec extends SparkSpec {

  private def withLog[A](body: StageLog => A): A = {
    val log = StageLog.attach(spark.sparkContext)
    try body(log) finally spark.sparkContext.removeSparkListener(log)
  }

  // a two-stage job: the aggregation's shuffle write, then its read
  private def shuffleQuery(mod: Int): Unit =
    spark.range(0, 20000, 1, 4).groupBy((col("id") % mod).as("g")).count().collect()

  test("each drain holds its own action's stages, none of the previous one's") {
    withLog { log =>
      shuffleQuery(7)
      val a = log.drain()
      assert(a.nonEmpty)
      assert(a.map(_.shuffleBytes).sum > 0, s"A wrote no shuffle bytes: $a")
      assert(a.map(_.shuffleRecords).sum > 0)
      shuffleQuery(11)
      val b = log.drain()
      assert(b.nonEmpty)
      assert(b.map(_.shuffleBytes).sum > 0, s"B wrote no shuffle bytes: $b")
      val shared = a.map(_.id).toSet.intersect(b.map(_.id).toSet)
      assert(shared.isEmpty, s"stages $shared billed to both A and B")
    }
  }

  test("a drain with no action since the last one is empty") {
    withLog { log =>
      shuffleQuery(5)
      assert(log.drain().nonEmpty)
      assert(log.drain().isEmpty)
    }
  }
}
