package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM, one SparkContext). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Count Spark jobs launched by `body`. The listener bus is async:
    * drain it (every job `body` ran has posted its start) before reading.
    */
  /** Runs `body` under whole-stage codegen, then interpreted, with the
    * mode's name.
    */
  def bothModes(body: String => Unit): Unit =
    Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN").foreach { case (ws, mode) =>
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  def countJobs[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graft.Bridge.waitUntilEmpty(spark.sparkContext)
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
