package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM, one SparkContext). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

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

  /** Appends `df` to the parquet directory `dir` as one data file named
    * `name`, so that a spec chooses where it sorts among the part files
    * (the names Spark's writer gives carry a random job id).
    */
  def appendFile(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val staging = java.nio.file.Files.createTempDirectory("append_file").toFile
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = staging.listFiles().filter(f => f.getName.startsWith("part-")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, name))
  }

  /** Count Spark jobs launched by `body`. The listener bus is async:
    * drain it (every job `body` ran has posted its start) before reading.
    */
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

  /** `body`'s result, its jobs and the rows its tasks read from files
    * (task input metrics).
    */
  def countRead[A](body: => A): (A, Int, Long) = {
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (r, jobs) = countJobs(body)
      (r, jobs, read.get())
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
