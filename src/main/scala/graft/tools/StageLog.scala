package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.Bridge

/** The diagnostics' one stage listener (Bench's floor-breach capture,
  * ShuffleAudit, StageProf): buffers a summary of every completed stage
  * until [[drain]] takes it.
  *
  * Attribution is exact, not timed: the scheduler posts a job's stage
  * events before its action returns, and `drain` first blocks until
  * the listener bus has delivered everything posted so far. So a drain
  * right after an action holds every stage that action ran, and a drain
  * right before one leaves the buffer empty for it.
  */
final class StageLog private (sc: SparkContext) extends SparkListener {
  private val buf = new ConcurrentLinkedQueue[StageLog.Stage]()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val wall = (for { c <- si.completionTime; b <- si.submissionTime }
      yield (c - b) / 1e3).getOrElse(0.0)
    val m = Option(si.taskMetrics)
    // the scheduler callsite is opaque for broadcast-child jobs
    // (CompletableFuture); the stage's RDD lineage callsites name the
    // operators that actually ran in it
    val callsites = si.rddInfos.map(_.callSite.takeWhile(_ != '(').trim)
      .filter(_.nonEmpty).distinct.takeRight(4).mkString(" | ")
    buf.add(StageLog.Stage(si.stageId, si.numTasks, wall,
      // runTime and jvmGCTime are millis, cpuTime is nanos
      run = m.fold(0.0)(_.executorRunTime / 1e3),
      cpu = m.fold(0.0)(_.executorCpuTime / 1e9),
      gc = m.fold(0.0)(_.jvmGCTime / 1e3),
      shuffleBytes = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      shuffleRecords = m.fold(0L)(_.shuffleWriteMetrics.recordsWritten),
      name = si.name.takeWhile(_ != '('), callsites = callsites))
  }

  /** Every stage completed since the previous drain, in completion
    * order; the buffer is left empty.
    */
  def drain(): Seq[StageLog.Stage] = {
    Bridge.waitUntilEmpty(sc)
    Iterator.continually(buf.poll()).takeWhile(_ != null).toVector
  }
}

object StageLog {

  /** One completed stage. Times in seconds: `wall` from submission to
    * completion, `run`/`cpu`/`gc` summed over its tasks (run ≫ cpu means
    * tasks were blocked, not computing).
    */
  final case class Stage(id: Int, tasks: Int, wall: Double, run: Double,
                         cpu: Double, gc: Double, shuffleBytes: Long,
                         shuffleRecords: Long, name: String, callsites: String)

  /** Register a new log on `sc`; it sees only stages completed after this. */
  def attach(sc: SparkContext): StageLog = {
    val log = new StageLog(sc)
    sc.addSparkListener(log)
    log
  }
}
