package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds (the clock
  * Spark's listener events and planning phases use). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** Everything recorded about one traced op, filled by the client thread
  * (op, program and action windows) and by the listener thread (jobs,
  * stages, tasks, planning phases). Guarded by the tracer's lock. */
final class OpTrace(val id: Int, val tag: String, val start: Double) {
  var end = 0.0
  var programWin: (Double, Double) = (0.0, 0.0)
  var actionWin: (Double, Double) = (0.0, 0.0)
  val jobStart = mutable.Map[Int, Double]()
  val jobEnd = mutable.Map[Int, Double]()
  val jobStages = mutable.Map[Int, Seq[Int]]()
  val stageWin = mutable.Map[Int, (Double, Double, Int)]() // submit, complete, tasks
  val sqlStarted = mutable.Set[Long]()
  val sqlEnded = mutable.Set[Long]()
  val phases = mutable.ArrayBuffer[(String, Double, Double)]()
  val seenQe = mutable.Set[Int]()
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = counts(k) += v
}

/** Per-layer measurement from outside the engine: a SparkListener and a
  * QueryExecutionListener registered by the benchmark, job tags per op,
  * and JVM/codegen counters sampled around each call. Ops are strictly
  * sequential (one closed-loop client), so at most one op is open. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  @volatile private var current: OpTrace = null
  private val stageOwner = mutable.Map[Int, OpTrace]()
  val spans = mutable.ArrayBuffer[Span]()
  private var spanIds = 0
  var lateEvents = 0

  /** The open op, which owns every job and SQL execution started while it
    * is open: ops are sequential. One that does not carry the op's tag
    * (a thread that did not inherit it) is counted as untagged, and
    * ignored if it was submitted before the op began. */
  private def owner(time: Long, props: java.util.Properties, tags: Set[String]): OpTrace = {
    val op = current
    if (op == null) null
    else {
      // job tags travel as the "spark.job.tags" local property
      val p = Option(props).flatMap(x => Option(x.getProperty("spark.job.tags"))).getOrElse("")
      if (tags.contains(op.tag) || p.split(",").contains(op.tag)) op
      else if (time < op.start) null
      else { op.add("trace.untagged", 1); op }
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = owner(e.time, e.properties, Set.empty)
      if (op != null) {
        op.jobStart(e.jobId) = e.time.toDouble
        op.jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(s => stageOwner(s) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val op = current
      if (op != null && op.jobStart.contains(e.jobId)) {
        op.jobEnd(e.jobId) = e.time.toDouble
        lock.notifyAll()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      submitted -= si.stageId
      stageOwner.get(si.stageId).filter(_ eq current).foreach { op =>
        op.stageWin(si.stageId) = (si.submissionTime.getOrElse(0L).toDouble,
          si.completionTime.getOrElse(0L).toDouble, si.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOwner.get(e.stageId).filter(_ eq current).foreach { op =>
        val ti = e.taskInfo
        op.add("sched.tasks", 1)
        // task launch minus stage submit: the time a ready task waited
        // for a slot; the submit time arrives with StageSubmitted
        op.stageWin.get(e.stageId).orElse(submitted.get(e.stageId).map(t => (t, 0.0, 0)))
          .foreach { case (sub, _, _) => op.add("sched.task_wait_s", (ti.launchTime - sub).max(0.0) / 1e3) }
        val m = e.taskMetrics
        if (m != null) {
          op.add("exec.run_s", m.executorRunTime / 1e3)
          op.add("exec.cpu_s", m.executorCpuTime / 1e9)
          op.add("exec.gc_s", m.jvmGCTime / 1e3)
          op.add("exec.deser_s", m.executorDeserializeTime / 1e3)
          op.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          op.add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          op.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          op.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
          op.add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
          op.add("scan.rows_read", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }
    private val submitted = mutable.Map[Int, Double]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      e.stageInfo.submissionTime.foreach(t => submitted(e.stageInfo.stageId) = t.toDouble)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        val op = owner(s.time, null, s.jobTags)
        if (op != null) op.sqlStarted += s.executionId
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        val op = current
        if (op != null && op.sqlStarted.contains(s.executionId)) {
          op.sqlEnded += s.executionId
          lock.notifyAll()
        }
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        val op = current
        if (op != null) recordQe(op, qe)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Planning phases and broadcast metrics of one query execution. A
    * query execution belongs to the op whose window holds its phases;
    * one seen twice (synchronously and through the listener) counts once. */
  private def recordQe(op: OpTrace, qe: QueryExecution): Unit = {
    val key = System.identityHashCode(qe)
    if (op.seenQe.contains(key)) return
    val ph = qe.tracker.phases
    val first = if (ph.isEmpty) op.start else ph.values.map(_.startTimeMs).min.toDouble
    if (first + 1 < op.start) { lateEvents += 1; return }
    op.seenQe += key
    ph.foreach { case (name, s) =>
      op.phases += ((name, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      op.add(s"catalyst.${name}_s", s.durationMs / 1e3)
    }
    if (qe.executedPlan != null) broadcasts(qe.executedPlan).foreach { b =>
      b.metrics.get("dataSize").foreach(m => op.add("broadcast.bytes", m.value.toDouble))
      b.metrics.get("collectTime").foreach(m => op.add("broadcast.collect_s", m.value / 1e3))
    }
  }

  private def broadcasts(plan: SparkPlan): Seq[BroadcastExchangeExec] = {
    val out = mutable.ArrayBuffer[BroadcastExchangeExec]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case b: BroadcastExchangeExec => out += b; b.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  private var ops = 0
  private def nowMs: Double = System.currentTimeMillis().toDouble

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0

  private var gc0 = 0.0
  private var compiles0 = 0L

  def begin(): OpTrace = {
    ops += 1
    val op = new OpTrace(ops, s"perfbench-op-$ops", nowMs)
    gc0 = gcSeconds
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addJobTag(op.tag)
    lock.synchronized { current = op }
    op
  }

  def program[A](op: OpTrace)(f: => A): A = {
    val s = nowMs
    try f finally op.programWin = (s, nowMs)
  }

  def action[A](op: OpTrace)(f: => A): A = {
    val s = nowMs
    try f finally op.actionWin = (s, nowMs)
  }

  /** Close an op: wait (on the listener's notifications, never a sleep)
    * until every job the status tracker lists for the op's tag and every
    * job and SQL execution seen starting under it has ended; then fold
    * the action's own planning phases in and derive the op's layers. */
  def end(op: OpTrace, actionQe: Option[QueryExecution]): Unit = {
    op.end = nowMs
    sc.removeJobTag(op.tag)
    val listed = sc.statusTracker.getJobIdsForTag(op.tag).toSeq
    val deadline = System.nanoTime() + 60L * 1000000000L
    lock.synchronized {
      def drained = listed.forall(op.jobEnd.contains) &&
        op.jobStart.keys.forall(op.jobEnd.contains) &&
        op.sqlStarted.forall(op.sqlEnded.contains)
      while (!drained && System.nanoTime() < deadline)
        lock.wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      if (!drained) op.add("trace.undrained", 1)
      // jobs the status store lists but whose start never reached the
      // listener while the op was open
      listed.filterNot(op.jobStart.contains).foreach(_ => op.add("trace.unmatched_jobs", 1))
      actionQe.foreach(recordQe(op, _))
      current = null
    }
    val wall = (op.end - op.start) / 1e3
    op.add("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
    op.add("jvm.gc_s", gcSeconds - gc0)
    op.add("jvm.code_cache_mb", codeCacheMb)
    op.add("sched.jobs", op.jobStart.size)
    op.add("sched.stages", op.stageWin.size)
    // job and planning intervals as their own clocks report them, not
    // clipped to the op: a job or phase attributed to the wrong op
    // shows as a negative remainder
    val jobIv = op.jobStart.keys.toSeq.map(j => (op.jobStart(j), op.jobEnd.getOrElse(j, op.end)))
    val jobUnion = Intervals.union(jobIv) / 1e3
    op.add("sched.job_wall_s", jobUnion)
    op.add("exec.busy_frac", if (jobUnion > 0) op.counts("exec.run_s") / (jobUnion * cores) else 0.0)
    val (ps, pe) = op.programWin
    val (as, ae) = op.actionWin
    op.add("program.build_s", (pe - ps) / 1e3)
    op.add("action_s", (ae - as) / 1e3)
    op.add("program.eager_jobs", op.jobStart.values.count(t => t >= ps && t <= pe))
    op.add("driver.outside_jobs_s", wall - jobUnion)
    val phaseIv = op.phases.map { case (_, s, e) => (s, e) }.toSeq
    val catalystOutside = (Intervals.union(phaseIv) - Intervals.overlap(phaseIv, jobIv)) / 1e3
    op.add("catalyst.outside_jobs_s", catalystOutside)
    op.add("driver.other_s", wall - jobUnion - catalystOutside)
    op.add("wall_s", wall)
    op.add("trace.close_s", (nowMs - op.end) / 1e3)
    recordSpans(op)
  }

  private def nextSpan(): Int = { spanIds += 1; spanIds }

  private def recordSpans(op: OpTrace): Unit = {
    val root = nextSpan()
    spans += Span(root, 0, op.id, "op", op.start, op.end)
    val prog = nextSpan()
    spans += Span(prog, root, op.id, "program", op.programWin._1, op.programWin._2)
    val act = nextSpan()
    spans += Span(act, root, op.id, "action", op.actionWin._1, op.actionWin._2)
    def parentOf(t: Double): Int =
      if (t >= op.actionWin._1 && t <= op.actionWin._2) act
      else if (t >= op.programWin._1 && t <= op.programWin._2) prog else root
    op.phases.foreach { case (name, s, e) =>
      spans += Span(nextSpan(), parentOf(s), op.id, s"catalyst.$name", s, e)
    }
    op.jobStart.toSeq.sortBy(_._1).foreach { case (j, s) =>
      val jid = nextSpan()
      spans += Span(jid, parentOf(s), op.id, "job", s, op.jobEnd.getOrElse(j, op.end),
        Map("job_id" -> j, "tag" -> op.tag))
      op.jobStages.getOrElse(j, Nil).flatMap(st => op.stageWin.get(st).map(st -> _)).foreach {
        case (st, (ss, se, n)) =>
          spans += Span(nextSpan(), jid, op.id, "stage", ss, se, Map("stage_id" -> st, "tasks" -> n))
      }
    }
    stageOwner.filterInPlace((_, o) => !(o eq op))
  }
}

object Intervals {
  private def merged(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((ls, le) :: rest, (s, e)) if s <= le => (ls, le.max(e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Total length covered by the intervals. */
  def union(iv: Seq[(Double, Double)]): Double = merged(iv).map { case (s, e) => e - s }.sum

  /** Length of the part of `a`'s union that `b`'s union also covers. */
  def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double = {
    val mb = merged(b)
    merged(a).map { case (s, e) =>
      mb.map { case (bs, be) => (e.min(be) - s.max(bs)).max(0.0) }.sum
    }.sum
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start.max(s.start), k.end.min(s.end)))
      s.id -> ((s.end - s.start) - union(c)).max(0.0)
    }.toMap
  }
}
