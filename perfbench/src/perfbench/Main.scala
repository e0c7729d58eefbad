package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftSession

/** One operation of the closed loop, with its wall time and the CPU time
  * the whole JVM spent while it ran. */
final case class Op(kind: String, name: String, phase: String, pass: Int, wall: Double,
                    cpu: Double, jit: Double, ok: Boolean, error: String, traced: Boolean,
                    check: Map[String, Any], layers: Map[String, Double])

/** What a workload sees: the live session, its data, the run's seed and
  * deadline, and `run`, which times one op, consumes and checks its
  * full result, records its layers when traced and releases its state. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
                val seed: Long, val seconds: Double,
                val expect: Map[String, Check.Digest], tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer[Op]()
  val info = mutable.LinkedHashMap[String, Any]()
  private var t0 = System.nanoTime()
  private val liveHeap = mutable.ArrayBuffer[Double]()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
  def timeLeft: Boolean = elapsed < seconds
  /** Start the measured loop's clock now, after a workload's own set-up. */
  def restartClock(): Unit = t0 = System.nanoTime()
  def rng(stream: Long) = new scala.util.Random(seed * 1000003L + stream)
  /** Peak over the measured passes of the heap in use once the
    * collections that end each pass have settled: the live set. */
  def liveHeapMb: Double = if (liveHeap.isEmpty) 0.0 else liveHeap.max
  def liveHeapSamples: Seq[Double] = liveHeap.toSeq

  /** End of a pass, untimed: drop every cached frame and collect the
    * heap. After a measured pass the collections repeat until the heap
    * in use settles, and that live set is sampled. Spark's cleaner
    * thread frees collected broadcasts' blocks only after a collection
    * finds them unreachable and only while it gets to run, hence the
    * pauses between collections. Within a pass no collection is
    * forced, so each op pays for the garbage of the ones before it. */
  def passDone(measured: Boolean): Unit = {
    spark.catalog.clearCache()
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    if (!measured) used
    else {
      // settled: three readings in a row within 1 MB
      val seen = mutable.ArrayBuffer(used)
      while (seen.size < 20 && (seen.size < 3 || seen.takeRight(3).max - seen.takeRight(3).min > 1.0)) {
        Thread.sleep(100)
        seen += used
      }
      liveHeap += seen.last
    }
  }

  /** Run one op: `program` returns the DataFrame (the call into graft,
    * eager jobs included), `action` consumes all of it (a collect or a
    * write), and `check` grades the rows (None = correct, Some(reason) =
    * wrong). In a traced run a repeatable measured repeat also runs once
    * untraced, as the control the tracing overhead is measured against;
    * which of the two goes first alternates, so warm-up favours neither. */
  def run(kind: String, name: String, phase: String, pass: Int, repeatable: Boolean = true)
         (program: => DataFrame)
         (action: DataFrame => Array[Row])
         (check: (DataFrame, Array[Row]) => (Option[String], Map[String, Any])): Op = {
    def go(traced: Boolean) = once(kind, name, phase, pass, traced)(program)(action)(check)
    if (tracer.isEmpty || phase != "repeat" || !repeatable) go(tracer.isDefined)
    else {
      controls += 1
      if (controls % 2 == 0) { go(false); go(true) } else { val op = go(true); go(false); op }
    }
  }
  private var controls = 0

  private def once(kind: String, name: String, phase: String, pass: Int, traced: Boolean)
                  (program: => DataFrame)
                  (action: DataFrame => Array[Row])
                  (check: (DataFrame, Array[Row]) => (Option[String], Map[String, Any])): Op = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val trace = if (traced) Some(tracer.get.begin()) else None
    var df: DataFrame = null
    var rows: Array[Row] = null
    var error: String = null
    val cpu0 = Main.processCpu()
    val jit0 = Main.jitCpu()
    val start = System.nanoTime()
    try {
      df = trace.fold(program)(t => tracer.get.program(t)(program))
      rows = trace.fold(action(df))(t => tracer.get.action(t)(action(df)))
    } catch {
      case e: Throwable => error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val wall = (System.nanoTime() - start) / 1e9
    val cpu = Main.processCpu() - cpu0
    val jit = Main.jitCpu() - jit0
    trace.foreach(t => tracer.get.end(t, Option(df).map(_.queryExecution)))
    val (verdict, detail) =
      if (error != null) (Some(error), Map.empty[String, Any])
      else try check(df, rows) catch {
        case e: Throwable => (Some(s"check failed: ${e.getMessage}"), Map.empty[String, Any])
      }
    // storage left behind by the op, counted before the (untimed) release
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    val layers = trace.map { t =>
      val cached = sc.getRDDStorageInfo.filter(i => left.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum / 1048576.0
      t.counts.toMap ++ Map("storage.persisted_rdds_left" -> left.size.toDouble,
        "storage.cached_mb" -> cached, "jvm.jit_cpu_s" -> jit)
    }.getOrElse(Map.empty)
    left.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    val op = Op(kind, name, phase, pass, wall, cpu, jit, verdict.isEmpty, verdict.orNull, traced,
      detail, layers)
    if (!op.ok) System.err.println(s"[perfbench] $kind $name $phase: ${op.error}")
    ops += op
    op
  }

  /** Grade a SQL program's rows against its oracle digest. */
  def oracleCheck(name: String)(df: DataFrame, rows: Array[Row]): (Option[String], Map[String, Any]) = {
    val got = Check.digest(df.columns.toSeq, rows)
    val detail = Map[String, Any]("rows" -> got.rows, "sha" -> got.sha)
    val verdict = expect.get(name) match {
      case None => Some("no oracle answer")
      case Some(e) if e.columns != got.columns => Some(s"columns ${got.columns} != oracle ${e.columns}")
      case Some(e) if e.rows != got.rows => Some(s"rows ${got.rows} != oracle ${e.rows}")
      case Some(e) if e.sha != got.sha => Some("values differ from oracle")
      case _ => None
    }
    // keep the rows of a wrong answer for `oracle.py --diff`
    verdict.foreach { _ =>
      val dir = Paths.get(workDir).resolveSibling("mismatch")
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"$name.txt"),
        Check.encode(df.columns.toSeq, rows).sorted.mkString("\n").getBytes(UTF_8))
    }
    (verdict, detail)
  }
}

object Workload {
  /** The default way an op consumes its result: all rows to the driver. */
  def collect(df: DataFrame): Array[Row] = df.collect()
}

trait Workload {
  def name: String
  /** Work done once per session set-up, after the session is built. */
  def warmUp(spark: SparkSession, dataDir: String): Unit
  /** The closed loop, recording every op in `ctx`. */
  def run(ctx: Ctx): Unit
}

object Main {
  /** CPU time of the whole JVM (every thread), in seconds; the kernel
    * counts it in 10 ms ticks. */
  def processCpu(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU time of the JIT compiler's threads, in seconds. */
  def jitCpu(): Double = sun.management.ManagementFactoryHelper.getHotspotThreadMBean
    .getInternalThreadCpuTimes.asScala.collect {
      case (name, ns) if name.contains("CompilerThread") => ns.longValue
    }.sum / 1e9

  private val workloads: Seq[Workload] = Seq(OlapMix, CorpusBuild, AnnServe)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = workloads.find(_.name == opt("workload")).getOrElse(
      sys.error(s"unknown workload ${opt("workload")}"))
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val trace = opt.getOrElse("trace", "0") == "1"
    val dataDir = opt("data")
    val expect = opt.get("expect").map(Json.readDigests).getOrElse(Map.empty)

    // set-up, from JVM start: session build, table load, warm-up op;
    // its wall time and the CPU time the JVM spent on it
    val spark = GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    workload.warmUp(spark, dataDir)
    val setup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupCpu = processCpu()
    val setupJit = jitCpu()
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    tracer.foreach(_.install())
    val ctx = new Ctx(spark, dataDir, opt("work"), opt("seed").toLong,
      opt("seconds").toDouble, expect, tracer)
    workload.run(ctx)
    tracer.foreach(_.uninstall())
    spark.stop()

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> ctx.seed, "cores" -> cores,
      "setup_s" -> setup, "setup_cpu_s" -> setupCpu, "setup_jit_cpu_s" -> setupJit, "live_heap_mb" -> ctx.liveHeapMb,
      "live_heap_samples_mb" -> ctx.liveHeapSamples,
      "loop_s" -> ctx.elapsed, "info" -> ctx.info,
      "ops" -> ctx.ops.map { o =>
        Map("kind" -> o.kind, "name" -> o.name, "phase" -> o.phase, "pass" -> o.pass,
          "wall_s" -> o.wall, "cpu_s" -> o.cpu, "jit_cpu_s" -> o.jit, "ok" -> o.ok, "error" -> o.error, "traced" -> o.traced,
          "check" -> o.check, "layers" -> o.layers)
      })
    tracer.foreach { t =>
      val self = Intervals.selfTimes(t.spans.toSeq)
      out("late_events") = t.lateEvents
      out("spans") = t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self(s.id)) ++ s.attrs)
    }
    Files.write(Paths.get(opt("out")), Json.write(out).getBytes(UTF_8))
  }
}

/** Just enough JSON for the benchmark's own files. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }

  /** The oracle answers perfbench/oracle.py writes: one line per program,
    * `name<TAB>rows<TAB>sha<TAB>col,col,...`. */
  def readDigests(path: String): Map[String, Check.Digest] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      f(0) -> Check.Digest(f(3).split(",").toSeq.filter(_.nonEmpty), f(1).toLong, f(2))
    }.toMap
}

/** Writes every registered oracle SQL and each workload's program list
  * as JSON, for perfbench/oracle.py. */
object ExportOracles {
  def main(args: Array[String]): Unit = {
    val out = Map(
      "oracles" -> graft.SparkEntry.oracleSql,
      "programs" -> Map(OlapMix.name -> OlapMix.programs, CorpusBuild.name -> CorpusBuild.programs))
    Files.write(Paths.get(args(0)), Json.write(out).getBytes(UTF_8))
  }
}
