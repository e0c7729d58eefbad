package graft

/** Benchmark main. Runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A failed query is recorded as "err" (not a fake timing) and excluded
  * from the total. Session comes from [[GraftSession]] so the bench path
  * exercises the same AQE/broadcast posture as production.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM + parquet footers once so per-query times measure the
    // query, not first-touch classloading.
    Tables.lineitem(spark, sfDir).count()
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Two timed runs per query, report the min. A single-shot timing is
    // at the mercy of WHERE a major GC pause lands: the r3 driver bench
    // showed isolated 10-30× spikes (q60 26 s for a 2-core-second plan)
    // that never reproduced under profiling — a stop-the-world
    // collection of 60 queries' accumulated garbage billed to whichever
    // query it interrupted. min-of-2 measures the query, not the pause;
    // per-query GC deltas are logged so the pause itself stays visible.
    def codeCacheUsedMb: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed).sum >> 20
    }
    // Per-query detail kept for the "slow" section of the JSON line —
    // r4's q11 ran 2.73 s on the driver (10× its local time) with BOTH
    // min-of-2 runs inflated and ratio/GC below the old logging
    // thresholds, so the run left no evidence. Now every query's two
    // runs, GC deltas, and code-cache level go to stderr, and queries
    // whose reported min exceeds 1.5 s carry their detail in the JSON
    // line itself (compact — only outliers).
    val slowDetail = collection.mutable.ArrayBuffer[(String, String)]()
    // Slow-watch registry (r12 VERDICT items 2/3/9): local min-of-2
    // floors measured on this machine (records/BENCH_LOCAL_r12 /
    // records/BENCH_LOCAL_sf1_r12). A min-of-2 exceeding 1.5× its floor keeps an
    // INLINE per-stage capture, so the bench record itself carries the
    // stage-level diagnosis — breaches get profiled, not re-adjudicated
    // as noise. Floors are machine+SF-specific: the sf1 map covers the
    // two registered sf1 floors, everything else applies at sf0.1.
    val floors: Map[String, Double] =
      // path-normalized scale detection (a trailing slash must not
      // silently apply sf0.1 floors to sf1 runs)
      // r14 re-pin (records/BENCH_LOCAL_r14 / records/BENCH_LOCAL_sf1_r14; the sf1
      // entries are the FIRST on the relational-decade data — r13's sf1
      // relational floors measured symlinked sf0.1 tables)
      // r16 re-pin (records/BENCH_LOCAL_r15 / records/BENCH_LOCAL_sf1_r15 — VERDICT r15
      // item 8): q214 joins the registry (kmeans-NSW, build-inclusive)
      // r17 re-pin (VERDICT r16 item 9): the four judge-named keys take
      // their r16 steady-state readings (q203's local floor is the
      // SOLO-JVM control, 6.32 — the in-sweep 10.4 was session texture,
      // bytes flat); every other key keeps min(old floor, r16) so the
      // floor stays the best-known number for this machine.
      if (new java.io.File(sfDir).getName == "sf1") Map(
        "q142_ivfpq_ann" -> 6.700, "q189_learned_threshold_dedup" -> 7.691,
        "q191_span_excision" -> 5.601, "q195_tokenized_packing" -> 5.144,
        "q203_graph_ann" -> 10.363, "q209_corpus_build_v3" -> 16.439,
        "q211_dedup_roi" -> 5.608, "q214_graph_ann_kmeans" -> 11.601)
      else Map(
        "q03_tpch_q3" -> 1.375, "q19_correlated_subquery" -> 0.842,
        "q142_ivfpq_ann" -> 4.711, "q146_bloom_semi_join" -> 0.782,
        "q155_dedup_threshold_calibration" -> 0.888,
        "q162_winnow_extents" -> 0.347, "q163_sequence_packing" -> 0.247,
        "q189_learned_threshold_dedup" -> 4.273,
        "q191_span_excision" -> 2.502, "q195_tokenized_packing" -> 3.766,
        "q203_graph_ann" -> 6.320, "q209_corpus_build_v3" -> 6.997,
        "q211_dedup_roi" -> 5.822, "q214_graph_ann_kmeans" -> 7.315)
    // the log is drained (untimed) before each timed run and read after
    // each run of a floored query; the stages are kept only when the
    // query's min-of-2 breaches its floor
    val stageLog = graft.tools.StageLog.attach(spark.sparkContext)
    // A System.gc() before EVERY query's timed runs, not every 4th: the
    // r5 driver bench showed the stride-4 posture is position-dependent
    // under machine load. The divergent queries (q62 21×, q155 8.7×
    // driver/local) were the two biggest persist-index builders, and the
    // queries scheduled right after q155 (q156 8.9×, q157 10.4×)
    // inflated with them while the global median sat at 1.31× —
    // accumulated garbage + async cache teardown from a heavy
    // predecessor landing inside a later query's timed window.
    // Per-query GC costs untimed wall-clock only (~0.1 s × 168) and
    // makes every query start from the same heap state regardless of
    // where it sits in the run order. It also lets the ContextCleaner
    // reclaim dropped broadcast/shuffle state at a
    // controlled point (its own periodic GC defaults to 30 min —
    // longer than the whole run). See BENCHNOTES.md for the A/B.
    // Optional regex filter for local experiments on a sub-sequence of
    // the run order (positional effects need real neighbors, so this
    // selects a contiguous alphabetical range rather than reordering).
    val filter = sys.env.get("SPARK_GRAFT_FILTER").map(_.r)
    val results: Seq[(String, Either[String, Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => filter.forall(_.findFirstIn(name).isDefined) }
        .map { case (name, fn) =>
        System.gc()
        type Stages = Seq[graft.tools.StageLog.Stage]
        def once(): Either[String, (Double, Long, Stages)] = {
          stageLog.drain()
          val g0 = gcMillis
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            // a floored query's heaviest stages, kept until the min-of-2
            // says whether the floor was breached
            val stg: Stages =
              if (floors.contains(name)) stageLog.drain().sortBy(-_.wall).take(10)
              else Nil
            Right((dt, gcMillis - g0, stg))
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              Left("err")
          }
        }
        def breached(t: Double): Boolean = floors.get(name).exists(f => t > 1.5 * f)
        def logStages(run: String, stg: Stages): Unit = stg.foreach { s =>
          System.err.println(f"[slowstage] $name run=$run id=${s.id}%3d tasks=${s.tasks}%3d " +
            f"wall=${s.wall}%6.2f s task=${s.run}%7.2f s  ${s.name}")
        }
        // a filtered JVM runs the query without the earlier queries of a
        // full sweep warming the JIT, so its breach may be warm-up alone
        def noteCold(): Unit = if (filter.isDefined)
          System.err.println(
            s"[slowstage] $name filtered run: cold JVM; floors are full-sweep readings")
        val r = (once(), once()) match {
          case (Right((a, ga, sa0)), Right((b, gb, sb0))) =>
            System.err.println(
              f"[bench] $name runs=($a%.3f, $b%.3f) s gc=($ga, $gb) ms cc=${codeCacheUsedMb} MB")
            // a breach is the min-of-2 above 1.5× the floor: one slow run
            // alone is a cold first run's JVM and codegen warm-up (q162
            // filtered alone: 7.41 s then 0.57 s against a 0.347 s floor)
            val (sa, sb) = if (breached(math.min(a, b))) (sa0, sb0) else (Nil, Nil)
            logStages("a", sa); logStages("b", sb)
            if (breached(math.min(a, b))) noteCold()
            // the floor-breach stage table rides the slow JSON section:
            // top 3 stages of the faster run (the min-of-2 that breached;
            // the slower one is the likelier to carry warm-up), compact
            val breach = if (sa.nonEmpty || sb.nonEmpty) {
              val stg = if (a <= b) sa else sb
              stg.take(3).map { s =>
                f"""{"id":${s.id},"n":${s.tasks},"w":${s.wall}%.2f,"t":${s.run}%.2f}""" }
                .mkString(""","stg":[""", ",", "]")
            } else ""
            if (math.min(a, b) > 1.5 || breach.nonEmpty)
              slowDetail += name -> f"""{"a":$a%.2f,"b":$b%.2f,"gc":${math.max(ga, gb)},"cc":$codeCacheUsedMb$breach}"""
            name -> Right(math.min(a, b))
          case (Right((a, _, sa)), _) =>
            if (breached(a)) { logStages("a", sa); noteCold() }
            name -> Right(a)
          case (_, Right((b, _, sb))) =>
            if (breached(b)) { logStages("b", sb); noteCold() }
            name -> Right(b)
          case _ => name -> Left("err")
        }
        // Isolate queries from each other: drop every cached frame the
        // query (or an operator it called) registered — leaked index
        // caches accumulating across a 100+-query session contribute to
        // exactly that GC pressure. The clear runs OUTSIDE the timed
        // region: index caching is part of the operator being measured,
        // teardown of a previous query is not.
        spark.catalog.clearCache()
        r
      }
    // Keep the JSON line compact (qNN keys, 3-decimal seconds): the driver
    // captures only the tail of stdout, and a full-names line risks
    // overflowing it (the r2 line was cut mid-stream and parsed as null).
    def fmt(v: Double): String = f"$v%.3f"
    def key(k: String): String = k.takeWhile(_ != '_')
    // Solo-JVM control for the slowest queries (r17, VERDICT r16 item
    // 6): accumulated-session texture — memory-store pressure, code
    // cache, GC debris from 200+ earlier queries — inflates the
    // heavies' in-sweep walls (q203 read 10.4 s inside the r16 sweep
    // vs 6.32 s in a hand-run fresh JVM minutes later, bytes flat).
    // With SPARK_GRAFT_SOLO_N > 0 (local records only; default 0 keeps
    // the driver's timing budget unchanged) Bench forks ONE fresh
    // filtered JVM over the N slowest queries after the sweep and
    // attaches their solo min-of-2 as "solo" in the record file — the
    // texture adjudication becomes an artifact, not a session anecdote.
    // The child runs with SPARK_GRAFT_FILTER set, so it can never
    // recurse (solo forking is gated on an unfiltered run).
    val soloN = sys.env.getOrElse("SPARK_GRAFT_SOLO_N", "0").toInt
    val solo: Seq[(String, Double)] = if (soloN > 0 && filter.isEmpty) {
      import scala.jdk.CollectionConverters._
      val slowest = results.collect { case (k, Right(v)) => (k, v) }
        .sortBy(-_._2).take(soloN).map(_._1)
      val pat = slowest.map(k => "^" + java.util.regex.Pattern.quote(k) + "$")
        .mkString("|")
      val tmp = java.nio.file.Files.createTempFile("bench_solo", ".json")
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java").getPath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      System.err.println(s"[bench] solo control: forking fresh JVM for ${slowest.mkString(", ")}")
      try {
        val pb = new ProcessBuilder(cmd.asJava)
        pb.environment().put("SPARK_GRAFT_FILTER", pat)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", tmp.toString)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val code = pb.start().waitFor()
        if (code != 0) { System.err.println(s"[bench] solo JVM exited $code"); Nil }
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(tmp), "UTF-8")
          val qsec = """"(q\d+)":([0-9.]+)""".r
          val m = qsec.findAllMatchIn(txt)
            .map(x => x.group(1) -> x.group(2).toDouble).toMap
          slowest.flatMap(k => m.get(key(k)).map(key(k) -> _))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] solo control failed: ${e.getMessage}"); Nil
      } finally { try java.nio.file.Files.deleteIfExists(tmp) catch { case _: Throwable => () } }
    } else Nil
    val qs = results.map {
      case (k, Right(v)) => s""""${key(k)}":${fmt(v)}"""
      case (k, Left(_))  => s""""${key(k)}":"err""""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(v)) => v }.sum
    val slow = slowDetail.map { case (k, v) => s""""${key(k)}":$v""" }.mkString("{", ",", "}")
    val soloPart = if (solo.isEmpty) "" else
      solo.map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString(""","solo":{""", ",", "}")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"slow":$slow$soloPart,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only the stdout TAIL (~2000 chars): at 168
    // queries the full line above no longer fits, so its FRONT — metric,
    // value, the first third of the queries map — falls out of the
    // window (records/BENCH_r04/r05 both landed with parsed:null and 57 query
    // times unrecoverable). Emit a compact summary as the LAST line:
    // it always fits the window whole, so the driver's parse succeeds
    // even when the full line is clipped. r8: the summary now carries
    // the COMPLETE per-query record as `qcs` — centisecond integers
    // keyed by the bare query number (~9 chars/query keeps 175 queries
    // plus the wrapper under the window; the 3-decimal full map and
    // slow detail stay in the long line + file copy; err → -1). The
    // slow section is capped to the 2 worst offenders and dropped
    // entirely if the line would near the window edge. A filtered
    // experiment run is marked so its subset total can never be read
    // as a full-run bench of record.
    val nErr = results.count(_._2.isLeft)
    val qcs = results.map {
      case (k, Right(v)) => s""""${key(k).stripPrefix("q")}":${math.round(v * 100)}"""
      case (k, Left(_))  => s""""${key(k).stripPrefix("q")}":-1"""
    }.mkString("{", ",", "}")
    val slowTop = slowDetail.sortBy { case (k, _) =>
      -results.collectFirst { case (n, Right(v)) if n == k => v }.getOrElse(0.0)
    }.take(2).map { case (k, v) => s""""${key(k)}":$v""" }.mkString("{", ",", "}")
    val filteredFlag = if (filter.isDefined) ""","filtered":true""" else ""
    def summary(withSlow: Boolean): String = {
      val slowPart = if (withSlow) s""","slow":$slowTop""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"err":$nErr,"qcs":$qcs$slowPart$filteredFlag,"sf":"$sfDir"}"""
    }
    val withSlow = summary(withSlow = true)
    val noSlow = summary(withSlow = false)
    // Final fallback tier (r8 ADVICE): if even the slow-free summary
    // outgrows the window (5-digit centisecond values, query-count
    // growth), drop qcs too — total/n/err must ALWAYS parse whole.
    val minimal =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"err":$nErr$filteredFlag,"sf":"$sfDir"}"""
    println(
      if (withSlow.length <= 1900) withSlow
      else if (noSlow.length <= 1900) noSlow
      else minimal)
    // belt-and-braces: the full line's file copy. A filtered run writes
    // to a separate file so it cannot clobber the full-run record that
    // bench_diff.py baselines against.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (filter.isDefined) "target/bench_filtered.json" else "target/bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath), line.getBytes)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
