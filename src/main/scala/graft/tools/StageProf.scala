package graft.tools

import graft._

/** Stage-level profiler: runs named queries (args) in Bench's session —
  * local[SPARK_GRAFT_CPUS] with as many shuffle partitions — min-of-2
  * with a cache clear after each run, like Bench, and prints every
  * stage of each run: wall time, task count, summed task run/CPU/GC
  * time and the RDD callsites that ran in it. Run ≫ cpu marks tasks
  * blocked on locks or memory rather than computing (how the r17
  * inverse-scaling set was dissected; OPTIMIZATION_r18.md); the tool
  * also found the single-row-group starvation and the interpreted-lambda
  * hot spots (SURVEY.md §6).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=N \
  *   tools/run.sh graft.tools.StageProf q62_dedup_minhash ...
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stages = StageLog.attach(spark.sparkContext)
    val names = if (args.nonEmpty) args.toSeq else Seq("q62_dedup_minhash")
    names.foreach { name =>
      (1 to 2).foreach { run =>
        stages.drain()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, d).count()
        val secs = (System.nanoTime() - t0) / 1e9
        stages.drain().foreach { s =>
          println(f"[stg] id=${s.id}%4d tasks=${s.tasks}%3d wall=${s.wall}%6.2f s " +
            f"run=${s.run}%7.2f s cpu=${s.cpu}%7.2f s gc=${s.gc}%5.2f s  ${s.name} :: ${s.callsites}")
        }
        println(f"[total] $name run=$run cpus=$cpus $secs%.2f s rows=$n")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
