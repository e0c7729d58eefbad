package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with scale-tuned defaults.
  *
  * The same settings we would ship on a 1000-executor cluster, scaled to
  * local[N]: AQE on (runtime partition coalescing + skew-join splitting),
  * shuffle partitions sized to the local core count, autoBroadcast for the
  * dimension tables. See SURVEY.md §6.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors.min(32))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // Codegen compile cache (STATIC conf, default 100 entries): a 225-
      // query analytics session rotates thousands of distinct generated
      // sources through one JVM, and at 100 entries the cache THRASHES —
      // every task of an evicted stage re-runs the Janino compile (~40 ms
      // CPU) under the cache's per-key loading lock, so task time grows
      // with the task count: the r17 inverse-scaling signature
      // (q155/q192: 32-core sum-of-task-time ~2× the 8-core run's for
      // identical data; a per-stage profile showed warm-run
      // executorRunTime halving when the cache fits — OPTIMIZATION_r18.md
      // item 1). Sized to hold a full bench
      // session's stages; executors on a real cluster run the same
      // long-lived rotation, so this is an engine default, not a
      // local-mode tune. A deployment overrides it on the returned
      // builder.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // AQE inside persisted plans (default false): the dedup/ANN
      // operators persist their index tables, and with this off every
      // shuffle BELOW a persist keeps the full conf-width partition
      // count (no runtime coalescing) — at 32 cores that is 32-task
      // stages over KB-scale shuffles, pure per-task overhead (the r17
      // inverse-scaling profile). The default guards cache-output
      // partitioning reuse; none of our cache consumers join on the
      // cached partitioning, and at warehouse scale AQE-coalesced
      // cached plans are exactly what production wants.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
      // read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // saveAsTable target (bucketed-table demos, specs) — keep the
      // warehouse out of the repo checkout
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
