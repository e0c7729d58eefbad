package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-generated test schema (TESTDATA.md).
  *
  * Mirrors the reference's TPC-H connector surface
  * (reference: presto-tpch/src/main/java/com/facebook/presto/tpch/TpchMetadata.java:1)
  * re-expressed as plain parquet scans so Catalyst gets pushdown + pruning.
  */
object Tables {
  /** `$dir/$name.parquet`, read with no explicit schema. In a graft
    * session [[graft.plans.SchemaPin]] pins the schema: the first load of
    * a table infers it (a one-task job plus a footer read), and a later
    * load whose key is unchanged reuses it and starts no job. The key is
    * the qualified path, the reader options, the session's
    * `spark.sql.parquet.*`/`spark.sql.legacy.parquet.*` values and
    * `spark.sql.caseSensitive`, and the (name, length, mtime) of each
    * file in the table directory, parquet summary files included and
    * Spark's hidden files skipped. A written, appended, removed or
    * touched file, or a changed option or conf, invalidates the entry.
    * A partitioned table directory passes through and is inferred on
    * every load, as is a `mergeSchema` read and every load in a
    * Hive-enabled session (see SchemaPin).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped in two physical flavors across testdata
    * generations: TIMESTAMP(NANOS) (Spark reads it as long nanos under
    * spark.sql.legacy.parquet.nanosAsLong) and plain timestamp[us]
    * (Spark 4 reads it as TIMESTAMP_NTZ). Normalize both to
    * TimestampType here so downstream code sees one type; with the UTC
    * session timezone the NTZ→LTZ cast is value-preserving.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val base = load(s, d, "events")
    base.schema("ts").dataType match {
      case LongType =>
        // integer DIV, not `/`: nanos epochs (~1.7e18) exceed double's 2^53
        // mantissa, so float division would corrupt low-order micros
        base.withColumn("ts", timestamp_micros(expr("ts DIV 1000L")))
      case TimestampType => base
      case _ => base.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  /** The corpus tables feed CPU-heavy per-row pipelines (shingling,
    * sketch hashing, vector kernels). A small parquet file is a single
    * row group — one task would do all that work while the rest of the
    * cluster idles — so rebalance up to the session's shuffle
    * parallelism when the table is small. "Small" is decided from file
    * bytes alone (one filesystem stat): anything under one scan split
    * (`spark.sql.files.maxPartitionBytes`) cannot parallelize off the
    * scan. No `.rdd` / physical-plan materialization at load time, and
    * at warehouse scale (table ≫ one split) this is a no-op.
    */
  private def rebalanced(s: SparkSession, dir: String, name: String,
                         prefilter: Option[org.apache.spark.sql.Column],
                         bytesPerPartition: Long = 0L): DataFrame = {
    val base = load(s, dir, name)
    // filter BELOW the rebalance: the predicate reaches the parquet scan
    // (pushdown) and only the surviving rows pay the round-robin shuffle
    val df = prefilter.fold(base)(base.filter)
    val conf = s.sessionState.conf
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val (bytes, files) =
      try {
        val c = path.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(path)
        (c.getLength, c.getFileCount)
      } catch { case _: Throwable => (Long.MaxValue, Long.MaxValue) }
    // a single file within the open cost is one scan split whatever the
    // split size works out to: min(maxPartitionBytes, max(openCost, ·))
    val oneSplit = files == 1 && bytes <= conf.filesOpenCostInBytes
    if (bytes >= conf.filesMaxPartitionBytes) df
    else if (bytesPerPartition <= 0L) df.repartition(conf.numShufflePartitions)
    else {
      val target = math.max(1L, math.min(conf.numShufflePartitions.toLong,
        (bytes + bytesPerPartition - 1) / bytesPerPartition)).toInt
      // a shuffle from one split into one partition spreads nothing
      if (target == 1 && oneSplit) df else df.repartition(target)
    }
  }

  /** Documents rebalance is BYTE-SIZED like [[embeddings]] (guide §2.2,
    * r18): ~64 KB of compressed text per partition ≈ 500 docs ≈ tens to
    * hundreds of ms of shingle/minhash kernel work — enough to amortize
    * per-task overhead (page allocs, codegen-cache lookups, block-manager
    * locks: the r17 inverse-scaling profile showed ~30-40 ms of per-task
    * run time that scaled with the PARTITION COUNT, not the data), while
    * a small corpus still fans out (sf0.1: 10 partitions). Conf-clamped:
    * at warehouse scale the table exceeds one scan split and the
    * rebalance is a no-op, so cluster width is unaffected.
    */
  private val DocBytesPerPartition = 64L << 10

  def documents(s: SparkSession, d: String): DataFrame =
    rebalanced(s, d, "documents", None, bytesPerPartition = DocBytesPerPartition)
  /** Pre-filtered corpus load: the predicate is applied below the
    * rebalance so it pushes to the scan — a caller that wants 200 docs
    * must not shuffle the whole corpus first.
    */
  def documents(s: SparkSession, d: String, prefilter: org.apache.spark.sql.Column): DataFrame =
    rebalanced(s, d, "documents", Some(prefilter),
      bytesPerPartition = DocBytesPerPartition)
  /** Embeddings rebalance is BYTE-SIZED, not conf-wide (guide §2.2).
    * The documents table keeps the full session width — its per-row
    * kernels (shingle hashing, minhash, word pipelines) are
    * milliseconds per row, so a small corpus still wants every core.
    * Embedding consumers' per-row kernels are microseconds (a cosine
    * per candidate); their genuinely CPU-dense passes (NN-Descent
    * scoring, PQ training) size their own exchanges (Ann.annParallelism)
    * — so a conf-wide rebalance here only multiplied every downstream
    * stage's task count by 32 at small scale. ~1 MB per partition
    * (~2.5k vectors) keeps dozens of tasks off each of the ANN
    * family's chained stages locally while growing partitions linearly
    * with the table, conf-clamped at cluster scale. A table of one
    * file that fits one partition (under 1 MB: sf0.01, sf0.1) is read
    * as its one scan split, with no shuffle.
    */
  def embeddings(s: SparkSession, d: String): DataFrame =
    rebalanced(s, d, "embeddings", None, bytesPerPartition = 1L << 20)
}
