package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder, TimestampNTZType, TimestampType}
import graft.plans.SchemaPin

/** SchemaPin: a read whose files have not changed since an earlier read
  * takes its schema from the session's cache instead of an inference
  * job. Each pinned (cache-hit) read is compared with Spark's own
  * inference of the same path — a read carrying a reader option no
  * earlier read used, which is always a miss: identical schema (names,
  * types, nullability, field metadata) and identical rows.
  */
class SchemaPinSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"schemapin_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  private val probes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Spark's own inference of `path`: a fresh option value makes a new
    * key, so the read is never pinned.
    */
  private def inferred(path: String): DataFrame =
    spark.read.option("schemaPinProbe", probes.incrementAndGet().toString).parquet(path)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `read` (run after a first read of the same path) equals Spark's
    * inference, and whether it started a job.
    */
  private def assertSame(read: => DataFrame, path: String): Int = {
    val (df, jobs) = countJobs(read)
    val want = inferred(path)
    assert(df.schema == want.schema, s"pinned ${df.schema.treeString} vs ${want.schema.treeString}")
    assert(rows(df) == rows(want))
    jobs
  }

  /** The first data file of `dir` by path: the one Spark infers from. */
  private def partFile(dir: String): String =
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).min

  /** A frame with nested, non-nullable and metadata-carrying columns. */
  private def sample(n: Int): DataFrame = {
    val md = new MetadataBuilder().putString("comment", "pinned").build()
    spark.range(n).select(
      col("id"),
      (col("id") % 7).cast("int").as("bucket", md),
      struct(col("id").as("a"), lit("x").as("b")).as("s"),
      array(col("id"), lit(null).cast("long")).as("arr"),
      when(col("id") % 3 === 0, lit(null)).otherwise(concat(lit("v"), col("id"))).as("txt"))
  }

  test("a flat directory and a single file: the pinned read equals inference and starts no job") {
    val dir = tmp("flat")
    sample(200).repartition(3).write.mode("overwrite").parquet(s"$dir/t")
    val path = s"$dir/t"
    val (_, first) = countJobs(spark.read.parquet(path))
    assert(first >= 1, "the first read of a path infers its schema (a job)")
    assert(assertSame(spark.read.parquet(path), path) == 0,
      "the second analysis of an unchanged directory must start no job")
    val file = partFile(path)
    spark.read.parquet(file)
    assert(assertSame(spark.read.parquet(file), file) == 0,
      "the second analysis of an unchanged file must start no job")
    // Tables' reads go through the same rule
    Tables.lineitem(spark, sfDir)
    val (_, tablesJobs) = countJobs(Tables.lineitem(spark, sfDir))
    assert(tablesJobs == 0)
  }

  test("a directory appended to between reads: the next read is a miss and sees the new rows") {
    val path = s"${tmp("append")}/t"
    sample(100).write.parquet(path)
    spark.read.parquet(path)
    assert(spark.read.parquet(path).count() == 100)
    // a file that sorts before every part file: Spark now infers from it
    appendFile(sample(150).filter(col("id") >= 100), path, "a-first.parquet")
    val jobs = assertSame(spark.read.parquet(path), path)
    assert(jobs >= 1, "a new first data file changes the key: the read must infer again")
    assert(spark.read.parquet(path).count() == 150)
  }

  test("an append that sorts after the first data file keeps the pin and sees the new rows") {
    val path = s"${tmp("append_after")}/t"
    sample(100).repartition(2).write.parquet(path)
    spark.read.parquet(path)
    // an extra column that Spark's inference, from the first file, never sees
    appendFile(sample(150).filter(col("id") >= 100).withColumn("extra", lit(1)), path,
      "z-last.parquet")
    val (df, jobs) = countJobs(spark.read.parquet(path))
    assert(jobs == 0, s"an append after the first data file ran $jobs inference jobs")
    assert(!df.columns.contains("extra") && df.count() == 150)
    assertSame(spark.read.parquet(path), path)
  }

  test("an added or changed summary file and a rewritten first data file infer again") {
    val dir = tmp("summary")
    val path = s"$dir/t"
    sample(100).repartition(3).write.parquet(path)
    sample(10).select("id", "txt").coalesce(1).write.parquet(s"$dir/narrow")
    sample(10).select("id").coalesce(1).write.parquet(s"$dir/narrower")
    def reread(what: String, columns: Seq[String]): Unit = {
      assert(assertSame(spark.read.parquet(path), path) >= 1, s"$what: the read must infer again")
      val (df, jobs) = countJobs(spark.read.parquet(path))
      assert(df.columns.toSeq == columns && jobs == 0, s"$what: ${df.columns.toSeq}, $jobs jobs")
    }
    spark.read.parquet(path)
    val summary = Paths.get(path, "_common_metadata")
    Files.copy(Paths.get(partFile(s"$dir/narrow")), summary)
    reread("an added summary", Seq("id", "txt"))
    Files.copy(Paths.get(partFile(s"$dir/narrower")), summary, StandardCopyOption.REPLACE_EXISTING)
    reread("a changed summary", Seq("id"))
    // the key of the first read again: its pin serves
    Files.delete(summary)
    val (df, jobs) = countJobs(spark.read.parquet(path))
    assert(jobs == 0 && df.columns.toSeq == sample(1).columns.toSeq)
    assertSame(spark.read.parquet(path), path)
    val first = new java.io.File(partFile(path))
    new java.io.File(first.getParent, s".${first.getName}.crc").delete()
    Files.copy(Paths.get(partFile(s"$dir/narrow")), first.toPath, StandardCopyOption.REPLACE_EXISTING)
    reread("a rewritten first data file", Seq("id", "txt"))
  }

  test("a read whose option filters its files keys on every file it lists") {
    val dir = tmp("filtered")
    val path = s"$dir/t"
    sample(100).repartition(2).write.parquet(path)
    sample(10).select("id", "txt").coalesce(1).write.parquet(s"$dir/narrow")
    // sorts first, but the filter keeps Spark from inferring from it
    Files.copy(Paths.get(partFile(s"$dir/narrow")), Paths.get(path, "a-skipped.parquet"))
    def read = spark.read.option("pathGlobFilter", "part-*").parquet(path)
    read
    val (before, jobs) = countJobs(read)
    assert(jobs == 0 && before.columns.toSeq == sample(1).columns.toSeq)
    val first = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-")).minBy(_.getPath)
    new java.io.File(first.getParent, s".${first.getName}.crc").delete()
    Files.copy(Paths.get(partFile(s"$dir/narrow")), first.toPath, StandardCopyOption.REPLACE_EXISTING)
    val (after, again) = countJobs(read)
    assert(again >= 1 && after.columns.toSeq == Seq("id", "txt"),
      s"a rewritten first part file: ${after.columns.toSeq}, $again jobs")
  }

  test("a file overwritten in place with a different schema is read with its new schema") {
    val dir = tmp("overwrite")
    sample(50).coalesce(1).write.parquet(s"$dir/a")
    spark.range(80).select(col("id").cast("string").as("other"), lit(1.5).as("d"))
      .coalesce(1).write.parquet(s"$dir/b")
    val file = s"$dir/one.parquet"
    Files.copy(Paths.get(partFile(s"$dir/a")), Paths.get(file))
    spark.read.parquet(file)
    assert(assertSame(spark.read.parquet(file), file) == 0)
    Files.copy(Paths.get(partFile(s"$dir/b")), Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
    val df = spark.read.parquet(file)
    assert(df.columns.toSeq == Seq("other", "d"))
    assertSame(spark.read.parquet(file), file)
    assert(spark.read.parquet(file).count() == 80)
  }

  test("a partitioned directory and a mergeSchema read pass through unchanged") {
    val dir = tmp("passthrough")
    sample(120).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(s"$dir/part")
    val part = s"$dir/part"
    spark.read.parquet(part)
    val before = SchemaPin.cacheOf(spark).size
    val partJobs = assertSame(spark.read.parquet(part), part)
    assert(partJobs >= 1, "a partitioned directory is never pinned")
    assert(spark.read.parquet(part).schema.fieldNames.last == "p")

    val merged = s"$dir/merged"
    spark.range(10).select(col("id")).write.parquet(merged)
    spark.range(10, 20).select(col("id"), lit("y").as("extra")).write.mode("append").parquet(merged)
    def mergeRead = spark.read.option("mergeSchema", "true").parquet(merged)
    mergeRead
    val (df, mergeJobs) = countJobs(mergeRead)
    assert(mergeJobs >= 1, "a mergeSchema read is never pinned")
    assert(df.columns.toSeq == Seq("id", "extra"))
    assert(rows(df) == rows(spark.read.option("mergeSchema", "true")
      .option("schemaPinProbe", "m").parquet(merged)))
    assert(SchemaPin.cacheOf(spark).size == before, "pass-through reads record nothing")
  }

  /** The first `n` sf0.001 events, with ts (TIMESTAMP_NTZ there) as
    * epoch nanos, written as TIMESTAMP(NANOS) by parquet's own writer —
    * the other physical flavour of events.ts.
    */
  private def writeNanosEvents(file: String, src: Array[Row]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try src.foreach { r =>
      val g = groups.newGroup()
      val ts = r.getAs[java.time.LocalDateTime]("ts").toInstant(java.time.ZoneOffset.UTC)
      g.add("event_id", r.getAs[Long]("event_id"))
      g.add("ts", ts.getEpochSecond * 1000000000L + ts.getNano)
      g.add("user_id", r.getAs[Long]("user_id"))
      g.add("event_type", r.getAs[String]("event_type"))
      g.add("value", r.getAs[Double]("value"))
      g.add("props", r.getAs[String]("props"))
      w.write(g)
    } finally w.close()
  }

  test("Tables.events: both physical flavours of events.ts read the same pinned and inferred") {
    val micros = tmp("events_us")
    val nanos = tmp("events_ns")
    val src = spark.read.parquet(s"$sfDir/events.parquet").orderBy("event_id").limit(40).collect()
    spark.read.parquet(s"$sfDir/events.parquet").orderBy("event_id").limit(40)
      .coalesce(1).write.parquet(s"$micros/events.parquet")
    writeNanosEvents(s"$nanos/events.parquet", src)
    assert(inferred(s"$micros/events.parquet").schema("ts").dataType == TimestampNTZType)
    assert(inferred(s"$nanos/events.parquet").schema("ts").dataType == LongType)
    val answers = Seq(micros, nanos).map { d =>
      val first = Tables.events(spark, d)
      val (pinned, jobs) = countJobs(Tables.events(spark, d))
      assert(jobs == 0, s"$d: the second events load must be pinned")
      assert(pinned.schema == first.schema)
      assert(pinned.schema("ts").dataType == TimestampType)
      assert(rows(pinned) == rows(first))
      assertSame(spark.read.parquet(s"$d/events.parquet"), s"$d/events.parquet")
      rows(pinned)
    }
    assert(answers.head == answers(1), "both flavours normalize to the same events")
  }

  test("a change to spark.sql.legacy.parquet.nanosAsLong between reads is a miss") {
    val dir = tmp("nanos_conf")
    val file = s"$dir/events.parquet"
    writeNanosEvents(file, spark.read.parquet(s"$sfDir/events.parquet").limit(10).collect())
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(key)
    def outcome(df: => DataFrame): Either[String, (String, Seq[String])] =
      Try(df).map(d => (d.schema.json, rows(d))).toEither.left.map(_.getClass.getName)
    try {
      spark.conf.set(key, "true")
      spark.read.parquet(file)
      assert(spark.read.parquet(file).schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      val off = outcome(spark.read.parquet(file))
      assert(off == outcome(inferred(file)),
        "under nanosAsLong=false the read must be what Spark infers, not the pinned long")
      spark.conf.set(key, "true")
      val (df, jobs) = countJobs(spark.read.parquet(file))
      assert(jobs == 0 && df.schema("ts").dataType == LongType)
    } finally spark.conf.set(key, was)
  }

  test("the cache never holds more than MaxEntries entries, least recently used out first") {
    val cache = new SchemaPin.Cache
    val schema = spark.range(1).schema
    def key(i: Int) = SchemaPin.Key("parquet", graft.plans.Listing(Vector(s"file:/t$i"),
      Vector.empty, Vector(graft.plans.Listing.File(s"file:/t$i/part-0.parquet", i.toLong, 0L))),
      Vector.empty)
    (0 until SchemaPin.MaxEntries).foreach(i => cache.put(key(i), schema))
    assert(cache.size == SchemaPin.MaxEntries)
    assert(cache.get(key(0)).contains(schema)) // key 0 is now the most recent
    (SchemaPin.MaxEntries until SchemaPin.MaxEntries + 40).foreach { i =>
      cache.put(key(i), schema)
      assert(cache.size <= SchemaPin.MaxEntries)
    }
    assert(cache.size == SchemaPin.MaxEntries)
    assert(cache.get(key(0)).isDefined, "a recently read entry stays")
    assert(cache.get(key(1)).isEmpty, "the least recently used entries go first")
    assert(SchemaPin.cacheOf(spark).size <= SchemaPin.MaxEntries)
  }
}
