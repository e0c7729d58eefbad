package graft

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ann
import graft.plans.WalkCache

/** The serving cache ([[graft.plans.WalkCache]]) against the uncached
  * searches. A search over plain parquet reads of the index, edges and
  * entries goes through the session's cache; the same reads behind a
  * `select("*")` are not plain and bypass it, so every call collects and
  * builds afresh (the walk) or scans the index in a job (`ivfSearch`).
  * After each change to each of the three directories — an appended,
  * rewritten, touched and deleted file — the cached search must give
  * the uncached one's (qid, cid, raw sim bits, rn), compiled and
  * interpreted, on the walk's IVF and LSH faces, after `nswInsert`, and
  * for `ivfSearch` over the held IVF rows after each change to the
  * index. Plus: an append that links an edge the earlier graph could
  * not, an append that repeats an id (which throws), the jobs and rows
  * an append and a repeat cost, the IVF indexes that are never held,
  * the byte bound, one value per read set and one cache per session.
  */
class WalkCacheSpec extends SparkSpec {
  import spark.implicits._

  // the sf0.1 tables (2,000 vectors) sit beside the default sfDir's
  private lazy val corpus =
    Tables.embeddings(spark, new File(sfDir).getParent + "/sf0.1")
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint()

  /** Corpus vectors moved off the data: ids shifted by `idBase`. */
  private def near(ids: Column, idBase: Long): DataFrame =
    corpus.filter(ids).select((col("vec_id") + idBase).as("vec_id"),
      expr("transform(embedding, (x, i) -> x + 0.05 * sin(i + vec_id))").as("embedding"),
      col("label"))

  /** `df` as a driver-local batch: collecting it runs no job. */
  private def local(df: DataFrame, s: SparkSession = spark): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private lazy val cents = Ann.ivfFit(corpus, c = 45, iters = 2)
  private lazy val queries =
    local(near(col("vec_id") % 50 === 3, 1000000L).select("vec_id", "embedding"))
  private val nBits = 5

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"walkcache_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Index, edges and entries directories, each written as several files. */
  private final class Dirs(val base: String) {
    val index = s"$base/index"
    val edges = s"$base/edges"
    val entries = s"$base/entries"
    def dir(t: String): String = s"$base/$t"
  }

  private def write(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(path)

  /** A served layout over `index` (vec_id, ve, cluster, label). */
  private def layout(name: String, index: DataFrame): Dirs = {
    val d = new Dirs(tmp(name))
    write(index.repartition(3), d.index)
    write(Ann.nswBuild(index, kNbr = 8, rounds = 2).repartition(3), d.edges)
    write(Ann.nswEntriesSampled(index).repartition(2), d.entries)
    d
  }

  /** Index rows (vec_id, ve, cluster, label) of `face` over `vecs`. */
  private def indexOf(face: Face, vecs: DataFrame): DataFrame = (face match {
    case Ivf | Scan => Ann.ivfEncode(vecs, cents)
    case Lsh => Ann.nswLshIndex(vecs, nBits)
  }).join(vecs.select("vec_id", "label"), "vec_id")

  private lazy val ivfIndex = indexOf(Ivf, corpus).localCheckpoint()
  private lazy val lshIndex = indexOf(Lsh, corpus).localCheckpoint()
  private lazy val ivfBase = layout("ivf", ivfIndex)
  private lazy val lshBase = layout("lsh", lshIndex)

  /** A copy of `d`'s files under a new root: a read set no cache holds. */
  private def copyOf(d: Dirs, name: String): Dirs = {
    val to = new Dirs(tmp(name))
    Seq("index", "edges", "entries").foreach { t =>
      new File(to.dir(t)).mkdirs()
      new File(d.dir(t)).listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath, new File(to.dir(t), f.getName).toPath)
      }
    }
    to
  }

  private def cached(p: String): DataFrame = spark.read.parquet(p)
  private def uncached(p: String): DataFrame = spark.read.parquet(p).select("*")

  private sealed trait Face { def search(d: Dirs, read: String => DataFrame, qs: DataFrame): DataFrame }
  private object Ivf extends Face {
    def search(d: Dirs, read: String => DataFrame, qs: DataFrame): DataFrame =
      Ann.nswSearch(cents, read(d.edges), read(d.index), read(d.entries), qs, k = 6,
        excludeSelf = false)
  }
  private object Lsh extends Face {
    def search(d: Dirs, read: String => DataFrame, qs: DataFrame): DataFrame =
      Ann.nswSearchLsh(read(d.edges), read(d.index), read(d.entries), qs, k = 6, nBits = nBits,
        hops = 3)
  }

  /** `ivfSearch` over the IVF layout's index: no walk. */
  private object Scan extends Face {
    def search(d: Dirs, read: String => DataFrame, qs: DataFrame): DataFrame =
      Ann.ivfSearch(cents, read(d.index), qs, k = 6, nprobe = 3, excludeSelf = false)
  }

  private def answers(df: DataFrame): Seq[(Long, Long, Option[Long], Int)] =
    df.select(col("qid").cast("long"), col("cid").cast("long"), col("sim"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        r.getInt(3)))
      .toSeq.sorted

  /** The cached search's answers, checked against the uncached walk's,
    * compiled and interpreted.
    */
  private def same(face: Face, d: Dirs, qs: DataFrame = queries): Seq[(Long, Long, Option[Long], Int)] = {
    var got = Seq.empty[(Long, Long, Option[Long], Int)]
    bothModes { mode =>
      got = answers(face.search(d, cached, qs))
      val want = answers(face.search(d, uncached, qs))
      assert(want.nonEmpty, s"$mode: the uncached walk answered nothing")
      assert(got == want, s"$mode: ${got.size} vs ${want.size} rows; only cached " +
        s"${got.diff(want).take(5)}; only uncached ${want.diff(got).take(5)}")
    }
    got
  }

  private def parts(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.getName.startsWith("part-")).sortBy(_.getName).toSeq

  /** Deletes a data file and its checksum. */
  private def remove(f: File): Unit = {
    new File(f.getParent, s".${f.getName}.crc").delete()
    assert(f.delete(), s"could not delete $f")
  }

  /** Rows to append to `table` of `d` (index rows: new ids near the data). */
  private def more(face: Face, d: Dirs, table: String): DataFrame = table match {
    case "index" => indexOf(face, near(col("vec_id") % 19 === 2, 7000000L))
    case "edges" =>
      cached(d.index).filter(col("vec_id") % 17 === 5)
        .select(col("vec_id").as("u"), (col("vec_id") + 1).as("v"), lit(0.5).as("sim"))
    case "entries" =>
      cached(d.index).filter(col("vec_id") % 23 === 1).select("cluster", "vec_id")
  }

  /** A table's rows without some of them, materialized so that it can
    * overwrite the directory it was read from.
    */
  private def fewer(d: Dirs, table: String): DataFrame = {
    val key = if (table == "edges") "u" else "vec_id"
    cached(d.dir(table)).filter(col(key) % 7 =!= 3).localCheckpoint()
  }

  private def mutate(face: Face, d: Dirs, table: String, change: String): Unit = change match {
    case "append" => write(more(face, d, table), d.dir(table), "append")
    case "rewrite" => write(fewer(d, table), d.dir(table))
    case "touch" =>
      val f = parts(d.dir(table)).head
      assert(f.setLastModified(f.lastModified() + 60000L))
    case "delete" => remove(parts(d.dir(table)).last)
  }

  for (face <- Seq(Ivf, Lsh); table <- Seq("index", "edges", "entries");
       change <- Seq("append", "rewrite", "touch", "delete")) {
    val faceName = if (face == Ivf) "IVF" else "LSH"
    test(s"$faceName face: after a $change of the $table, the cached walk answers as the uncached") {
      val d = copyOf(if (face == Ivf) ivfBase else lshBase, s"${faceName}_${table}_$change")
      same(face, d)
      mutate(face, d, table, change)
      val after = same(face, d)
      assert(answers(face.search(d, cached, queries)) == after)
    }
  }

  for (change <- Seq("append", "rewrite", "touch", "delete")) {
    test(s"IVF search: after a $change of the index, the held rows answer as the scan") {
      val d = copyOf(ivfBase, s"scan_$change")
      same(Scan, d)
      mutate(Scan, d, "index", change)
      val after = same(Scan, d)
      val (again, jobs) = countJobs(answers(Scan.search(d, cached, queries)))
      assert(again == after && jobs == 0, s"a repeat ran $jobs jobs")
    }
  }

  test("IVF search: a bigint cluster, a filtered index and an index over the bound are scanned") {
    val d = copyOf(ivfBase, "scan_bypass")
    val wide = new Dirs(tmp("scan_bigint"))
    write(cached(d.index).withColumn("cluster", col("cluster").cast("long")), wide.index)
    val filtered = (p: String) => cached(p).filter(col("label") % 3 =!= 0)
    for ((what, dirs, read) <- Seq(("a bigint cluster", wide, cached _),
                                   ("a filtered index", d, filtered))) {
      assert(WalkCache.ivfRows(read(dirs.index)).isEmpty, what)
      val want = answers(Scan.search(dirs, (p: String) => read(p).select("*"), queries))
      val (got, jobs) = countJobs(answers(Scan.search(dirs, read, queries)))
      assert(got == want && got.nonEmpty, what)
      assert(jobs == 1, s"$what: the search ran $jobs jobs, want the one scan")
    }
    val index = cached(d.index)
    val bound = index.queryExecution.analyzed.stats.sizeInBytes.toLong
    assert(WalkCache.ivfRows(index, new WalkCache.Cache(bound - 1)).isEmpty)
    val cache = new WalkCache.Cache(WalkCache.MaxBytes)
    assert(countJobs(WalkCache.ivfRows(index, cache).map(_.size))._2 == 1)
    assert(countJobs(WalkCache.ivfRows(index, cache).map(_.size)) == ((Some(index.count().toInt), 0)))
  }

  test("LSH face after nswInsert appends a batch and rewrites the edges") {
    val d = copyOf(lshBase, "insert")
    same(Lsh, d)
    val batch = near(col("vec_id") % 20 === 11, 5000000L)
    val (_, newEdges) = Ann.nswInsert(batch.select("vec_id", "embedding"),
      cached(d.index).select("vec_id", "ve", "cluster"), cached(d.edges), nBits, kNbr = 8)
    val e1 = newEdges.localCheckpoint()
    write(indexOf(Lsh, batch), d.index, "append")
    write(e1, d.edges)
    val qs = local(near(col("vec_id") % 40 === 11, 6000000L).select("vec_id", "embedding"))
    val got = same(Lsh, d, qs)
    assert(got.exists(_._2 >= 5000000L), "no inserted vector was found")
  }

  test("an index append links the edges whose endpoints it brings") {
    // the edges are built over every row; the first index lacks a tenth
    // of them, so the edges that name those rows are not linked
    val full = ivfIndex
    val held = full.filter(col("vec_id") % 10 === 4)
    val d = new Dirs(tmp("revive"))
    write(full.filter(col("vec_id") % 10 =!= 4).repartition(2), d.index)
    write(Ann.nswBuild(full, kNbr = 8, rounds = 2), d.edges)
    write(Ann.nswEntriesSampled(full.filter(col("vec_id") % 10 =!= 4)), d.entries)
    val qs = local(near(col("vec_id") % 10 === 4 && col("vec_id") % 30 =!= 0, 8000000L)
      .select("vec_id", "embedding"))
    val before = same(Ivf, d, qs)
    assert(!before.exists(_._2 % 10 == 4))
    val g0 = WalkCache.graph(cached(d.index), cached(d.edges), None)
    write(held, d.index, "append")
    val after = same(Ivf, d, qs)
    assert(after.exists(_._2 % 10 == 4), "no appended row was reached")
    val g1 = WalkCache.graph(cached(d.index), cached(d.edges), None)
    assert(g0.strayEdges > 0 && g1.strayEdges == 0,
      s"${g0.strayEdges} edges unlinked before the append, ${g1.strayEdges} after")
    assert(g1.n == g0.n + held.count())
  }

  test("an index append that repeats an id throws, and leaves the held graph as it was") {
    val d = copyOf(ivfBase, "dup")
    val want = same(Ivf, d)
    val g0 = WalkCache.graph(cached(d.index), cached(d.edges), None)
    val had = parts(d.index).toSet
    write(cached(d.index).filter(col("vec_id") === 77).localCheckpoint(), d.index, "append")
    Seq[String => DataFrame](cached, uncached).foreach { read =>
      val e = intercept[IllegalArgumentException](Ivf.search(d, read, queries).collect())
      assert(e.getMessage.contains("duplicate vec_id 77"), e.getMessage)
    }
    parts(d.index).filterNot(had).foreach(remove)
    assert(WalkCache.graph(cached(d.index), cached(d.edges), None) eq g0,
      "the held graph changed")
    assert(answers(Ivf.search(d, cached, queries)) == want)
  }

  test("an index append reads only the new files, in one job; a repeat runs none") {
    val d = copyOf(ivfBase, "append_cost")
    same(Ivf, d)
    val add = indexOf(Ivf, near(col("vec_id") % 9 === 1, 9000000L)).localCheckpoint()
    val n = add.count()
    // after the first data file: the read keeps its pinned schema (SchemaPin)
    appendFile(add, d.index, "part-99999-appended.parquet")
    val (_, jobs, read) = countRead(Ivf.search(d, cached, queries).collect())
    assert(jobs == 1 && read == n, s"$jobs jobs read $read rows, want 1 job of $n")
    val (_, again) = countJobs(Ivf.search(d, cached, queries).collect())
    assert(again == 0, s"a repeat ran $again jobs")
    same(Ivf, d)
  }

  test("a predicate is part of the read set; a non-deterministic one bypasses") {
    val d = copyOf(ivfBase, "pred")
    val cache = new WalkCache.Cache(WalkCache.MaxBytes)
    def serve(pred: Option[Column]) =
      countJobs(WalkCache.graph(cached(d.index), cached(d.edges), pred, cache))._2
    assert(serve(None) > 0 && serve(None) == 0)
    assert(serve(Some(col("label") % 3 === 0)) > 0 && serve(Some(col("label") % 3 === 0)) == 0)
    assert(cache.size == 2)
    assert(serve(Some(rand(1) < 0.5)) > 0 && serve(Some(rand(1) < 0.5)) > 0)
    assert(cache.size == 2)
  }

  test("a changed listing replaces its read set's value") {
    val d = copyOf(ivfBase, "replace")
    val cache = new WalkCache.Cache(WalkCache.MaxBytes)
    def serve() = WalkCache.graph(cached(d.index), cached(d.edges), None, cache)
    serve()
    mutate(Ivf, d, "index", "append")
    serve()
    mutate(Ivf, d, "edges", "rewrite")
    serve()
    mutate(Ivf, d, "index", "delete")
    val g = serve()
    assert(cache.size == 1, s"${cache.size} values for one read set")
    assert(cache.bytes == g.bytes)
  }

  test("the byte bound evicts the least recently used value; a larger one is not held") {
    val (a, b) = (copyOf(ivfBase, "bound_a"), copyOf(lshBase, "bound_b"))
    val one = WalkCache.graph(cached(a.index), cached(a.edges), None).bytes
    val cache = new WalkCache.Cache(one * 3 / 2)
    def serve(d: Dirs) =
      countJobs(WalkCache.graph(cached(d.index), cached(d.edges), None, cache))._2
    assert(serve(a) > 0 && serve(a) == 0)
    assert(serve(b) > 0)
    assert(cache.size == 1 && cache.bytes <= one * 3 / 2)
    assert(serve(b) == 0)
    assert(serve(a) > 0, "the least recently used graph was not evicted")
    val tiny = new WalkCache.Cache(1024L)
    WalkCache.graph(cached(a.index), cached(a.edges), None, tiny)
    assert(tiny.size == 0 && tiny.bytes == 0)
  }

  test("two sessions never share a value") {
    val d = copyOf(ivfBase, "sessions")
    same(Ivf, d)
    val other = spark.newSession()
    assert(WalkCache.cacheOf(other) ne WalkCache.cacheOf(spark))
    val qs = local(queries, other)
    def search(s: SparkSession) =
      Ann.nswSearch(cents, s.read.parquet(d.edges), s.read.parquet(d.index),
        s.read.parquet(d.entries), qs, k = 6, excludeSelf = false).collect()
    val (_, first) = countJobs(search(other))
    val (_, repeat) = countJobs(search(other))
    assert(first >= 3 && repeat == 0, s"$first jobs in a fresh session, $repeat on repeat")
    assert(WalkCache.cacheOf(other).size == 2)
  }
}
