package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, SubqueryExpression,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructType}
import org.apache.spark.unsafe.Platform

/** A per-session serving cache of the index state graft's ANN searches
  * read on every call: NSW walk graphs ([[NswWalk.Graph]]) and entry
  * tables for `Ann.nswSearch`/`nswSearchLsh`, and the rows of IVF
  * indexes for `Ann.ivfSearch` (and through it `ivfSearchHier`). Without
  * it each call reads the whole index again: the walk collects the
  * index, the edge table and the entry table to the driver and builds
  * the graph, and the IVF search runs a job over the index. With it a
  * search over unchanged reads runs no job for them.
  *
  * '''Key.''' A graph is held per read set: the qualified roots of the
  * index and edges reads plus the predicate (its analyzed expression,
  * columns by ordinal). An entry table is held per entries root, and
  * IVF rows per index root. Each held value records the [[Listing]] and
  * data schema of the reads it was built from, taken from the resolved
  * relation's file index (`PartitioningAwareFileIndex.allFiles()`):
  * exactly the files the uncached read scans, so asking costs no
  * filesystem call. A call whose reads list the same files serves the
  * held value.
  *
  * '''IVF rows.''' The (vec_id bigint, ve array<double>, cluster int)
  * projection [[IvfProbe.Scan]] reads ([[ivfColumns]]), as the scan's
  * tasks see it: each task's unsafe rows packed into one buffer. The
  * caller runs the same scan over them on the driver, so a served
  * search answers as the scan does. An index whose `cluster` is not an
  * int column is not held (see `Ann.probeIndex`), nor one whose size
  * estimate (`HadoopFsRelation.sizeInBytes`, the one Spark's broadcast
  * choice reads) exceeds the cache's bound.
  *
  * '''Append.''' When the index listing only grew (the same roots,
  * options and schema; every held file unchanged; new files added) and,
  * for a graph, the edges listing is unchanged, only the new files are
  * read, in one job, and the held value is extended: the graph through
  * [[NswWalk.Graph.extend]] (the graph `build` would make now, including
  * its duplicate-id check and the edges whose endpoints the new rows
  * bring), the IVF rows by the new files' rows.
  *
  * '''Rebuild.''' Any other change to the index or edges — a file
  * removed, rewritten or touched, a changed schema or option — builds
  * the value from scratch; any change to the entries listing collects
  * the entry table again. The new value replaces its slot's old one: a
  * read set never holds two.
  *
  * '''Bypass.''' A frame that is not a plain, unpartitioned parquet read
  * (a local or checkpointed frame, a computed table, a projection over
  * a read) is read on every call, uncached, as is a graph under a
  * non-deterministic predicate or one with a subquery.
  *
  * '''Bound.''' Each session holds at most [[MaxBytes]] of graphs, entry
  * tables and IVF rows together, least recently used out first; a value
  * larger than that is served but not held. The cache is locked per
  * call (Overlap analyzes on several threads); a held value is
  * immutable, so a search may read it while another call extends a copy.
  */
object WalkCache {

  /** Heap bytes of graphs, entry tables and IVF rows one session holds. */
  val MaxBytes: Long = 128L << 20

  /** A plain parquet read as the cache compares it. */
  private final case class Read(listing: Listing, schema: StructType)

  /** The relation of a plain read, with its file index. */
  private final case class Plain(fs: HadoopFsRelation, files: PartitioningAwareFileIndex,
                                 read: Read)

  private sealed trait Slot
  private final case class GraphSlot(index: Vector[String], edges: Vector[String],
                                     pred: Expression) extends Slot
  private final case class SeedSlot(entries: Vector[String]) extends Slot
  private final case class IvfSlot(index: Vector[String]) extends Slot

  private sealed trait Held { def bytes: Long }
  private final case class HeldGraph(index: Read, edges: Read, graph: NswWalk.Graph) extends Held {
    def bytes: Long = graph.bytes
  }
  private final case class HeldSeeds(entries: Read, byCell: Map[Int, Array[Long]]) extends Held {
    def bytes: Long = byCell.valuesIterator.map(8L * _.length + 48L).sum + 256L
  }
  private final case class HeldIvf(index: Read, parts: Vector[IvfPart]) extends Held {
    def bytes: Long = parts.iterator.map(p => p.bytes.length + 4L * p.ends.length + 64L).sum + 64L
  }

  /** One task's unsafe rows in one buffer: row i is bytes [ends(i - 1), ends(i)). */
  private final class IvfPart(val bytes: Array[Byte], val ends: Array[Int]) extends Serializable

  /** A bounded LRU map of held values, by bytes, locked per call. */
  final class Cache(val maxBytes: Long) {
    private val held = new java.util.LinkedHashMap[Slot, Held](16, 0.75f, true)
    private var total = 0L

    private[WalkCache] def get(s: Slot): Option[Held] = synchronized(Option(held.get(s)))

    private[WalkCache] def put(s: Slot, h: Held): Unit = synchronized {
      Option(held.remove(s)).foreach(old => total -= old.bytes)
      if (h.bytes <= maxBytes) { held.put(s, h); total += h.bytes }
      val eldest = held.values.iterator
      while (total > maxBytes && eldest.hasNext) { total -= eldest.next().bytes; eldest.remove() }
    }

    /** Values held. */
    def size: Int = synchronized(held.size)

    /** Bytes held. */
    def bytes: Long = synchronized(total)
  }

  // weak keys: a session's cache goes when the session does
  private val caches = new java.util.WeakHashMap[SparkSession, Cache]

  /** The one cache of `session`. */
  def cacheOf(session: SparkSession): Cache =
    caches.synchronized(caches.computeIfAbsent(session, _ => new Cache(MaxBytes)))

  /** The walk graph of the index rows (vec_id, ve, `pred` with null read
    * as false; null ids take no part) and the (u, v) edges with both
    * ends non-null, through the session's cache.
    */
  def graph(index: DataFrame, edges: DataFrame, pred: Option[Column]): NswWalk.Graph =
    graph(index, edges, pred, cacheOf(index.sparkSession))

  private[graft] def graph(index: DataFrame, edges: DataFrame, pred: Option[Column],
                           cache: Cache): NswWalk.Graph = {
    lazy val rows = indexRows(index, pred)
    val key = pred.fold(Option[Expression](Literal.TrueLiteral))(_ => predKey(rows))
    (plain(index), plain(edges), key) match {
      case (Some(ix), Some(ed), Some(pk)) =>
        val slot = GraphSlot(ix.read.listing.roots, ed.read.listing.roots, pk)
        val added = cache.get(slot) match {
          case Some(HeldGraph(i0, e0, g)) if e0 == ed.read && i0 == ix.read => return g
          case Some(HeldGraph(i0, e0, g)) if e0 == ed.read && i0.schema == ix.read.schema =>
            ix.read.listing.addedSince(i0.listing).map(files => (g, files))
          case _ => None
        }
        val g = added match {
          // one task: the driver takes every row anyway
          case Some((g0, files)) => g0.extend(collectRows(onlyFiles(rows, ix, files).coalesce(1)))
          case None => build(rows, edges)
        }
        cache.put(slot, HeldGraph(ix.read, ed.read, g))
        g
      case _ => build(rows, edges)
    }
  }

  /** The entry table's (cluster, vec_id) rows with both non-null, as
    * vec_ids by cluster, through the session's cache.
    */
  def seedsByCell(entries: DataFrame): Map[Int, Array[Long]] = {
    val cache = cacheOf(entries.sparkSession)
    plain(entries) match {
      case Some(en) =>
        val slot = SeedSlot(en.read.listing.roots)
        cache.get(slot) match {
          case Some(HeldSeeds(r, byCell)) if r == en.read => byCell
          case _ =>
            val byCell = collectSeeds(entries)
            cache.put(slot, HeldSeeds(en.read, byCell))
            byCell
        }
      case None => collectSeeds(entries)
    }
  }

  /** The rows of `index`, a plain parquet IVF index, as
    * [[IvfProbe.Scan]] reads them ([[ivfColumns]]), through the
    * session's cache. None when `index` is not a plain read, its
    * `cluster` column is not an int or its size estimate exceeds the
    * cache's bound: the caller scans it then. The rows are one reused
    * row, to be read before the next is asked for.
    */
  def ivfRows(index: DataFrame): Option[Iterator[InternalRow]] =
    ivfRows(index, cacheOf(index.sparkSession))

  private[graft] def ivfRows(index: DataFrame, cache: Cache): Option[Iterator[InternalRow]] =
    plain(index).filter(ix => index.schema("cluster").dataType == IntegerType &&
      ix.fs.sizeInBytes <= cache.maxBytes).map(ix => unpack(ivfParts(index, ix, cache)))

  private def ivfParts(index: DataFrame, ix: Plain, cache: Cache): Vector[IvfPart] = {
    val slot = IvfSlot(ix.read.listing.roots)
    lazy val rows = ivfColumns(index)
    val added = cache.get(slot) match {
      case Some(HeldIvf(r, parts)) if r == ix.read => return parts
      case Some(HeldIvf(r, parts)) if r.schema == ix.read.schema =>
        ix.read.listing.addedSince(r.listing).map(files => (parts, files))
      case _ => None
    }
    val parts = added match {
      // one task: the driver takes every row anyway
      case Some((had, files)) =>
        had ++ Tasks.collect(onlyFiles(rows, ix, files).coalesce(1).queryExecution.toRdd, PackIvf)
      case None => Tasks.collect(rows.queryExecution.toRdd, PackIvf).toVector
    }
    cache.put(slot, HeldIvf(ix.read, parts))
    parts
  }

  /** The (vec_id bigint, ve array<double>, cluster int) projection of an
    * IVF index that [[IvfProbe.Scan]] reads.
    */
  def ivfColumns(index: DataFrame): DataFrame =
    index.select(col("vec_id").cast(LongType), col("ve").cast(ArrayType(DoubleType)),
      col("cluster").cast(IntegerType))

  private def unpack(parts: Vector[IvfPart]): Iterator[InternalRow] = {
    val row = new UnsafeRow(3)
    parts.iterator.flatMap { p =>
      Iterator.range(0, p.ends.length).map { i =>
        val start = if (i == 0) 0 else p.ends(i - 1)
        row.pointTo(p.bytes, Platform.BYTE_ARRAY_OFFSET + start, p.ends(i) - start)
        row
      }
    }
  }

  private def collectSeeds(entries: DataFrame): Map[Int, Array[Long]] = {
    val spark = entries.sparkSession
    import spark.implicits._
    entries.select(col("cluster").cast(IntegerType), col("vec_id").cast(LongType))
      .filter(col("cluster").isNotNull && col("vec_id").isNotNull)
      .as[(Int, Long)].collect()
      .groupMap(_._1)(_._2)
  }

  /** The index rows the walk reads: (vec_id as long, ve as doubles,
    * predicate bit).
    */
  private def indexRows(index: DataFrame, pred: Option[Column]): DataFrame =
    index.filter(col("vec_id").isNotNull)
      .select(col("vec_id").cast(LongType), col("ve").cast(ArrayType(DoubleType)),
        coalesce(pred.getOrElse(lit(true)), lit(false)))

  /** The predicate bit's expression with columns by ordinal, when it is
    * safe to key on: deterministic and free of subqueries. No predicate
    * keys as `true`.
    */
  private def predKey(rows: DataFrame): Option[Expression] =
    rows.queryExecution.analyzed match {
      case Project(Seq(_, _, Alias(bit, _)), Filter(_, rel: LogicalRelation))
          if bit.deterministic && !SubqueryExpression.hasSubquery(bit) =>
        Some(QueryPlan.normalizeExpressions(bit, rel.output))
      case _ => None
    }

  /** `df` as a plain, unpartitioned, unbucketed batch parquet read. */
  private def plain(df: DataFrame): Option[Plain] =
    df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) =>
        fs.location match {
          case files: PartitioningAwareFileIndex
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
                fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty =>
            Some(Plain(fs, files, Read(
              Listing(files.rootPaths.map(_.toString), fs.options, files.allFiles()),
              fs.dataSchema)))
          case _ => None
        }
      case _ => None
    }

  /** `rows` (a projection of the read `ix`) over only `files` of it. The
    * file index lists nothing: it takes the statuses the read listed.
    */
  private def onlyFiles(rows: DataFrame, ix: Plain, files: Vector[Listing.File]): DataFrame = {
    val spark = rows.sparkSession
    val wanted = files.map(_.path).toSet
    val statuses = ix.files.allFiles().filter(s => wanted(s.getPath.toString))
      .map(s => s.getPath -> s).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        statuses.get(path).map(Array(_))
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, statuses.keys.toSeq, ix.fs.options, None, listed)
    val onlyNew = ix.fs.copy(location = index)(spark)
    Bridge.frame(spark, rows.queryExecution.analyzed.transform {
      case r: LogicalRelation if r.relation eq ix.fs => r.copy(relation = onlyNew)
    })
  }

  /** The graph of `rows` ([[indexRows]]) and `edges`, uncached. */
  private def build(rows: DataFrame, edges: DataFrame): NswWalk.Graph = {
    val pairs = Tasks.collect(edges.select(col("u").cast(LongType), col("v").cast(LongType))
      .filter(col("u").isNotNull && col("v").isNotNull).queryExecution.toRdd, PackEdges)
    NswWalk.Graph(collectRows(rows), Array.concat(pairs.map(_._1).toIndexedSeq: _*),
      Array.concat(pairs.map(_._2).toIndexedSeq: _*))
  }

  private def collectRows(rows: DataFrame): NswWalk.Rows =
    NswWalk.Rows.concat(Tasks.collect(rows.queryExecution.toRdd, PackRows).toSeq)

  /** One task's [[indexRows]] packed; a null element reads as 0.0, as in
    * CosineSim.
    */
  private object PackRows
      extends ((TaskContext, Iterator[InternalRow]) => NswWalk.Rows) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): NswWalk.Rows = {
      val ids = Array.newBuilder[Long]
      val ends = Array.newBuilder[Int]
      val values = Array.newBuilder[Double]
      val nulls = Array.newBuilder[Boolean]
      val ok = Array.newBuilder[Boolean]
      var end = 0
      it.foreach { r =>
        ids += r.getLong(0)
        nulls += r.isNullAt(1)
        if (!r.isNullAt(1)) {
          val a = r.getArray(1)
          var i = 0
          while (i < a.numElements()) {
            values += (if (a.isNullAt(i)) 0.0 else a.getDouble(i))
            i += 1
          }
          end += a.numElements()
        }
        ends += end
        ok += r.getBoolean(2)
      }
      new NswWalk.Rows(ids.result(), ends.result(), values.result(), nulls.result(), ok.result())
    }
  }

  private object PackEdges
      extends ((TaskContext, Iterator[InternalRow]) => (Array[Long], Array[Long])) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): (Array[Long], Array[Long]) = {
      val us = Array.newBuilder[Long]
      val vs = Array.newBuilder[Long]
      it.foreach { r => us += r.getLong(0); vs += r.getLong(1) }
      (us.result(), vs.result())
    }
  }

  /** One task's [[ivfColumns]] rows, copied into one buffer. The executed
    * plan's rows are unsafe rows, as Spark's own collect assumes.
    */
  private object PackIvf extends ((TaskContext, Iterator[InternalRow]) => IvfPart) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): IvfPart = {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      val ends = Array.newBuilder[Int]
      it.foreach { r => r.asInstanceOf[UnsafeRow].writeToStream(out, buf); ends += out.size() }
      new IvfPart(out.toByteArray, ends.result())
    }
  }
}
