package graft.plans

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedDataSource}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Pins the schema of a parquet read whose files have not changed since
  * an earlier read, so that Spark does not infer it again. Inference is a
  * one-task job plus a footer read on the driver, paid on every
  * `spark.read.parquet` — every `Tables.load` and every re-read of an
  * index directory.
  *
  * A hint-resolution rule: the hints batch runs before the resolution
  * batch, whose `ResolveDataSource` infers the schema of an
  * `UnresolvedDataSource` without one. For a batch parquet read with no
  * user schema the rule fills `userSpecifiedSchema` from the session's
  * cache. On a miss it leaves the node to Spark's own inference and tags
  * it with its key; [[SchemaPin.Record]], a check rule, then files the
  * schema the inference produced under that key.
  *
  * '''Key.''' The format; the read's [[Listing]] (the qualified paths,
  * the reader options and the files Spark infers from); the session's
  * `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*` and
  * `spark.sql.caseSensitive` values (GraftSession's `nanosAsLong` turns
  * a TIMESTAMP(NANOS) column into a long). With `mergeSchema` off Spark
  * infers from one file (`ParquetUtils.inferSchema`): the first
  * `_common_metadata` summary, else the first `_metadata`, else the
  * first data file, by path across the listing
  * (`ParquetUtils.splitFiles`). So the listing's files are every
  * summary file and the first data file of each path's one-level
  * `listStatus`, Spark's other hidden files (`_SUCCESS`, `.crc`, …)
  * skipped, as its file index skips them. A read with an option that
  * filters the files (`pathGlobFilter`, `modifiedBefore`,
  * `modifiedAfter`) keys on every file listed instead. The listing is
  * taken before inference, so a file that changes while Spark infers
  * gives the next read a new key.
  *
  * '''Invalidation.''' Any change to a key part is a miss: a rewritten
  * or touched first data file, a data file that now sorts first, an
  * added, removed or changed summary file, or a changed option or conf.
  * A data file appended after the first keeps the pin: the rows come
  * from Spark's own listing at resolution, only the schema is pinned. A
  * file rewritten in place with the same name, length and mtime (mtime
  * has millisecond resolution on a local disk) would be missed; that is
  * the price of never reading a footer on a hit. Each session's cache is
  * bounded to [[SchemaPin.MaxEntries]], least recently used out first.
  *
  * '''Pass-through.''' The rule leaves alone a `mergeSchema` read (the
  * option, or `spark.sql.parquet.mergeSchema`), a path that holds a
  * subdirectory (a partitioned table), a glob, a streaming source, a
  * path given as an option, any format but parquet, a path that cannot
  * be listed, and a relation with partition columns (a `basePath` read).
  * Spark infers those as it always has. So does every read in a
  * Hive-enabled session (`enableHiveSupport()`, spark-shell's default):
  * Spark 4.1's `HiveSessionStateBuilder` builds its analyzer without the
  * hint-resolution rules, and no other analyzer slot that it honours
  * runs before `ResolveDataSource`, so the pin never sees the read there.
  */
final class SchemaPin(session: SparkSession, cache: SchemaPin.Cache)
    extends Rule[LogicalPlan] {
  import SchemaPin._

  def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u @ UnresolvedDataSource(format, None, _, false, _)
        if format.equalsIgnoreCase("parquet") && u.getTagValue(KeyTag).isEmpty =>
      keyOf(u).fold(u: LogicalPlan) { key =>
        cache.get(key) match {
          case Some(schema) => u.copy(userSpecifiedSchema = Some(schema))
          case None => u.setTagValue(KeyTag, key); u
        }
      }
  }

  private def keyOf(u: UnresolvedDataSource): Option[Key] = {
    val conf = session.sessionState.conf
    val merge = u.options.get("mergeSchema")
      .fold(conf.isParquetSchemaMergingEnabled)(!_.equalsIgnoreCase("false"))
    if (merge || u.paths.isEmpty || u.options.contains("path") ||
        u.options.contains("paths")) return None
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(u.options.originalMap)
    val listed = u.paths.map(list(_, hadoopConf))
    if (listed.exists(_.isEmpty)) return None
    val files = listed.flatten.flatMap(_._2)
    val (summaries, data) = files.partition(s => SummaryFiles(s.getPath.getName))
    val read =
      if (FileFilters.exists(u.options.contains)) files
      else summaries ++ data.minByOption(_.getPath.toString)
    Some(Key(
      u.format.toLowerCase(Locale.ROOT),
      Listing(listed.flatten.map(_._1), u.options.originalMap, read),
      conf.getAllConfs.toVector.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") || k == "spark.sql.caseSensitive"
      }.sorted))
  }

  /** The qualified path and its files, or None when the path is a glob,
    * holds a subdirectory or cannot be listed.
    */
  private def list(p: String, hadoopConf: org.apache.hadoop.conf.Configuration)
      : Option[(String, Seq[FileStatus])] =
    if (p.exists("{}[]*?\\".contains(_))) None
    else try {
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      val qualified = fs.makeQualified(path)
      val status = fs.getFileStatus(qualified)
      val files: Seq[FileStatus] =
        if (status.isFile) Seq(status)
        else fs.listStatus(qualified).toSeq
          .filterNot(s => Bridge.hiddenPathName(s.getPath.getName))
      if (files.exists(_.isDirectory)) None else Some(qualified.toString -> files)
    } catch { case NonFatal(_) => None }
}

object SchemaPin {

  /** Entries per session: one per distinct unchanged path and read set-up. */
  val MaxEntries = 256

  /** Parquet's summary files, which inference reads before any data file. */
  private val SummaryFiles = Set("_common_metadata", "_metadata")

  /** Reader options that choose which of the listed files a read sees. */
  private val FileFilters = Seq("pathGlobFilter", "modifiedBefore", "modifiedAfter")

  /** What a pinned schema was inferred from; see the class doc. */
  final case class Key(format: String, listing: Listing, confs: Vector[(String, String)])

  private[plans] val KeyTag = TreeNodeTag[Key]("graft.schemaPin.key")

  /** A bounded LRU map, locked per call: Overlap analyzes DataFrames on
    * several threads.
    */
  final class Cache {
    private val entries =
      new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
          this.size > MaxEntries
      }
    def get(k: Key): Option[StructType] = synchronized(Option(entries.get(k)))
    def put(k: Key, schema: StructType): Unit = synchronized { entries.put(k, schema); () }
    def size: Int = synchronized(entries.size)
  }

  // weak keys: a session's cache goes when the session does
  private val caches = new java.util.WeakHashMap[SparkSession, Cache]

  /** The one cache of `session`, shared by its pin and record rules. */
  def cacheOf(session: SparkSession): Cache =
    caches.synchronized(caches.computeIfAbsent(session, _ => new Cache))

  /** Check rule: files the schema Spark inferred for a tagged read under
    * the read's key. It runs on each analyzed plan, after Spark's own checks.
    */
  final class Record(cache: Cache) extends (LogicalPlan => Unit) {
    def apply(plan: LogicalPlan): Unit = plan.foreach {
      case r: LogicalRelation => r.getTagValue(KeyTag).foreach { key =>
        r.unsetTagValue(KeyTag)
        r.relation match {
          case fs: HadoopFsRelation if fs.partitionSchema.isEmpty =>
            cache.put(key, fs.dataSchema)
          case _ =>
        }
      }
      case _ =>
    }
  }
}
