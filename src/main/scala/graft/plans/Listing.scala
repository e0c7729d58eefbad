package graft.plans

import java.util.Locale

import org.apache.hadoop.fs.FileStatus

/** What a file-based read sees, as graft's caches compare it: the read's
  * qualified root paths, its reader options (keys lower-cased, sorted)
  * and every file it reads as (qualified path, length, mtime), sorted.
  * Two reads with equal listings read the same bytes, up to a file
  * rewritten in place with the same name, length and mtime (mtime has
  * millisecond resolution on a local disk): that is the price of never
  * reading a file to ask whether it changed.
  *
  * The one way graft asks "has this read changed". [[SchemaPin]] lists
  * an unresolved read's paths itself, before Spark resolves it, and
  * keeps the files Spark infers its schema from; [[WalkCache]] takes the
  * files of a resolved relation's file index, the set the read scans.
  */
final case class Listing(roots: Vector[String], options: Vector[(String, String)],
                         files: Vector[Listing.File]) {

  /** The files added since `old` when this listing only grew from it:
    * the same roots and options, every file of `old` unchanged, and at
    * least one new file. None otherwise.
    */
  def addedSince(old: Listing): Option[Vector[Listing.File]] =
    if (roots != old.roots || options != old.options) None
    else {
      val now = files.toSet
      val had = old.files.toSet
      val added = files.filterNot(had)
      if (added.isEmpty || !had.forall(now)) None else Some(added)
    }
}

object Listing {

  final case class File(path: String, length: Long, mtime: Long)

  def apply(roots: Seq[String], options: Map[String, String],
            files: Seq[FileStatus]): Listing =
    Listing(roots.toVector,
      options.toVector.map { case (k, v) => (k.toLowerCase(Locale.ROOT), v) }.sorted,
      files.map(s => File(s.getPath.toString, s.getLen, s.getModificationTime)).toVector
        .sortBy(f => (f.path, f.length, f.mtime)))
}
