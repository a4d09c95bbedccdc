package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The store's physical footprint, from plain filesystem listings of the
  * benchmark's own store root, taken between timed calls. */
object StoreFiles {
  final case class Entry(size: Long, mtimeMs: Long)
  /** Regular files under the root, keyed by their path relative to it. */
  type Listing = Map[String, Entry]

  final case class Diff(bytesWritten: Long, bytesDeleted: Long,
                        filesCreated: Int, filesDeleted: Int) {
    def +(o: Diff): Diff = Diff(bytesWritten + o.bytesWritten, bytesDeleted + o.bytesDeleted,
      filesCreated + o.filesCreated, filesDeleted + o.filesDeleted)
  }
  val NoDiff: Diff = Diff(0, 0, 0, 0)

  def list(root: Path): Listing =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString.replace('\\', '/') ->
          Entry(Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** What happened between two listings. A new path is a created file; a
    * path whose size or mtime changed was rewritten in place, so its new
    * bytes count as written and its old bytes as deleted. */
  def diff(before: Listing, after: Listing): Diff = {
    val created = after.keySet -- before.keySet
    val deleted = before.keySet -- after.keySet
    val rewritten = (after.keySet & before.keySet).filter(k => after(k) != before(k))
    Diff(
      bytesWritten = (created ++ rewritten).toSeq.map(after(_).size).sum,
      bytesDeleted = (deleted ++ rewritten).toSeq.map(before(_).size).sum,
      filesCreated = created.size,
      filesDeleted = deleted.size)
  }

  def liveBytes(l: Listing): Long = l.valuesIterator.map(_.size).sum

  // Bucketed-writer data files end in `_<bucketId>` before the extension
  // (the engine's compaction names its rewrites the same way).
  private val BucketFile = """part-.*_(\d+)(?:\..*)?$""".r
  private val Generation = """.*_g\d{13,}""".r

  /** The most data files any one bucket of any one table directory holds. */
  def maxFilesPerBucket(l: Listing): Int = {
    val perBucket = l.keys.toSeq.flatMap { k =>
      val i = k.lastIndexOf('/')
      val (dir, name) = if (i < 0) ("", k) else (k.substring(0, i), k.substring(i + 1))
      name match { case BucketFile(b) => Some((dir, b)); case _ => None }
    }.groupBy(identity).values.map(_.size)
    if (perBucket.isEmpty) 0 else perBucket.max
  }

  /** Generation directories (`<stem>_g<nanos>`) that still hold files. */
  def generationsLive(l: Listing): Int =
    l.keys.flatMap(_.split('/').dropRight(1).filter(Generation.matches)).toSet.size
}
