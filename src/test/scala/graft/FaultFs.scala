package graft

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Test-only fault injection: the local filesystem under the `faultfs://`
  * scheme, failing exactly one chosen mutation. A directory armed with N
  * ([[FaultFs.arm]]) counts every `create`, `rename` and `delete` on a
  * path under it, and every `mkdirs` that creates a directory (from any
  * instance — the scheme is uncached), and its Nth call throws an
  * IOException before it touches the disk; every other call passes
  * through. A `mkdirs` of a directory that exists changes nothing, and is
  * not counted: tasks writing side by side race to make their common
  * parent (`_temporary/0/_temporary`), and counting every caller that
  * found it missing made a clean run's count differ from run to run.
  * Reads and listings are never counted, so a store on `faultfs://<dir>`
  * behaves exactly like one on `file://<dir>` except at the armed crash
  * point. Directories are armed independently, so stores in different
  * directories can be swept concurrently. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${FaultFs.Scheme}:///")
  override def getScheme: String = FaultFs.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.tick("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.tick("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(p: Path): Boolean = FaultFs.mkdirsLock.synchronized {
    if (!pathToFile(p).isDirectory) FaultFs.tick("mkdirs", p)
    super.mkdirs(p)
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    FaultFs.mkdirsLock.synchronized {
      if (!pathToFile(p).isDirectory) FaultFs.tick("mkdirs", p)
      super.mkdirs(p, permission)
    }
}

object FaultFs {
  val Scheme = "faultfs"

  /** The injected failure, recognisable in a cause chain. */
  class Injected(op: String, path: Path, n: Int)
    extends java.io.IOException(s"$Scheme: injected fault at mutation #$n ($op $path)")

  private final class Armed(val failAt: Int) {
    var calls = 0
    var fired: Option[(String, Path)] = None
  }

  /** What an armed directory saw: the fault that fired, if any, and how
    * many mutations it counted (a fired fault's included). */
  case class Record(fired: Option[(String, Path)], calls: Int)

  /** Makes "is it a directory yet?" and the `mkdirs` one step, so exactly
    * one of two racing callers counts the directory it creates. */
  private val mkdirsLock = new Object
  private val armed = new java.util.concurrent.ConcurrentHashMap[String, Armed]()

  /** Route `faultfs://` paths of `spark`'s Hadoop conf to [[FaultFs]]. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `dir` as a `faultfs` URI string. */
  def uri(dir: java.nio.file.Path): String = s"$Scheme://${dir.toAbsolutePath}"

  /** Start counting mutations under `dir`, failing the `n`th (0: none). */
  def arm(dir: java.nio.file.Path, n: Int): Unit =
    armed.put(dir.toAbsolutePath.toString, new Armed(n))

  /** Stop counting under `dir`; returns what it saw since [[arm]]. */
  def disarm(dir: java.nio.file.Path): Record =
    Option(armed.remove(dir.toAbsolutePath.toString))
      .fold(Record(None, 0))(a => a.synchronized(Record(a.fired, a.calls)))

  private def tick(op: String, p: Path): Unit = {
    val path = p.toUri.getPath
    armed.forEach { (dir, a) =>
      if (path == dir || path.startsWith(dir + "/")) a.synchronized {
        a.calls += 1
        if (a.calls == a.failAt) {
          a.fired = Some(op -> p)
          throw new Injected(op, p, a.calls)
        }
      }
    }
  }
}
