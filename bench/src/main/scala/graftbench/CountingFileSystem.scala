package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Call counters of the `file://` seam, shared by every
  * [[CountingFileSystem]] instance in the JVM (driver and local-mode
  * executors alike). Counting only happens while `on` is set.
  */
object FsCounters {
  @volatile var on = false
  val list, status, open, create, dataFiles, rename, delete, nanos = new AtomicLong()
  private val all = Seq(list, status, open, create, dataFiles, rename, delete, nanos)

  def snapshot(): IndexedSeq[Long] = all.map(_.get()).toIndexedSeq

  /** The names of the positions of [[snapshot]]. */
  val names: IndexedSeq[String] = IndexedSeq(
    "list", "status", "open", "create", "data_files", "rename", "delete", "nanos")

  def timed[A](c: AtomicLong)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        nanos.addAndGet(System.nanoTime() - t0)
        c.incrementAndGet()
      }
    }
}

/** The engine's local `file://` filesystem with every metadata and
  * stream-opening call counted and timed. Installed through
  * `spark.hadoop.fs.file.impl` in traced runs only.
  */
class CountingFileSystem extends graft.api.NioLocalFileSystem {
  import FsCounters.{timed, dataFiles, on}
  private val C = FsCounters

  override def listStatus(f: Path): Array[FileStatus] = timed(C.list)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    timed(C.list)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    timed(C.list)(super.listLocatedStatus(f))
  override def getFileStatus(f: Path): FileStatus = timed(C.status)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed(C.open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (on && f.getName.startsWith("part-")) dataFiles.incrementAndGet()
    timed(C.create)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (on && f.getName.startsWith("part-")) dataFiles.incrementAndGet()
    timed(C.create)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean = timed(C.rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    timed(C.delete)(super.delete(f, recursive))
}
