package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem that counts metadata round trips (status, list,
  * mkdir, delete, rename) and the time spent in them. Registered on
  * `fs.file.impl` in traced runs only; counting is switched by [[on]] so a
  * traced run can also time an uncounted phase. Engine and task threads
  * share one JVM in local mode, so both sides are counted.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def meta[T](f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f
      finally { ops.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t0) }
    }

  override def getFileStatus(p: Path): FileStatus = meta(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = meta(super.listStatus(p))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    meta(super.listLocatedStatus(p))
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    meta(super.listStatusIterator(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean = meta(super.mkdirs(p, perm))
  override def delete(p: Path, recursive: Boolean): Boolean =
    meta(super.delete(p, recursive))
  override def rename(src: Path, dst: Path): Boolean = meta(super.rename(src, dst))
}

object CountingFs {
  @volatile var on: Boolean = false
  val ops = new AtomicLong(0L)
  val nanos = new AtomicLong(0L)

  /** Bytes written through any `file://` filesystem (Hadoop's own
    * per-scheme statistics, which also cover checksum files). */
  def bytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue))
      .getOrElse(0L)
}
