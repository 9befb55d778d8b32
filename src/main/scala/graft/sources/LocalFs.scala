package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem: Hadoop's checksummed local FS over
  * [[LocalFs.Raw]], which sets permission bits in-process.
  *
  * Without the native hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod`, and Hadoop calls it on every file it creates and every
  * directory it makes: each parquet part, `.crc`, `_temporary` and
  * partition dir of a store write, each commit marker.
  * `maintain` (append + compact of BM25 and LSH) made 303 such calls.
  * Same files, same modes, no process.
  *
  * Installed by [[graft.GraftSession.tune]] as the Hadoop default
  * resource `graft-hadoop.xml`, so an explicit `fs.file.impl` (or
  * `spark.hadoop.fs.file.impl`) still wins.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  class Raw extends RawLocalFileSystem {
    /** The mode bits through one NIO call; a mode NIO cannot express
      * (the sticky bit) takes Hadoop's own path. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val mode = perm.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava)
    }
  }
}
