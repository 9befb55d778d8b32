package org.apache.spark.graftbridge {
  /** The Hadoop configuration Spark derives from a SparkConf
    * (`spark.hadoop.*` applied as explicit sets). */
  object HadoopConfOf {
    def apply(c: org.apache.spark.SparkConf): org.apache.hadoop.conf.Configuration =
      org.apache.spark.deploy.SparkHadoopUtil.get.newConfiguration(c)
  }
}

package graft {

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import graft.sources.LocalFs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf
import org.apache.spark.graftbridge.HadoopConfOf

/** [[LocalFs]] lands the modes stock `LocalFileSystem` lands, and a
  * session built by [[GraftSession.tune]] resolves `file:` to it unless
  * `fs.file.impl` is set explicitly. */
class LocalFsSpec extends SparkSpec {

  private def fs(stock: Boolean, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val f = if (stock) new LocalFileSystem else new LocalFs
    f.initialize(URI.create("file:///"), conf)
    f
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("a dir tree, a data file and its .crc get stock LocalFileSystem's modes under each umask") {
    for (umask <- Seq("022", "077", "002")) {
      val got = Seq(true, false).map { stock =>
        val root = Scratch.dir("localfs")
        val f = fs(stock, umask)
        assert(f.mkdirs(new Path(s"$root/a/b")))
        f.create(new Path(s"$root/a/b/part-0.parquet")).close()
        Seq("a", "a/b", "a/b/part-0.parquet", "a/b/.part-0.parquet.crc").map(p => mode(s"$root/$p"))
      }
      assert(got(1) == got(0), s"umask $umask")
      if (umask == "022") assert(got(0) == Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--"))
    }
  }

  test("a mode with the sticky bit takes Hadoop's own path and lands what stock lands") {
    val got = Seq(true, false).map { stock =>
      val dir = s"${Scratch.dir("localfs")}/t"
      val f = fs(stock, "022")
      assert(f.mkdirs(new Path(dir)))
      f.setPermission(new Path(dir), new FsPermission(Integer.parseInt("1777", 8).toShort))
      Files.getAttribute(Paths.get(dir), "unix:mode").asInstanceOf[Int] & 0xfff
    }
    assert(got == Seq(Integer.parseInt("1777", 8), Integer.parseInt("1777", 8)))
  }

  test("a tuned session resolves file:/// to LocalFs, cached or not") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).getClass == classOf[LocalFs])
    assert(FileSystem.newInstance(URI.create("file:///"), hc).getClass == classOf[LocalFs])
    assert(new Path(Scratch.dir("localfs")).getFileSystem(spark.sessionState.newHadoopConf())
      .getClass == classOf[LocalFs])
  }

  test("an explicit fs.file.impl or spark.hadoop.fs.file.impl still wins") {
    val raw = classOf[RawLocalFileSystem]
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    assert(FileSystem.getFileSystemClass("file", c) == classOf[LocalFs])
    c.set("fs.file.impl", raw.getName)
    assert(FileSystem.getFileSystemClass("file", c) == raw)
    val sc = new SparkConf(false)
    assert(FileSystem.getFileSystemClass("file", HadoopConfOf(sc)) == classOf[LocalFs])
    sc.set("spark.hadoop.fs.file.impl", raw.getName)
    assert(FileSystem.getFileSystemClass("file", HadoopConfOf(sc)) == raw)
  }
}
}
