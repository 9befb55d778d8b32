package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The commit-gated directory protocol — the ONLY code that writes or
  * reads commit points. Every lifecycle store (MergeLog, CountLog,
  * Health, Classify, Packing, FileManifest, the BM25/LSH/IVF/IVF-PQ
  * indexes) keeps its state in Hadoop-FS directories (HDFS/S3A/local
  * alike) discovered by listing: no separate manifest to corrupt.
  *
  * '''Commit point.''' A directory is committed once its `_SUCCESS`
  * file exists, and that file is created LAST (Spark's file committer
  * for parquet data, [[writeMarker]]/[[writeSmallFile]] here). A dir
  * without it is a torn write from a crashed job: readers never see it,
  * compaction never retires it as absorbed, and a replaying writer
  * deletes and rewrites it instead of skipping it as done.
  *
  * '''Two layouts.''' The merge-on-read logs keep `base/v=N` +
  * `delta/d=K` parquet dirs, each its own commit point
  * ([[appendSegment]], [[compactInto]]). The segment indexes
  * ([[Segments]]) spread one segment over several data dirs, so each
  * segment K commits through an empty marker `commits/k=K`, and a
  * water line `hwm/k=W` remembers the highest batch id ever committed
  * (compaction never retires it).
  *
  * '''Append''' ([[Segments.append]]): data, then marker, then water
  * line.
  *  - Data before marker: a crash leaves an invisible torn segment that
  *    the retry of the same id reclaims.
  *  - Marker before water line: an id at or below the line is a
  *    replay and no-ops, so recording the line first would turn the
  *    retry of a torn append into a no-op that loses the batch. A crash
  *    between the two leaves the id committed (its retry correctly
  *    no-ops) and the next compaction raises the line before it
  *    retires that marker.
  *
  * '''Compact''' ([[Segments.compact]]): merged data, then its marker,
  * then the water line, then retirement — each folded segment's marker
  * before its dirs.
  *  - Merged data before its marker: a torn merge is invisible and the
  *    folded segments stay intact.
  *  - Marker before retirement: rows are never absent. In between they
  *    are visible twice, which every index's fold de-duplicates, and
  *    rerunning the compaction folds the duplicate generation away.
  *  - Water line before retirement: once a folded id's marker is gone
  *    only the line remembers it, so it must already cover the id —
  *    otherwise a replay of that id would double-append and an auto id
  *    could reuse it.
  *  - Marker before dirs: deleting the marker turns the segment
  *    invisible atomically; a crash before its dirs go leaves an
  *    invisible orphan, never half a segment.
  *
  * '''Reads.''' [[readCommitted]] takes a committed parquet dir's schema
  * from one footer on the driver: no schema-inference job, which a bare
  * `spark.read.parquet` runs per call.
  *
  * '''Ids.''' Appends take the caller's batch id or the successor of
  * max(water line, committed ids), floored at the store's first batch
  * id. Merged generations count down from min(committed, base
  * segment) − 1, so they never collide with batch ids or the base
  * build.
  */
private[graft] object SegmentFs {

  private val Marker = "_SUCCESS"

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def isCommitted(f: FileSystem, dir: Path): Boolean =
    f.exists(new Path(dir, Marker))

  /** Delete `dir` if it exists: a torn write about to be rewritten. */
  def reclaim(spark: SparkSession, dir: String): Unit =
    reclaim(fs(spark, dir), new Path(dir))

  private def reclaim(f: FileSystem, p: Path): Unit =
    if (f.exists(p)) f.delete(p, true): Unit

  /** Names of the committed child dirs of `root` that start with
    * `prefix`, sorted; empty when `root` does not exist.
    */
  def committedDirs(spark: SparkSession, root: String,
                    prefix: String): Seq[String] = {
    val p = new Path(root)
    val f = fs(spark, root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix)
        && isCommitted(f, s.getPath))
      .map(_.getPath.getName)
      .sorted
  }

  /** Committed `prefix=N` versions under `dir`, ascending. */
  def listVersions(spark: SparkSession, dir: String,
                   prefix: String): Seq[Long] =
    committedDirs(spark, dir, prefix + "=")
      .map(_.drop(prefix.length + 1).toLong).sorted

  /** Write `text` as file `name` of the committed dir `dir`, reclaiming
    * a torn `dir` first. Returns false, writing nothing, when `dir` is
    * already committed.
    */
  def writeSmallFile(spark: SparkSession, dir: String, name: String,
                     text: String): Boolean = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (isCommitted(f, p)) false
    else {
      reclaim(f, p)
      val out = f.create(new Path(p, name), false)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      f.create(new Path(p, Marker), true).close()
      true
    }
  }

  /** File `name` of the committed dir `dir`; throws naming `dir` when
    * it is torn or missing. */
  def readSmallFile(spark: SparkSession, dir: String, name: String): String = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!isCommitted(f, p))
      throw new IllegalStateException(
        s"$dir is not committed (no $Marker): torn or never written")
    readText(f, new Path(p, name))
  }

  /** File `name` of every committed child dir of `root`, in dir order. */
  def readCommittedFiles(spark: SparkSession, root: String,
                         name: String): Seq[String] = {
    val f = fs(spark, root)
    committedDirs(spark, root, "").map(d => readText(f, new Path(s"$root/$d", name)))
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** The schema Spark would infer for a parquet read of `dirs`, from the
    * footer of the first data file in path order (the one file Spark's
    * inference job reads), read on the driver. None when no dir holds a
    * data file or its footer carries no Spark schema (a foreign writer).
    */
  private[graft] def footerSchema(spark: SparkSession,
                                  dirs: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    // hidden names (`_SUCCESS`, `.crc`) are not data; a dir's files sort
    // after its name plus '/', so this order is the full paths' order
    def first(f: FileSystem, ls: Seq[FileStatus]): Option[Path] =
      ls.filterNot(s => "_.".contains(s.getPath.getName.head))
        .sortBy(s => s.getPath.getName + (if (s.isDirectory) "/" else ""))
        .iterator.flatMap(s => if (!s.isDirectory) Some(s.getPath)
          else first(f, f.listStatus(s.getPath).toSeq)).nextOption()
    dirs.sortBy(_ + "/").iterator.map(new Path(_)).flatMap { d =>
      val f = d.getFileSystem(conf)
      try first(f, f.listStatus(d).toSeq)
      catch { case _: java.io.FileNotFoundException => None }
    }.nextOption().flatMap { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")) finally r.close()
    }.map(DataType.fromJson).collect { case s: StructType => s }
  }

  /** One DataFrame over the committed parquet `dirs`, with the schema from
    * [[footerSchema]]; without one, Spark infers it as usual.
    */
  def readCommitted(spark: SparkSession, dirs: String*): DataFrame = {
    val r = spark.read
    footerSchema(spark, dirs).fold(r)(r.schema).parquet(dirs: _*)
  }

  /** Write `df` over `dir` and read the committed dir back: a stage that
    * cuts the lineage and holds no cache. */
  def stage(df: DataFrame, dir: String): DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    readCommitted(df.sparkSession, dir)
  }

  /** An EMPTY committed dir whose only information is its name (commit
    * and water-line markers): created through the FS API, no Spark job.
    * A torn marker dir is reclaimed first. */
  private def writeMarker(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    reclaim(f, p)
    f.mkdirs(p): Unit
    f.create(new Path(p, Marker), true).close()
  }

  /** A segment index at `root` (see the protocol above): segment K's
    * data lives in `dataDirs(K)`, its marker at `root/commits/k=K`.
    */
  final class Segments(spark: SparkSession, root: String,
                       dataDirs: Long => Seq[String]) {

    private def marker(k: Long) = s"$root/commits/k=$k"
    private def waterLine = listVersions(spark, s"$root/hwm", "k")

    /** Raise the water line to `k` given its current markers `hwm`; lower
      * markers are pruned (the max alone carries the line). */
    private def recordHighWater(k: Long, hwm: Seq[Long]): Unit =
      if (!hwm.lastOption.exists(_ >= k)) {
        writeMarker(spark, s"$root/hwm/k=$k")
        val f = fs(spark, root)
        hwm.filter(_ < k).foreach(o => f.delete(new Path(s"$root/hwm/k=$o"), true): Unit)
      }

    /** Committed segment ids — the only segments a reader may see. */
    def committed: Seq[Long] = listVersions(spark, s"$root/commits", "k")

    /** Reclaim segment `k`'s torn data dirs, run `write`, commit `k`. */
    def commit(k: Long)(write: => Unit): Unit = {
      val f = fs(spark, root)
      dataDirs(k).foreach(d => reclaim(f, new Path(d)))
      write
      writeMarker(spark, marker(k))
    }

    /** Append segment `id` (or the next id, at least `minId`) written by
      * `write(k)`. A committed id, or one at or below the water line
      * (committed once, since folded), is a replay: nothing is written.
      * Returns the segment id.
      */
    def append(id: Option[Long], minId: Long)(write: Long => Unit): Long = {
      val done = committed
      val hwm = waterLine
      val k = id.getOrElse(math.max(
        math.max(hwm.lastOption.getOrElse(minId - 1L),
          done.lastOption.getOrElse(minId - 1L)) + 1L, minId))
      if (!done.contains(k) && !hwm.lastOption.exists(k <= _)) {
        commit(k)(write(k))
        recordHighWater(k, hwm)
      }
      k
    }

    /** Fold the committed segments ≤ `upTo` into one new negative
      * generation, written by `write(folded, gen)`, then retire them.
      * None when fewer than two segments qualify.
      */
    def compact(upTo: Long, baseSeg: Long)(
        write: (Seq[Long], Long) => Unit): Option[Long] = {
      val all = committed
      val fold = all.filter(_ <= upTo)
      if (fold.size < 2) None
      else {
        val gen = math.min(all.min, baseSeg) - 1L
        commit(gen)(write(fold, gen))
        fold.filter(_ >= 0).reduceOption(_ max _)
          .foreach(recordHighWater(_, waterLine))
        val f = fs(spark, root)
        fold.foreach { k =>
          f.delete(new Path(marker(k)), true): Unit
          dataDirs(k).foreach(d => f.delete(new Path(d), true): Unit)
        }
        Some(gen)
      }
    }
  }

  def baseDir(dir: String, v: Long) = s"$dir/base/v=$v"
  def deltaDir(dir: String, k: Long) = s"$dir/delta/d=$k"

  /** Append `delta` as segment `d=K` (K = `id` or max+1), idempotent on
    * COMMITTED batch ids, rewriting torn dirs. Returns K.
    */
  def appendSegment(delta: DataFrame, dir: String,
                    id: Option[Long]): Long = {
    val spark = delta.sparkSession
    val committed = listVersions(spark, s"$dir/delta", "d")
    val k = id.getOrElse(committed.lastOption.map(_ + 1).getOrElse(0L))
    if (committed.contains(k)) k
    else {
      reclaim(spark, deltaDir(dir, k))
      delta.write.mode("errorifexists").parquet(deltaDir(dir, k))
      k
    }
  }

  /** Latest committed base version, or throw if the log is not
    * initialized. */
  def latestBase(spark: SparkSession, dir: String): Long =
    listVersions(spark, s"$dir/base", "v").lastOption.getOrElse(
      throw new IllegalStateException(s"no base under $dir — init() first"))

  /** Fold `resolved` (the current read) into base v=N+1 and retire the
    * absorbed delta segments. Crash-safe write order: the new base
    * lands complete before any delta is removed, and readers take the
    * highest COMMITTED base, so a torn compact leaves the log readable
    * and the next compact deletes the torn dir before writing.
    * Returns the new base version.
    */
  def compactInto(spark: SparkSession, dir: String,
                  resolved: DataFrame): Long = {
    val bv = latestBase(spark, dir)
    val absorbed = listVersions(spark, s"$dir/delta", "d")
    val next = bv + 1
    val f = fs(spark, dir)
    reclaim(f, new Path(baseDir(dir, next))) // torn prior compact
    resolved.write.mode("errorifexists").parquet(baseDir(dir, next))
    absorbed.foreach(k => f.delete(new Path(deltaDir(dir, k)), true): Unit)
    next
  }

  /** Delete every base older than the latest COMMITTED one — the
    * storage-reclaim step compaction deliberately leaves behind
    * (the old base must survive until the new one is committed, and a
    * reader mid-plan may still hold it; vacuum runs later, on the
    * operator's cadence). Reads are unaffected: [[latestBase]] already
    * serves only the newest committed base, and as-of reads reach back
    * only to it. Returns the number of bases removed.
    */
  def vacuumBases(spark: SparkSession, dir: String): Int = {
    val keep = listVersions(spark, s"$dir/base", "v").lastOption
      .getOrElse(return 0)
    val f = fs(spark, dir)
    val all = f.listStatus(new Path(s"$dir/base")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(_.getPath.getName.drop(2).toLong != keep)
    all.foreach(s => f.delete(s.getPath, true): Unit)
    all.size
  }
}
