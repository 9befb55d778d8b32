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
  * '''Two layouts.''' The merge-on-read logs ([[Log]]) keep `base/v=N` +
  * `delta/d=K` parquet dirs, each its own commit point, and the newest
  * committed base's N is their water line: `base/v=N` holds every delta
  * id below N, so committing a base also records the line. The segment
  * indexes ([[Segments]]) spread one segment over several data dirs, so
  * each segment K commits through an empty marker `commits/k=K`, and a
  * water line `hwm/k=W` remembers the highest batch id ever committed
  * (compaction never retires it).
  *
  * '''Log append''' ([[Log.append]]): one data dir, committed last. An id
  * already committed or below the line is a replay and writes nothing;
  * the retry of a torn append rewrites its dir.
  *
  * '''Log compact''' ([[Log.compact]]): the base `v=K+1` (K = the highest
  * live delta id), then retirement of every delta below K+1.
  *  - Base before retirement: rows are never absent. In between, readers
  *    take only the deltas at or above the new line, so a folded delta
  *    that is still listed is never counted twice.
  *  - The retry finds nothing at or above the line to fold and only
  *    retires. A folded id stays below the line, so its replay no-ops
  *    and auto ids never reuse it.
  *
  * '''Segment append''' ([[Segments.append]]): data, then marker, then
  * water line.
  *  - Data before marker: a crash leaves an invisible torn segment that
  *    the retry of the same id reclaims.
  *  - Marker before water line: an id at or below the line is a
  *    replay and no-ops, so recording the line first would turn the
  *    retry of a torn append into a no-op that loses the batch. A crash
  *    between the two leaves the id committed (its retry correctly
  *    no-ops) and the next compaction raises the line before it
  *    retires that marker.
  *
  * '''Segment compact''' ([[Segments.compact]]): merged data, then its
  * marker, then the water line, then retirement — each folded segment's
  * marker before its dirs.
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
  * '''Ids.''' Segment appends take the caller's batch id or the successor
  * of max(water line, committed ids), floored at the store's first batch
  * id; log appends the larger of the line and the successor of the
  * committed ids. Merged generations count down from min(committed, base
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
  private def listVersions(spark: SparkSession, dir: String,
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

  /** A merge-on-read log at `dir` (see the protocol above): parquet dirs
    * `base/v=N` and `delta/d=K`, each its own commit point. The newest
    * committed base's N is the log's water line: that base holds every
    * delta id below N and none above, so an id below the line is folded.
    * A torn append must be retried before a compaction folds a higher
    * id, or the line covers it and the retry no-ops as a replay; a
    * streaming sink retries its last batch before the next one. A log
    * without a base (delta-only: Packing's segments, Classify's
    * weights) has no line.
    */
  final class Log(spark: SparkSession, dir: String) {

    private def line: Option[Long] = listVersions(spark, s"$dir/base", "v").lastOption
    private def based: Long = line.getOrElse(
      throw new IllegalStateException(s"no base under $dir — init() first"))
    private def allDeltas: Seq[Long] = listVersions(spark, s"$dir/delta", "d")
    private def live(n: Option[Long], ids: Seq[Long]) = ids.filter(k => n.forall(k >= _))

    /** The live delta ids: committed, at or above the line, ascending. */
    def committed: Seq[Long] = live(line, allDeltas)

    /** Create the log with `snapshot` as base v=0. */
    def init(snapshot: DataFrame): Unit =
      snapshot.write.mode("errorifexists").parquet(baseDir(dir, 0L))

    /** Append delta `id`, or the next id (the larger of the line and the
      * highest committed id + 1), written as `delta(live ids)`. A
      * committed id, or one below the line (folded), is a replay: nothing
      * is built or written. A torn dir is rewritten. Returns the id.
      */
    def append(id: Option[Long])(delta: Seq[Long] => DataFrame): Long = {
      val n = line
      val done = allDeltas
      val k = id.getOrElse(math.max(n.getOrElse(0L), done.lastOption.fold(0L)(_ + 1L)))
      if (!done.contains(k) && !n.exists(k < _)) {
        val d = delta(live(n, done))
        reclaim(spark, deltaDir(dir, k))
        d.write.mode("errorifexists").parquet(deltaDir(dir, k))
      }
      k
    }

    /** The newest committed base and the live delta ids ≤ `upTo`: the
      * rows of the log as of any id from `from` to `upTo`. Throws when
      * `from` lies below a line above 0 — it was folded away.
      */
    def asOf(from: Long, upTo: Long): (DataFrame, Seq[Long]) = {
      val n = based
      if (n > 0L && from < n)
        throw new IllegalStateException(
          s"as-of $from predates the current base — ids below $n were compacted into it")
      (readCommitted(spark, baseDir(dir, n)), allDeltas.filter(k => k >= n && k <= upTo))
    }

    /** One DataFrame over the committed deltas `ids`. */
    def deltas(ids: Seq[Long]): DataFrame =
      readCommitted(spark, ids.map(deltaDir(dir, _)): _*)

    /** The base's rows ∪ the live deltas' rows ≤ `upTo`: an additive
      * log's unfolded read. */
    def union(upTo: Long): DataFrame = {
      val (base, ids) = asOf(upTo, upTo)
      if (ids.isEmpty) base else base.unionByName(deltas(ids))
    }

    /** Fold the live deltas into base v = 1 + the highest folded id K,
      * written as `resolve(K)` (the log's read as of K), then retire
      * every committed delta below the new line. With nothing to fold
      * (a retry after the base committed) it only retires. Returns the
      * line.
      */
    def compact(resolve: Long => DataFrame): Long = {
      val n = based
      val all = allDeltas
      val next = all.lastOption.filter(_ >= n).fold(n)(_ + 1L)
      if (next > n) {
        reclaim(spark, baseDir(dir, next)) // torn prior compact
        resolve(next - 1L).write.mode("errorifexists").parquet(baseDir(dir, next))
      }
      val f = fs(spark, dir)
      all.filter(_ < next).foreach(k => f.delete(new Path(deltaDir(dir, k)), true): Unit)
      next
    }

    /** Delete every base older than the newest committed one — the
      * storage reclaim compaction leaves behind (the old base must
      * survive until the new one commits, and a reader mid-plan may still
      * hold it). Reads are unaffected: they take only the newest base.
      * Returns the number of bases removed.
      */
    def vacuum(): Int = {
      val keep = line.getOrElse(return 0)
      val f = fs(spark, dir)
      val old = f.listStatus(new Path(s"$dir/base")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filter(_.getPath.getName.drop(2).toLong != keep)
      old.foreach(s => f.delete(s.getPath, true): Unit)
      old.size
    }
  }
}
