package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import graft.operators.{Dedup, Rag, Similarity}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The local filesystem under the test-only `crash:` scheme: it counts
  * the mutating calls (create, mkdirs, rename, delete) and throws on the
  * [[CrashFs.failFrom]]th and every later one — a process that died at
  * that step, as the store sees it.
  */
class CrashFs extends LocalFileSystem(new CrashFs.Raw) {
  import CrashFs.step
  override def getScheme: String = "crash"
  override def create(f: Path, p: FsPermission, o: Boolean, b: Int, r: Short,
                      s: Long, pr: Progressable) = step(super.create(f, p, o, b, r, s, pr))
  override def createNonRecursive(f: Path, p: FsPermission, o: Boolean, b: Int,
                                  r: Short, s: Long, pr: Progressable) =
    step(super.createNonRecursive(f, p, o, b, r, s, pr))
  override def mkdirs(f: Path): Boolean = step(super.mkdirs(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = step(super.mkdirs(f, p))
  override def rename(s: Path, d: Path): Boolean = step(super.rename(s, d))
  override def delete(f: Path, r: Boolean): Boolean = step(super.delete(f, r))
}

object CrashFs {
  val calls = new AtomicLong(0L)
  @volatile var failFrom: Long = Long.MaxValue
  class Raw extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("crash:///")
  }
  def step[T](f: => T): T =
    if (calls.incrementAndGet() >= failFrom) throw new java.io.IOException("injected crash")
    else f
}

/** [[graft.operators.SegmentFs]]'s commit protocol under a crash at every
  * mutating FS call of each segment index's append and compact, and a
  * guard that no other main code spells the commit marker.
  */
class SegmentFsSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
  // a task of a failed job may still be writing, which a dead process
  // would not: the armed run waits until every started task has ended
  private val running = new AtomicLong(0L)
  private val tasks = new SparkListener {
    override def onTaskStart(e: SparkListenerTaskStart): Unit = running.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = running.decrementAndGet(): Unit
  }
  spark.sparkContext.addSparkListener(tasks)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(tasks)

  // 20 docs over 8 words (shared terms and shingles), 4-dim vectors near
  // one of two centroids; base = docs 1-8, batch b = the next 4
  private val docs = (1 to 20).map { i =>
    (i.toLong, (0 until 6).map(j => "abcdefgh"((i * 3 + j * j) % 8).toString * 2).mkString(" "),
      if (i % 2 == 0) Seq(1f, 0.1f * (i % 3), 0.05f * (i % 5), 0f)
      else Seq(0.1f * (i % 4), 1f, 0f, 0.05f * (i % 3)))
  }.toDF("id", "text", "v")
  private def batch(b: Int) = docs.filter($"id" > 4 * b + 4 && $"id" <= 4 * b + 8)
  private val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
  private lazy val books = Similarity.pqCodebooks(docs, $"id", $"v", 2, 2, 2, 2)
  private val qs = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0.1f, 0f))).toDF("qid", "qv")
  private def lines(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq

  private case class Store(name: String, save: (DataFrame, String) => Unit,
                           append: (DataFrame, String, Long) => Unit,
                           compact: (String, Long) => Unit, probe: String => Seq[String])
  private val stores = Seq(
    Store("BM25", Rag.saveBm25Index(_, $"id", $"text", _, 2, 1000L, 1),
      (b, p, k) => Rag.appendBm25Index(b, $"id", $"text", p, 1000L, 1, Some(k)): Unit,
      Rag.compactBm25Index(spark, _, _, 1000L, 1): Unit,
      p => lines(Rag.bm25Indexed(spark, p, Seq(0 -> Seq("aa", "dd"), 1 -> Seq("hh", "bb"))))),
    Store("LSH band", Dedup.saveLshBandIndex(_, $"id", $"text", _, 3, 16, 4, 2, 1000L, 1),
      Dedup.appendLshBandIndex(_, $"id", $"text", _, 3, 16, 4, 2, 1000L, 1, _): Unit,
      Dedup.compactLshBandIndex(spark, _, _, 1000L, 1): Unit,
      p => lines(Dedup.probeLshBandIndex(spark, p, docs, $"id", $"text", buckets = 2))),
    Store("IVF", Similarity.saveIvfIndex(_, $"id", $"v", cents, _, 1000L, 1),
      (b, p, k) => Similarity.appendIvfIndex(spark, p, b, $"id", $"v", 1000L, 1, Some(k)): Unit,
      Similarity.compactIvfIndex(spark, _, _, 1000L, 1): Unit,
      p => lines(Similarity.ivfIndexedRows(spark, p))),
    Store("IVF-PQ", Similarity.saveIvfPqIndex(_, $"id", $"v", cents, books, 2, _, 1000L, 1),
      (b, p, k) => Similarity.appendIvfPqIndex(spark, p, b, $"id", $"v", 1000L, 1, Some(k)): Unit,
      Similarity.compactIvfPqIndex(spark, _, _, 1000L, 1): Unit,
      p => lines(Similarity.ivfPqTopK(spark, p, docs, $"id", $"v", qs, $"qid", $"qv",
        k = 20, nprobe = 2, rerank = 20))))

  /** Crash `op` at mutating call N = 1, 2, … until it completes without
    * reaching N. Each time: restore the pristine store (a file copy),
    * run `op` armed, retry it disarmed, and match a clean run's probe
    * before and after appending batch 3. Returns the crash points. */
  private def crashMatrix(s: Store, setup: String => Unit, op: String => Unit): Long = {
    val t0 = System.nanoTime()
    val dir = Scratch.dir("crash_matrix")
    def restore(to: String): String = {
      FileUtils.deleteDirectory(new java.io.File(to))
      FileUtils.copyDirectory(new java.io.File(s"$dir/pristine"), new java.io.File(to))
      s"crash:$to"
    }
    def check(p: String): (Seq[String], Seq[String]) = {
      op(p)
      val once = s.probe(p)
      s.append(batch(3), p, 3L)
      (once, s.probe(p))
    }
    setup(s"crash:$dir/pristine")
    val want = check(restore(s"$dir/clean"))
    var n = 0L
    var complete = false
    while (!complete) {
      n += 1
      val work = restore(s"$dir/work")
      CrashFs.calls.set(0L)
      CrashFs.failFrom = n
      spark.sparkContext.setLogLevel("OFF") // the injected task failures
      val crashed = scala.util.Try(op(work)).isFailure
      val deadline = System.nanoTime() + 60000000000L
      do org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
      while (running.get() > 0 && System.nanoTime() < deadline && { Thread.sleep(10); true })
      CrashFs.failFrom = Long.MaxValue
      spark.sparkContext.setLogLevel("ERROR")
      complete = !crashed && CrashFs.calls.get() < n
      if (!complete)
        assert(check(work) == want, s"${s.name}: no convergence after a crash at call $n")
    }
    info(s"${n - 1} crash points in ${(System.nanoTime() - t0) / 1000000000L} s")
    n - 1
  }

  for (s <- stores) {
    def init(p: String): Unit = { s.save(docs.filter($"id" <= 8), p); s.append(batch(1), p, 1L) }
    test(s"${s.name} append converges after a crash at every mutating FS call") {
      assert(crashMatrix(s, init, s.append(batch(2), _, 2L)) > 0)
    }
    test(s"${s.name} compact converges after a crash at every mutating FS call") {
      assert(crashMatrix(s, p => { init(p); s.append(batch(2), p, 2L) }, s.compact(_, 2L)) > 0)
    }
  }

  test("_SUCCESS appears in src/main only in SegmentFs and the s19 torn-drop fixture") {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("SegmentFs.scala")), "src/main not found")
    val hits = files.filterNot(_.endsWith("SegmentFs.scala")).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("_SUCCESS") && !(p.endsWith("SourceQueries.scala") &&
            l.contains("d2_torn/_SUCCESS")) => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("commit marker outside SegmentFs:\n", "\n", ""))
  }
}
