package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One op of a workload: `run` is the timed call into the engine (it may
  * run eager jobs itself) and returns the frame whose plan and drain are
  * timed next, or None for a pure store operation. `check` runs outside
  * the timers and returns an error message when the answer is wrong.
  */
final case class OpSpec(name: String, layer: String, run: () => Option[DataFrame],
                        check: (OpRec, Array[String], Array[Row]) => Option[String])

/** Timestamps (System.nanoTime) and counter snapshots of one executed op. */
final class OpRec(val seq: Int, val name: String, val layer: String) {
  var t0, t1, t2, t3, s0, s1 = 0L
  var fsOps, fsNanos, fsBytes, gcMs = 0L
  var storageAtStart = 0L
  var error: String = null
  def latencyMs: Double = (t3 - t0) / 1e6
}

final class Args(a: Array[String]) {
  private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
}

/** The benchmark's JVM side. Launched by `perfbench/run.py`, which owns the
  * per-run scratch root, the machine telemetry and the final result line;
  * this program writes its measurements as one JSON object to `--out`.
  */
object Main {
  val Slots = 4

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val root = args("root")
    val data = args("data")
    val trace = args.get("trace").contains("1")
    val b = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/tmp")
      .config("spark.ui.enabled", "false")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = graft.GraftSession.tune(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (args.get("train").contains("1")) Train(spark, data, root)
      else args.get("emit-digests") match {
        case Some(out) => Digests.emit(spark, data, out)
        case None =>
          val r = new Runner(spark, args("workload"), args("seed").toLong,
            args("seconds").toDouble, trace, data, root, args("expected"),
            args.get("spans"), args.get("ops").map(_.split(",").toSeq))
          Json.write(args("out"), r.run())
      }
    } finally spark.stop()
  }
}

/** A short tour of the engine paths the workloads use, run once per build
  * so the JVM can archive the classes it loaded (class-data sharing cuts
  * every later run's start-up). */
object Train {
  import org.apache.spark.sql.functions.col
  import graft.operators.Rag
  def apply(spark: SparkSession, data: String, root: String): Unit = {
    val docs = graft.Tables.load(spark, data, "documents").filter(col("doc_id") < 200)
    graft.SparkEntry.queries("d3_content_hash_dedup")(spark, data).collect()
    Rag.saveBm25Index(docs, col("doc_id"), col("text"), s"$root/stores/bm25", buckets = 4)
    Rag.bm25Indexed(spark, s"$root/stores/bm25", Seq((1, Seq("data")))).collect()
  }
}

/** Op lists and expected digests of the SparkEntry queries. */
object Digests {
  // chosen by the traced figures in perfbench/NOTES.md
  val etl: Seq[String] = Seq("g1_fused_pipeline", "d6_minhash_lsh",
    "ta2_text_stats", "r1_ruler_scores", "c1_pii_scan", "l2_mock_keywords")
  val ticks: Seq[String] = Seq("s19_incremental_listing", "g15_pack_tick")

  def load(path: String): Map[String, (Long, String)] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    n.fieldNames().asScala.map { k =>
      k -> (n.get(k).get("rows").asLong, n.get(k).get("sha256").asText)
    }.toMap
  }

  /** Runs every SparkEntry op once and writes its digest; used to make
    * `expected.json` from a build whose outputs pass the DuckDB oracle. */
  def emit(spark: SparkSession, data: String, out: String): Unit = {
    val rows = (etl ++ ticks).sorted.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, data)
      val (n, h) = Canon.digest(df.columns.toSeq, df.collect())
      graft.Frames.scrubSession(spark)
      System.err.println(s"[perfbench] $q rows=$n sha256=$h")
      s"""  "$q": {"rows": $n, "sha256": "$h"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Path.of(out),
      rows.mkString("{\n", ",\n", "\n}\n"))
  }
}

/** Minimal JSON writer for flat result objects. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def write(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Path.of(path), s + "\n")
}

final class Runner(spark: SparkSession, workload: String, seed: Long,
                   seconds: Double, trace: Boolean, data: String, root: String,
                   expectedPath: String, spansPath: Option[String],
                   opsOverride: Option[Seq[String]]) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def epochMs(ns: Long): Double = epoch0 + (ns - nano0) / 1e6

  private val expected = Digests.load(expectedPath)
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private val listener = if (trace) Some(new TraceListener) else None
  private var seq = 0
  val all = ArrayBuffer[OpRec]()
  private var scratchPeak = 0L

  // Spark deletes shuffle files while the walk runs; vanished ones count 0
  private def scratchBytes(): Long = {
    import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    var n = 0L
    Files.walkFileTree(Path.of(root), new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        n += a.size; FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    n
  }
  private def sampleScratch(): Unit = scratchPeak = math.max(scratchPeak, scratchBytes())

  /** SparkEntry op with its digest check. */
  def entryOp(q: String): OpSpec = OpSpec(q, "SparkEntry",
    () => Some(graft.SparkEntry.queries(q)(spark, data)),
    (_, cols, rows) => {
      val got = Canon.digest(cols.toSeq, rows)
      expected.get(q) match {
        case Some(want) if want == got => None
        case Some(want) => Some(s"digest $got != expected $want")
        case None => Some("no expected digest")
      }
    })

  private def drain(): Unit = if (trace) org.apache.spark.perfbench.Drain(sc)

  def runOp(spec: OpSpec, counted: Boolean, scrub: Boolean = true): OpRec = {
    val r = synchronized { seq += 1; new OpRec(seq - 1, spec.name, spec.layer) }
    val tr = listener.filter(_ => counted)
    tr.foreach { l => l.tag = r.seq; r.storageAtStart = l.storageNow }
    val fs0 = (CountingFs.ops.get, CountingFs.nanos.get, CountingFs.bytesWritten(), gcMs)
    var cols: Array[String] = Array.empty
    var rows: Array[Row] = Array.empty
    r.t0 = System.nanoTime()
    try {
      val df = spec.run()
      r.t1 = System.nanoTime()
      df.foreach(_.queryExecution.executedPlan)
      r.t2 = System.nanoTime()
      df.foreach { d => rows = d.collect(); cols = d.columns }
      r.t3 = System.nanoTime()
    } catch {
      case e: Throwable =>
        val now = System.nanoTime()
        if (r.t1 == 0) r.t1 = now
        if (r.t2 == 0) r.t2 = now
        r.t3 = now
        r.error = s"${e.getClass.getName}: ${e.getMessage}".take(300)
    }
    if (counted) {
      drain()
      r.fsOps = CountingFs.ops.get - fs0._1
      r.fsNanos = CountingFs.nanos.get - fs0._2
      r.fsBytes = CountingFs.bytesWritten() - fs0._3
      r.gcMs = gcMs - fs0._4
    }
    val c0 = System.nanoTime()
    if (r.error == null) r.error = spec.check(r, cols, rows).orNull
    if (r.error != null) System.err.println(s"[perfbench] FAIL ${r.name}#${r.seq}: ${r.error}")
    tr.foreach(_.tag = -1 - r.seq)
    r.s0 = System.nanoTime()
    if (scrub) graft.Frames.scrubSession(spark)
    r.s1 = System.nanoTime()
    System.err.println(f"[perfbench] op ${r.name}#${r.seq}: ${r.latencyMs}%.0f ms, " +
      f"check ${(r.s0 - c0) / 1e6}%.0f ms, scrub ${(r.s1 - r.s0) / 1e6}%.0f ms")
    if (counted) drain()
    synchronized { all += r }
    r
  }

  /** Untimed warm pass (JIT, codegen caches, the stores' first reads). A
    * cold JVM spends most of it in single-threaded compilation, so the
    * ops of the pass (independent of each other) run side by side; one
    * scrub follows. Returns the number of ops in a pass. */
  private def warm(wl: Workload): Int = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Slots)
    val ops = wl.nextPass()
    try ops.map { s =>
      pool.submit(new Runnable {
        def run(): Unit = runOp(s, counted = false, scrub = false): Unit
      })
    }.foreach(_.get())
    finally pool.shutdown()
    graft.Frames.scrubSession(spark)
    ops.size
  }

  /** Runs `n` whole passes; returns (ops, pass walls in seconds). */
  def phase(wl: Workload, n: Int, counted: Boolean): (Seq[OpRec], Seq[Double]) = {
    val recs = ArrayBuffer[OpRec]()
    val walls = (1 to n).map { _ =>
      val p0 = System.nanoTime()
      wl.nextPass().foreach(s => recs += runOp(s, counted))
      sampleScratch()
      (System.nanoTime() - p0) / 1e9
    }
    (recs.toSeq, walls)
  }

  private def note(what: String): Unit = System.err.println(
    f"[perfbench] $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2fs")

  /** Per thread of this JVM, the time it waited runnable for a CPU
    * (`/proc/self/task/<tid>/schedstat`). */
  private def runDelayNs(): Map[String, Long] = {
    val dir = new java.io.File("/proc/self/task")
    Option(dir.listFiles()).toSeq.flatten.flatMap { t =>
      try Some(t.getName -> java.nio.file.Files.readString(
        new java.io.File(t, "schedstat").toPath).trim.split(" ")(1).toLong)
      catch { case _: Exception => None }
    }.toMap
  }

  // fixed-work single-thread spin: how fast a core runs in this window
  private def calSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 4000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  def run(): String = {
    listener.foreach(sc.addSparkListener)
    CountingFs.on = false
    val wl = Workload(workload, this, spark, data, s"$root/stores", seed, opsOverride)
    note("session ready")
    wl.setup()
    note("workload set up")
    val perPass = warm(wl)
    note("warm pass done")
    sampleScratch()
    val setupDoneEpochMs = System.currentTimeMillis()
    (1 to 20).foreach(_ => calSpin())
    val cal0 = (1 to 5).map(_ => calSpin())

    // a fixed number of passes, one per started 10 s of run length but at
    // least enough for 9 timed op repetitions (the op percentiles rest on
    // them, and one op can vary by a third between repetitions), so every
    // run of the same length does the same work whatever the machine's
    // speed (lifecycle_tick's stores grow by one batch a pass)
    val passes = math.max(math.ceil(seconds / 10).toInt, math.ceil(9.0 / perPass).toInt)
    // a traced run brackets its traced phase with untraced phases of equal
    // length before and after, so a drift (warm-up, store growth) cancels
    // out of the overhead estimate; each of the three gets half the passes
    val half = math.max(1, passes / 2)
    val rd0 = runDelayNs()
    val (plain, plainWalls) = phase(wl, if (trace) half else passes, counted = false)
    // threads that exit in between drop out; new ones count from zero
    val runDelay = runDelayNs().map { case (t, ns) => ns - rd0.getOrElse(t, 0L) }.sum /
      1e6 / plainWalls.sum
    note("timed phase done")
    // heap still in use after full GCs; the pauses let Spark's context
    // cleaner drop the blocks of broadcasts the first GC found dead
    val heapMb = {
      (1 to 2).foreach { _ => System.gc(); Thread.sleep(250) }
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val traced = if (trace) {
      CountingFs.on = true
      val t = phase(wl, half, counted = true)
      CountingFs.on = false
      Some((t, phase(wl, half, counted = false)))
    } else None
    val cal1 = (1 to 5).map(_ => calSpin())
    // correctness checks of answers kept for one batched call
    wl.finalCheck()
    sampleScratch()
    note("checks done")

    val failed = all.count(_.error != null)
    // every pass runs the same ops, so each op is reported as the median
    // of its repetitions and the wall as the sum of those medians, scrub
    // included. The fastest repetition was less steady: g15's repetitions
    // fall into two modes a third apart, and whether the fastest caught
    // the low one varied from seed to seed
    def perOp(rs: Seq[OpRec], f: OpRec => Double): Seq[Double] =
      rs.groupBy(_.name).values.map(v => Stats.median(v.map(f))).toSeq.sorted
    def wallS(rs: Seq[OpRec]): Double = perOp(rs, o => (o.t3 - o.t0 + o.s1 - o.s0) / 1e9).sum
    val lat = perOp(plain, _.latencyMs)
    val (metrics, byOp) = traced match {
      case None => (Seq(
        ("wall_s", wallS(plain), "s"),
        ("op_p50_ms", Stats.pct(lat, 0.5), "ms"),
        ("op_p90_ms", Stats.pct(lat, 0.9), "ms"),
        ("heap_retained_mb", heapMb, "MiB")), "{}")
      case Some(((recs, walls), (after, afterWalls))) =>
        val (jobs, stages, tasks) = listener.get.snapshot
        spansPath.foreach(Spans.write(_, this, recs, jobs, stages))
        // mean pass wall of the traced phase against that of the
        // untraced phases around it
        val untraced = plainWalls ++ afterWalls
        val wPlain = untraced.sum / untraced.size
        val msPlain = untraced.sum * 1000 / (plain.size + after.size)
        val (layers, table) = Attribution(this, recs, jobs, stages, tasks, listener.get)
        (layers ++ Seq(
          ("trace.ops", recs.size.toDouble, "count"),
          ("trace.overhead_ms_per_op", walls.sum * 1000 / recs.size - msPlain, "ms"),
          ("trace.overhead_frac", (walls.sum / walls.size - wPlain) / wPlain, "ratio")), table)
    }
    val opNames = all.map(_.name).distinct
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> all.size.toString,
      "failed" -> failed.toString,
      "failures" -> all.filter(_.error != null).take(5)
        .map(r => Json.str(s"${r.name}#${r.seq}: ${r.error}")).mkString("[", ", ", "]"),
      "timed_ops" -> plain.size.toString,
      "passes" -> plainWalls.size.toString,
      "by_op" -> byOp,
      "ops" -> opNames.map(Json.str).mkString("[", ", ", "]"),
      "setup_done_epoch_ms" -> setupDoneEpochMs.toString,
      "run_delay_ms_per_s" -> Json.num(runDelay),
      "cal_ms" -> Json.num(Stats.median((cal0 ++ cal1).sorted)),
      "scratch_peak_mb" -> Json.num(scratchPeak / 1048576.0),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs.sorted, 0.5)
  /** Linear-interpolated percentile of sorted values. */
  def pct(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}
