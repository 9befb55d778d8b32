package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query storage-memory telemetry for the bench (r15 verdict #2):
  * the d4(r14)/d22(r15) anomaly class — an untouched heavy query 2-3×
  * slower at the driver than locally — has twice cost a verdict cycle
  * to adjudicate "hot machine" vs "cache eviction under memory
  * pressure", because the artifact carried per-rep system load but
  * nothing about storage. This listener folds block-update events into
  * three numbers a rep can report:
  *
  *  - `peakMB`    — high-water storage memory (cached RDD blocks +
  *                  broadcasts) during the rep, in MiB;
  *  - `evictDisk` — blocks a MEMORY_AND_DISK persist lost from memory
  *                  to DISK mid-rep (old memSize > 0 → memSize == 0
  *                  with the level still valid): the UNAMBIGUOUS
  *                  memory-pressure signal — a deliberate unpersist
  *                  invalidates the level instead, so it can never
  *                  land here;
  *  - `drops`     — blocks removed outright (level invalid) that held
  *                  memory. Queries that stage-and-release persists
  *                  (the d4/d22 discipline) produce a DETERMINISTIC
  *                  nonzero count every run, so only a round-over-
  *                  round DELTA of this field signals anything.
  *
  * An eviction-inflated rep shows evictDisk > 0 (its persists were
  * thrashing); a hot-machine rep shows evictDisk == 0 with elevated
  * sysLoad. One artifact read now separates them.
  *
  * Per-rep TASK-METRIC sums (r16 verdict #2) decompose a rep's wall
  * time so CPU starvation, shuffle/IO and scheduler gaps separate in
  * one artifact read:
  *
  *  - `runMs`       — Σ executorRunTime over the rep's tasks: total
  *                    task-occupied core-milliseconds;
  *  - `cpuMs`       — Σ executorCpuTime: the on-CPU share of runMs. A
  *                    hot machine shows runMs ≫ cpuMs × 1 (tasks hold
  *                    cores but are descheduled by external load);
  *  - `gcMs`        — Σ jvmGCTime (inside runMs);
  *  - `shufWriteMs` — Σ shuffle write time (inside runMs; parquet
  *                    OUTPUT write time has no per-task metric in
  *                    Spark — it rides the runMs−cpuMs gap);
  *  - and the scheduling gap is wall × slots − runMs: tasks that
  *    never got a core at all.
  *
  * `jobs` counts the rep's Spark jobs (job-start events): the driver
  * round trips that wall the scheduler-bound lifecycle class.
  *
  * Counters reset per rep ([[reset]]); the block→memSize map persists
  * across reps so deltas stay exact for blocks that outlive a scrub
  * (warmup broadcasts). The caller must drain the async listener bus
  * (graftbridge.Bus.drain) before reading — block events post async.
  */
class BenchTelemetry extends SparkListener {
  private val memOf = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val cur = new AtomicLong(0L)
  private val peak = new AtomicLong(0L)
  private val evictDiskCtr = new AtomicLong(0L)
  private val dropCtr = new AtomicLong(0L)
  private val runMsCtr = new AtomicLong(0L)
  private val cpuMsCtr = new AtomicLong(0L)
  private val gcMsCtr = new AtomicLong(0L)
  private val swMsCtr = new AtomicLong(0L)
  private val jobsCtr = new AtomicLong(0L)

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    jobsCtr.incrementAndGet(): Unit
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    if (m != null) {
      runMsCtr.addAndGet(m.executorRunTime)
      cpuMsCtr.addAndGet(m.executorCpuTime / 1000000L)
      gcMsCtr.addAndGet(m.jvmGCTime)
      swMsCtr.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000L)
    }
  }

  override def onBlockUpdated(ev: SparkListenerBlockUpdated): Unit = {
    val info = ev.blockUpdatedInfo
    val valid = info.storageLevel.isValid
    val newMem = if (valid) info.memSize else 0L
    val oldBoxed =
      if (valid) memOf.put(info.blockId.name, newMem)
      else memOf.remove(info.blockId.name)
    val old = if (oldBoxed == null) 0L else oldBoxed.longValue
    if (newMem != old) {
      val c = cur.addAndGet(newMem - old)
      peak.getAndAccumulate(c, math.max)
    }
    if (old > 0L && newMem == 0L) {
      if (valid && info.diskSize > 0L) evictDiskCtr.incrementAndGet()
      else if (!valid) dropCtr.incrementAndGet()
    }
  }

  /** Start a rep: zero everything, INCLUDING the block ledger. The
    * caller resets right after its between-rep scrub, when real
    * storage is ~empty — and some removals (broadcast cleanup) never
    * post a block-update event, so a ledger carried across reps
    * accumulates phantom residency (observed r16: every late-suite
    * query "peaked" at the same ~1.4 GB, the cumulative put total).
    * Zeroing makes peakMB a true per-rep storage high-water; a stale
    * pre-reset block's removal event finds no ledger entry and is a
    * no-op. */
  def reset(): Unit = {
    memOf.clear(); cur.set(0L); peak.set(0L)
    evictDiskCtr.set(0L); dropCtr.set(0L)
    runMsCtr.set(0L); cpuMsCtr.set(0L); gcMsCtr.set(0L); swMsCtr.set(0L)
    jobsCtr.set(0L)
  }

  /** Everything accumulated since the last [[reset]]. Drain the
    * listener bus first (block and task-end events both post async). */
  def snapshot(): BenchTelemetry.Snap =
    BenchTelemetry.Snap(peak.get() >> 20, evictDiskCtr.get(), dropCtr.get(),
      runMsCtr.get(), cpuMsCtr.get(), gcMsCtr.get(), swMsCtr.get(),
      jobsCtr.get())
}

object BenchTelemetry {
  /** One rep's telemetry: storage triple, task-metric sums (ms), jobs. */
  case class Snap(peakMB: Long, evictDisk: Long, drops: Long,
                  runMs: Long, cpuMs: Long, gcMs: Long, shufWriteMs: Long,
                  jobs: Long)
}

/** Machine-window samplers behind every timed run ([[Harness.run]]):
  * three rounds of bench artifacts were poisoned by external machine
  * load, so each rep carries the evidence and a contaminated rep is
  * discountable mechanically.
  */
object MachineWindow {
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** 1-min system load average (runnable-thread count), 2dp. */
  def sysLoad: Double =
    math.floor(osBean.getSystemLoadAverage * 100) / 100

  /** (steal, total) jiffies from /proc/stat, (-1, -1) where unreadable.
    * loadavg cannot see hypervisor co-tenancy (r17: four same-code
    * suite runs spanned 310-370 s at load meds 3.3-4.9), nor tell a
    * probe's own decaying wake from a co-tenant (r18 20× runs); the
    * steal field counts only cycles the hypervisor gave someone else.
    * The jiffy total is user..steal (first 8 fields) ONLY: guest/
    * guest_nice are already accounted inside user/nice, so summing them
    * double-counts guest jiffies and understates steal% on VM-hosting
    * machines (ADVICE r17).
    */
  def stealRead(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  } catch { case _: Throwable => (-1L, -1L) }

  /** Steal percent of the jiffies between two [[stealRead]]s, 1dp;
    * -1 when either read failed or no jiffies passed. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (a._1 < 0 || b._1 < 0 || b._2 <= a._2) -1.0
    else math.floor((b._1 - a._1) * 1000.0 / (b._2 - a._2)) / 10
}
