package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.concurrent.duration._

/** Storage hygiene for iterative operators.
  *
  * `Dataset.unpersist` only uncaches CacheManager entries — but a
  * `localCheckpoint`ed frame's plan is a [[LogicalRDD]] whose
  * persisted RDD the CacheManager never saw, so calling `unpersist`
  * on it is a silent no-op. Superseded per-iteration frames
  * (connected-components rounds, PageRank ticks, BPE merge steps)
  * therefore accumulated executor storage for the life of the
  * session: harmless inside one query, but measured in round 12 as
  * 6–29× timing inflation on whatever queries happened to run after
  * the checkpoint-heavy ones in a long bench session — and the same
  * leak would bite any long-lived production session.
  */
object Frames {

  /** Measurement escape (fan A/Bs, COVERAGE.md fan bullet): with
    * SPARK_GRAFT_NOFAN=1 every fan is the identity, so fan-vs-nofan
    * runs need no recompile. Never set by any driver surface. */
  private val disabled: Boolean =
    sys.env.get("SPARK_GRAFT_NOFAN").contains("1")

  /** Spread an UNDER-partitioned source across the session's cores
    * before an expensive map phase (tokenize / minhash / simhash /
    * feature-hash): a small parquet file is one row group and
    * therefore ONE scan partition, so every scan-fused heavy
    * projection upstream of the first exchange runs single-threaded —
    * at 32 allotted cores the map phase of a one-file corpus uses 3%
    * of the machine. Guarded: when the source already carries at
    * least the session's parallelism (any realistic multi-file corpus
    * — the 100 TB case), this is the identity and NO exchange is
    * added; the shuffle only appears exactly when it buys a ~cores×
    * map-phase speedup, and it moves bare pre-projection rows once.
    * Callers apply it at build-once staging fronts (the sig/feature
    * tables), never on serving paths.
    *
    * A site whose heavy projection feeds a global sort on pass-through
    * keys needs no fan: SortBelowProjectRule runs that projection after
    * a range exchange pinned at `spark.sql.shuffle.partitions`, which
    * spreads it with one exchange fewer.
    */
  def fan(df: DataFrame): DataFrame = if (disabled) df else {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // partition count via the frame's OWN QueryExecution: `df.rdd`
    // would build a second QueryExecution (a deserialize-to-object
    // re-plan of the same tree) on every call just to read the count
    // (ADVICE r17). Callers pass scan-only fronts, so building the
    // RDD DAG here runs nothing. NOTE: the count — and therefore the
    // `rr=` class of the plan-fingerprint golden — is file-layout-
    // dependent by design (that is what fan keys on): a testdata
    // regeneration that changes file counts can fail the golden;
    // re-baseline it in that case.
    if (df.queryExecution.toRdd.getNumPartitions >= parallelism) df
    else df.repartition(parallelism)
  }

  /** Whole-session storage scrub shared by the driver surfaces (Bench
    * between reps, Verify between queries, ScaleProbe, the sf0.1 plan
    * sweep): drop every cached Dataset AND every persistent RDD —
    * lazy localCheckpoints register as the latter once materialized,
    * and `Dataset.unpersist` misses them (the r12 accumulation class).
    * Blocking, so the next timed/built thing never races the drops;
    * the GC lets the ContextCleaner reclaim dead shuffle/broadcast
    * state. ONE definition: the scrub's semantics have been tuned
    * across rounds and hand-copied variants drift.
    */
  def scrubSession(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Full-evaluation sink for timed runs: a count() lets Catalyst prune
    * every unreferenced projection expression, timing a skeleton plan;
    * materializing the InternalRow iterator forces all columns.
    */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        it.foreach(_ => ()))

  /** Run two INDEPENDENT driver-side action chains concurrently
    * (optimization guide §2.6): Spark's scheduler happily runs several
    * jobs at once inside one application — actions are only sequential
    * because the driver calls them sequentially. Lifecycle queries
    * whose wall is dependent-job round-trips (the COVERAGE
    * "scheduler-bound" class) often contain two chains with NO data
    * dependency (two staging writes to distinct dirs, a model train
    * beside a dedup write); submitting them together lets the second
    * chain's tasks back-fill the executor slots the first one's tail
    * leaves idle — at 100 TB exactly the §2.6 back-fill shape, and in
    * local mode it removes whole sequential job latencies.
    *
    * CONTRACT: `a` and `b` must be independent — no write-then-read of
    * the same path, no shared mutable frame, no overwrite racing a
    * reader. Results are unchanged by construction (each chain computes
    * exactly what it computed sequentially). `b` runs on the calling
    * thread (keeping its thread-locals — job description/group);
    * `a` runs on a scratch thread. Failures in either rethrow here.
    * After a failure of `b`, chain `a` gets `abandonAfter` to finish
    * before b's failure is rethrown without it.
    */
  def overlap[A, B](a: => A)(b: => B,
                             abandonAfter: FiniteDuration = 5.minutes): (A, B) = {
    if (overlapDisabled) { val ra = a; (ra, b) }
    else {
      import scala.concurrent.{Await, Future}
      val fa = Future(a)(scala.concurrent.ExecutionContext.global)
      // If `b` throws, chain `a` must still be awaited before the
      // failure propagates (r18 verdict): rethrowing immediately would
      // leave a's jobs running orphaned against scratch dirs — and a's
      // own failure would never be observed. `b`'s failure stays the
      // primary one; a's (if any) is attached as suppressed. The wait
      // is bounded: a wedged `a` must not turn b's failure into a hang.
      val rb = try b catch {
        case eb: Throwable =>
          try Await.result(fa, abandonAfter) catch {
            case _: java.util.concurrent.TimeoutException =>
              eb.addSuppressed(new IllegalStateException(
                s"overlap: chain a abandoned, still running $abandonAfter after b failed"))
            case ea: Throwable if ea ne eb =>
              eb.addSuppressed(ea)
              // the wait itself was interrupted: keep the flag for the caller
              if (ea.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
          }
          throw eb
      }
      (Await.result(fa, Duration.Inf), rb)
    }
  }

  /** Measurement escape (overlap A/Bs, same discipline as
    * SPARK_GRAFT_NOFAN): with SPARK_GRAFT_NOOVERLAP=1 every overlap
    * runs its two chains sequentially, so overlap-vs-sequential A/Bs
    * need no recompile. Never set by any driver surface. */
  private val overlapDisabled: Boolean =
    sys.env.get("SPARK_GRAFT_NOOVERLAP").contains("1")

  /** Actually free the storage behind a frame: unpersists the
    * [[LogicalRDD]]'s underlying RDD for localCheckpointed frames,
    * falling back to `Dataset.unpersist` for cached ones.
    *
    * Only call on frames that are SUPERSEDED — a local checkpoint
    * truncates lineage, so once its blocks are dropped the frame
    * cannot be recomputed. The caller must guarantee the successor
    * frame is already materialized (an eager checkpoint, or a
    * completed action over it).
    *
    * SHARED-LEAF HAZARD: this frees EVERY persisted [[LogicalRDD]]
    * leaf anywhere in the plan, not just the root. The caller must
    * own every persisted leaf of the plan it frees — passing a frame
    * whose plan shares a localCheckpoint leaf with a still-live
    * sibling would drop that sibling's blocks too, and (lineage being
    * truncated) a later action on the sibling fails with a missing-
    * checkpoint-block error rather than recomputing. Every current
    * caller passes either a checkpoint-root frame or a plan whose
    * checkpoints are exclusively its own (the per-iteration frames of
    * connectedComponents / linkRank / BPE).
    */
  def free(df: DataFrame): Unit = {
    // Walk the whole analyzed plan, not just its root: a frame that
    // wraps a localCheckpoint in even a trivial projection would
    // otherwise silently fall back to the no-op Dataset.unpersist —
    // the exact failure class this helper exists to eliminate.
    val rdds = df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }
    val persisted = rdds.filter(
      _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    if (persisted.nonEmpty) persisted.foreach(_.unpersist(blocking = false))
    else df.unpersist(blocking = false): Unit
  }
}
