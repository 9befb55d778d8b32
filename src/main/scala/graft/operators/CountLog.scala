package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Additive count-table log — the third merge-on-read lifecycle next to
  * [[MergeLog]] (last-wins by row version) and the HLL sketch lifecycle
  * in [[Sketches]] (bytes union): here segments hold PARTIAL COUNTS and
  * the read-side merge is a keyed SUM. Integer addition is associative
  * and commutative, so however ingest batches were split, the folded
  * table is bit-identical to a from-scratch recount — incremental
  * maintenance is EXACT, not approximate.
  *
  * This is the freshness primitive for every count-shaped model in the
  * engine: NB classifier counts ([[Classify.appendModelBatch]]),
  * unigram/bigram LM tables, gram doc-frequencies. At 100 TB the model
  * must absorb a daily batch without rescanning the corpus: `append`
  * writes one segment of batch-local counts (O(batch), the base is
  * never touched) and `read` folds base ∪ deltas with one aggregation
  * whose input is (#segments × key-space) rows — key spaces here are
  * BOUNDED by construction (hash buckets, vocab slots, strata), so the
  * fold stays tiny however long the log grows, and [[compact]] resets
  * the segment count whenever read amplification matters.
  *
  * File discipline is [[SegmentFs]]'s: `base/v=N` + `delta/d=K` dirs
  * discovered by listing, commit-gated, per-batch-id idempotent
  * appends (safe streaming replay), torn-write reclaim,
  * crash-safe compaction.
  */
object CountLog {

  /** Create the log with `counts` as base v=0. Key columns are the
    * non-summed identity of a row; every other column must be numeric
    * and is summed by [[read]].
    */
  def init(counts: DataFrame, dir: String): Unit =
    counts.write.mode("errorifexists").parquet(SegmentFs.baseDir(dir, 0L))

  /** Append one batch of partial counts as the next delta segment.
    * O(batch); idempotent on committed batch `id`s (re-delivery after a
    * sink-side commit is a no-op; a torn dir is rewritten).
    */
  def append(counts: DataFrame, dir: String, id: Option[Long] = None): Long =
    SegmentFs.appendSegment(counts, dir, id)

  private def fold(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val sums = rows.columns.filterNot(keys.contains)
      .map(c => sum(col(c)).as(c))
    rows.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Current totals: base ∪ every committed delta → one keyed sum. ONE
    * lazy plan over (#segments × key-space) rows.
    */
  def read(spark: SparkSession, dir: String, keys: Seq[String]): DataFrame =
    readAsOf(spark, dir, keys, Long.MaxValue)

  /** Time-travel read: totals AS OF delta segment `upTo` (inclusive) —
    * the model-reproducibility primitive ("score with the model as of
    * batch K", [[MergeLog.readAsOf]]'s sibling). Valid back to the
    * current base; compaction absorbs older segments and the read
    * throws past the retained horizon.
    */
  def readAsOf(spark: SparkSession, dir: String, keys: Seq[String],
               upTo: Long): DataFrame = {
    val bv = SegmentFs.latestBase(spark, dir)
    val base = SegmentFs.readCommitted(spark, SegmentFs.baseDir(dir, bv))
    val all = SegmentFs.listVersions(spark, s"$dir/delta", "d")
    if (all.nonEmpty && all.min > upTo)
      throw new IllegalStateException(
        s"as-of $upTo predates the current base — segments <= $upTo were " +
          s"compacted away (earliest retained: ${all.min})")
    val deltas = all.filter(_ <= upTo)
    val rows =
      if (deltas.isEmpty) base
      else base.unionByName(
        SegmentFs.readCommitted(spark, deltas.map(SegmentFs.deltaDir(dir, _)): _*))
    fold(rows, keys)
  }

  /** Fold the delta log into base v=N+1 and retire absorbed segments
    * (crash-safe, see [[SegmentFs.compactInto]]). Reading a compacted
    * log is identical to reading the uncompacted one — the sum fold is
    * associative.
    */
  def compact(spark: SparkSession, dir: String, keys: Seq[String]): Long =
    SegmentFs.compactInto(spark, dir, read(spark, dir, keys))

  /** Reclaim bases older than the latest committed one
    * ([[SegmentFs.vacuumBases]]; reads unaffected).
    */
  def vacuum(spark: SparkSession, dir: String): Int =
    SegmentFs.vacuumBases(spark, dir)
}
