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
  * File discipline is [[SegmentFs.Log]]'s: base and delta dirs
  * discovered by listing, commit-gated, per-batch-id idempotent
  * appends (safe streaming replay), torn-write reclaim. The base's
  * version is the water line: it holds every batch id below it, so a
  * compaction that dies before retiring its deltas never counts them
  * twice, and a replay of a folded id is a no-op.
  */
object CountLog {

  /** Create the log with `counts` as base v=0. Key columns are the
    * non-summed identity of a row; every other column must be numeric
    * and is summed by [[read]].
    */
  def init(counts: DataFrame, dir: String): Unit =
    new SegmentFs.Log(counts.sparkSession, dir).init(counts)

  /** Append one batch of partial counts as the next delta segment.
    * O(batch); idempotent on committed or folded batch `id`s
    * (re-delivery after a sink-side commit is a no-op; a torn dir is
    * rewritten).
    */
  def append(counts: DataFrame, dir: String, id: Option[Long] = None): Long =
    new SegmentFs.Log(counts.sparkSession, dir).append(id)(_ => counts)

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
    * current base; the read of a batch id compaction folded throws.
    */
  def readAsOf(spark: SparkSession, dir: String, keys: Seq[String],
               upTo: Long): DataFrame =
    fold(new SegmentFs.Log(spark, dir).union(upTo), keys)

  /** Fold the delta log into a new base named after the water line and
    * retire absorbed segments ([[SegmentFs.Log.compact]]). Reading a
    * compacted log is identical to reading the uncompacted one — the
    * sum fold is associative.
    */
  def compact(spark: SparkSession, dir: String, keys: Seq[String]): Long =
    new SegmentFs.Log(spark, dir).compact(readAsOf(spark, dir, keys, _))

  /** Reclaim bases older than the latest committed one
    * ([[SegmentFs.Log.vacuum]]; reads unaffected).
    */
  def vacuum(spark: SparkSession, dir: String): Int =
    new SegmentFs.Log(spark, dir).vacuum()
}
