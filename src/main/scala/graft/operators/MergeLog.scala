package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Merge-on-read snapshot log — the storage lifecycle around
  * [[Dedup.mergeUpsert]] (beyond the reference, whose "checkpoints" are
  * whole-file JSONL rewrites, checkpoint_manager.py).
  *
  * At 100 TB the one thing a CDC sink must NOT do is rewrite the
  * snapshot per batch. The layout here is the merge-on-read shape:
  *
  * {{{
  *   base    data columns                (rewritten only by compact)
  *   delta   data + version + deleted    (append-only, one per batch)
  * }}}
  *
  * Writes are O(batch): [[appendDelta]] drops one new parquet dir and
  * never touches base. Reads resolve lazily: [[read]] is
  * `mergeUpsert(base, all deltas)` — one plan, the base side untouched
  * by the delta windows. [[compact]] folds the delta log into a new
  * base version and retires the absorbed deltas. Row-level precedence
  * is the row `version` column (CDC contract), not file arrival order.
  *
  * The layout, its commit points, batch ids and water line are
  * [[SegmentFs.Log]]'s: no driver-side manifest state to corrupt.
  */
object MergeLog {

  /** Create the log with `snapshot` as base v=0. */
  def init(snapshot: DataFrame, dir: String): Unit =
    new SegmentFs.Log(snapshot.sparkSession, dir).init(snapshot)

  /** Append one change batch (data + version + deleted columns) as the
    * next delta segment. O(batch) — base is never read or written. An
    * explicit `id` (streaming batch id) makes the write idempotent:
    * re-delivery of a committed or folded batch (see [[SegmentFs.Log]])
    * is a no-op instead of a dup, while a torn dir from a crashed
    * attempt is deleted and rewritten — existence of the directory alone
    * is NOT commitment, or a replay after a mid-write crash would
    * silently drop the batch.
    */
  def appendDelta(delta: DataFrame, dir: String,
                  id: Option[Long] = None): Long =
    new SegmentFs.Log(delta.sparkSession, dir).append(id)(_ => delta)

  /** Current table state: latest base ⊕ every delta segment, resolved
    * by row version. ONE lazy plan — the delta union windows on the
    * key over delta rows only; the base side takes the anti-join
    * passthrough (broadcast under AQE at sane delta/base ratios).
    */
  def read(spark: SparkSession, dir: String, key: String,
           version: String = "version",
           deleted: String = "deleted"): DataFrame =
    readAsOf(spark, dir, key, Long.MaxValue, version, deleted)

  /** Time-travel read: the table AS OF delta segment `upTo` (inclusive)
    * — the reproducibility primitive: a training run records the batch
    * id it consumed, and any later job reads the exact same corpus
    * state back: [[read]] restricted to delta segments ≤ `upTo`; one
    * lazy plan, no snapshot copies. Only valid back to the current
    * base: throws when [[compact]] has folded `upTo` into it.
    */
  def readAsOf(spark: SparkSession, dir: String, key: String, upTo: Long,
               version: String = "version",
               deleted: String = "deleted"): DataFrame = {
    val log = new SegmentFs.Log(spark, dir)
    val (base, ids) = log.asOf(upTo, upTo)
    if (ids.isEmpty) base
    else Dedup.mergeUpsert(base, log.deltas(ids), key, version, deleted)
  }

  /** Fold the delta log into a new base and retire the absorbed
    * segments. The new base is named after the water line (one above
    * the highest folded id), so a compaction that dies before retiring
    * leaves deltas every reader already skips, and its retry only
    * retires them. Returns the new base version.
    */
  def compact(spark: SparkSession, dir: String, key: String,
              version: String = "version",
              deleted: String = "deleted"): Long =
    new SegmentFs.Log(spark, dir).compact(readAsOf(spark, dir, key, _, version, deleted))

  /** Reclaim bases older than the latest committed one (see
    * [[SegmentFs.Log.vacuum]] — reads and the as-of horizon are
    * unaffected, they already reach back only to the current base).
    */
  def vacuum(spark: SparkSession, dir: String): Int =
    new SegmentFs.Log(spark, dir).vacuum()

  /** Row-level diff between two time-travel states: every key whose
    * resolved value differs between [[readAsOf]] `from` and `to`, with
    * `change` ∈ insert (absent→present), update (present, value
    * differs), delete (present→absent); a rewrite to the SAME value is
    * NOT a change. `from = -1` means "since init" (valid only while the
    * log is uncompacted, base v=0); otherwise `from` obeys [[readAsOf]]'s
    * compaction horizon. The corpus-maintenance "what changed between
    * yesterday's corpus and today's" question, answered without reading
    * either snapshot in full.
    *
    * Scale shape: only keys appearing in a delta segment in (from, to]
    * can differ, so that key set (delta-sized, never snapshot-sized)
    * broadcasts as a semi-join prune onto the base scan and the delta
    * union — the snapshot itself never shuffles, and both as-of states
    * resolve with windows over the pruned candidate rows only. Both
    * states resolve from one tagged delta union, so precedence is
    * exactly [[Dedup.mergeUpsert]]'s: any delta row beats base, max
    * `version` wins within the delta.
    */
  def diff(spark: SparkSession, dir: String, key: String,
           from: Long, to: Long, version: String = "version",
           deleted: String = "deleted"): DataFrame = {
    require(from <= to, s"from=$from must be <= to=$to")
    val log = new SegmentFs.Log(spark, dir)
    val (base, segs) = log.asOf(from, to)
    val dataCols = base.columns.toIndexedSeq
    if (!segs.exists(_ > from))
      return base.limit(0).withColumn("change", lit(""))
    val delta = segs.map { k =>
      log.deltas(Seq(k)).withColumn("__seg", lit(k))
    }.reduce(_ unionByName _)
    val touched = delta.filter(col("__seg") > from).select(col(key)).distinct()
    val deltaT = delta.join(broadcast(touched), Seq(key), "left_semi")
      .select(dataCols.map(col) ++ Seq(col(version).as("__v"),
        col(deleted).as("__d"), lit(1).as("__pri"), col("__seg")): _*)
    val baseT = base.join(broadcast(touched), Seq(key), "left_semi")
      .select(dataCols.map(col) ++ Seq(lit(0L).as("__v"),
        lit(false).as("__d"), lit(0).as("__pri"), lit(-1L).as("__seg")): _*)
    def resolve(cand: DataFrame) = cand
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(key))
          .orderBy(col("__pri").desc, col("__v").desc)))
      .filter(col("__rn") === 1 && !col("__d"))
      .select(col(key), struct(dataCols.map(col): _*).as("__row"))
    val o = resolve(baseT.unionByName(deltaT.filter(col("__seg") <= from)))
      .withColumnRenamed("__row", "__o")
    val n = resolve(baseT.unionByName(deltaT)).withColumnRenamed("__row", "__n")
    o.join(n, Seq(key), "full_outer")
      .withColumn("change",
        when(col("__o").isNull, "insert")
          .when(col("__n").isNull, "delete")
          .when(!(col("__o") <=> col("__n")), "update"))
      .filter(col("change").isNotNull)
      .withColumn("__r",
        when(col("change") === "delete", col("__o")).otherwise(col("__n")))
      .select(dataCols.map(c => col(s"__r.$c")) :+ col("change"): _*)
  }

  /** Streaming CDC sink: every micro-batch appends one delta segment
    * keyed by the batch id (idempotent on replay after a sink-side
    * commit; exactly-once against the checkpoint). Start with
    * `.start()` and compact on whatever cadence suits the log/read
    * amplification trade-off.
    */
  def upsertSink(delta: DataFrame, dir: String): DataStreamWriter[Row] =
    delta.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendDelta(batch, dir, Some(batchId)): Unit
    }

  /** Schema of the delta side for a given base schema (adds the CDC
    * version/tombstone columns) — handy for stream sources. */
  def deltaSchema(base: StructType, version: String = "version",
                  deleted: String = "deleted"): StructType =
    StructType(base.fields)
      .add(version, "long", nullable = false)
      .add(deleted, "boolean", nullable = false)
}
