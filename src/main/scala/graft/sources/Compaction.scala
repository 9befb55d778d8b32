package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Size-targeted partitioned parquet sink (beyond the reference — the
  * reference's outputs are single-process JSONL files; at 100 TB the
  * operational problem becomes file-count/file-size control: a write
  * that emits one file per (task × partition-value) turns a daily run
  * into millions of kilobyte files, and a naive
  * `repartition(partitionCols)` fix serializes each partition value
  * through one task).
  *
  * `writeSized` gives both bounds at once:
  *  - an explicit bucket column `pmod(xxhash64(fileKey), spread)` fans
  *    each partition value across up to `spread` writer tasks, so a hot
  *    partition (one language dominating a corpus) still writes in
  *    parallel. The shuffle is `repartition(cols)` (REPARTITION_BY_COL),
  *    which AQE coalesces down to the session's partition-size floor
  *    (GraftSession.tune): a write whose shuffle is under the floor
  *    runs as one writer task, a larger one keeps up to
  *    `spark.sql.shuffle.partitions` writer tasks;
  *  - `maxRecordsPerFile` is the hard per-file cap, enforced by the
  *    writer itself — no file exceeds it regardless of bucket skew.
  * Files per value: up to min(spread, writer tasks), even for a write
  * far under targetRows (nothing bounds a small write from below). One
  * shuffle total, no count pre-pass, no driver-side planning loop —
  * layout decisions are all expression-local, so the same call works
  * at any scale.
  */
object Compaction {

  /** Write `df` as `path/col=value/...` parquet with bounded file sizes.
    *
    * @param partitionCols  hive-style output partition columns
    * @param fileKey        deterministic fan-out key (e.g. the record id);
    *                       rows with equal keys land in the same file
    * @param targetRows     hard cap on rows per file (maxRecordsPerFile)
    * @param spread         max writer tasks per partition value (a
    *                       write under the session's partition-size
    *                       floor coalesces to fewer)
    */
  def writeSized(df: DataFrame, path: String, partitionCols: Seq[String],
                 fileKey: Column, targetRows: Long, spread: Int = 8,
                 mode: String = "overwrite"): Unit = {
    require(spread > 0, s"spread must be positive, got $spread")
    val bucket = pmod(xxhash64(fileKey), lit(spread))
    val parts = partitionCols.map(col) :+ bucket
    df.repartition(parts: _*)
      .write
      .mode(mode)
      .option("maxRecordsPerFile", targetRows)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Scan twin: partition columns come back from directory names, so a
    * write→read round trip is the identity on the data columns. */
  def readSized(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Morton (Z-order) interleave of two non-negative long columns,
    * `bits` low bits each: bit b of x lands at position 2b, bit b of y
    * at 2b+1. Pure literal-fold bit arithmetic — codegen-friendly,
    * deterministic, replayable by any engine (oracle-checked in s12).
    * Callers pre-normalize values into [0, 2^bits).
    */
  def zValue(x: Column, y: Column, bits: Int = 20): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(
          shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ordered parquet layout: range-partition then sort by the Morton
    * value of (x, y), so each output FILE covers a small square-ish
    * tile of the 2D key space instead of a stripe — a range predicate
    * on EITHER dimension then skips most files/row-groups on parquet
    * min/max stats (one-dimension sorting prunes only its own column).
    * This is write-time clustering: one range shuffle, a per-partition
    * sort, hard per-file row caps — no count pre-pass, no driver loop,
    * the standard lakehouse OPTIMIZE ZORDER shape expressed as a plain
    * Spark write. CompactionSpec pins the per-file tile-narrowness
    * against a 1D-sorted layout.
    */
  def writeZOrdered(df: DataFrame, path: String, x: Column, y: Column,
                    bits: Int = 20, targetRows: Long = 1L << 20,
                    numFiles: Int = 0): Unit = {
    val withZ = df.withColumn("_z", zValue(x, y, bits))
    val parts =
      if (numFiles > 0) withZ.repartitionByRange(numFiles, col("_z"))
      else withZ.repartitionByRange(col("_z"))
    parts.sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRows)
      .parquet(path)
  }
}
