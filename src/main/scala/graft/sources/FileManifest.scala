package graft.sources

import graft.operators.SegmentFs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S19 — incremental file-discovery ingest: the FILE-LEVEL watermark of
  * every production lake pipeline. A landing root accrues immutable
  * committed drops (one subdirectory per drop, committed as a unit by
  * its writer — see [[SegmentFs]]); a MANIFEST records
  * which drops have been absorbed; each tick reads ONLY the manifest
  * complement, so a day's tick costs O(new data) no matter how large
  * the landing history grows, and a drop is never absorbed twice.
  *
  * Crash contract (at-least-once → exactly-once): the tick processes
  * new drops FIRST and records them in the manifest LAST, so a crash
  * between the two replays the same drops — downstream effects must be
  * keyed by the tick's batch id (the MergeLog/index-append discipline
  * elsewhere in this library) for the replay to collapse. The manifest
  * append itself is commit-gated and batch-keyed: a replayed
  * `record` for a committed tick is a no-op, a torn one rewrites.
  *
  * Scale shape: listing is one FS namespace scan of drop dirs (not
  * data files); the manifest is a tiny text log; the data read
  * touches only the new drops' files. Nothing corpus-sized moves.
  */
object FileManifest {

  /** Committed drop directories under `landing`, sorted by name — an
    * in-flight or torn drop is invisible.
    */
  def listDrops(spark: SparkSession, landing: String): Seq[String] =
    SegmentFs.committedDirs(spark, landing, "")

  /** Drop names already absorbed, from the committed manifest segments:
    * small text files of NAMES, read through the FS API with no Spark job.
    */
  def processed(spark: SparkSession, manifest: String): Set[String] =
    SegmentFs.readCommittedFiles(spark, manifest, "drops")
      .flatMap(_.split('\n').filter(_.nonEmpty)).toSet

  /** The tick's work list: committed drops not yet in the manifest. */
  def newDrops(spark: SparkSession, landing: String,
               manifest: String): Seq[String] =
    listDrops(spark, landing).filterNot(processed(spark, manifest))

  /** One DataFrame over exactly the given drops, its schema from one
    * drop's footer ([[SegmentFs.readCommitted]]: no inference job) — pass
    * a non-empty list.
    */
  def readDrops(spark: SparkSession, landing: String,
                drops: Seq[String]): DataFrame =
    SegmentFs.readCommitted(spark, drops.map(d => s"$landing/$d"): _*)

  /** Record `drops` as absorbed, as the committed manifest segment of
    * tick `batchId`. Idempotent: a committed segment for this id makes
    * the call a no-op; a torn one (a crashed prior attempt) is deleted
    * and rewritten.
    */
  def record(spark: SparkSession, manifest: String, drops: Seq[String],
             batchId: Long): Unit =
    SegmentFs.writeSmallFile(spark, s"$manifest/m=$batchId", "drops",
      drops.mkString("\n")): Unit
}
