package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Rag}

/** A workload yields its ops one pass at a time, in a seeded order. */
trait Workload {
  def setup(): Unit
  def nextPass(): Seq[OpSpec]
  /** Checks answers that are verified together after the timed phases;
    * marks the ops whose answer is wrong. */
  def finalCheck(): Unit = ()
}

object Workload {
  def apply(name: String, r: Runner, spark: SparkSession, data: String,
            stores: String, seed: Long, ops: Option[Seq[String]]): Workload = name match {
    case "etl_batch" => new EtlBatch(r, ops.getOrElse(Digests.etl), seed)
    case "lifecycle_tick" =>
      new LifecycleTick(r, spark, data, stores, ops.getOrElse(Digests.ticks), seed)
    case other => sys.error(s"unknown workload $other")
  }
}

/** The batch product over `documents`: a seeded order of SparkEntry ops. */
final class EtlBatch(r: Runner, ops: Seq[String], seed: Long) extends Workload {
  private val rng = new java.util.Random(seed)
  def setup(): Unit = ()
  def nextPass(): Seq[OpSpec] =
    scala.util.Random.javaRandomToRandom(rng).shuffle(ops).map(r.entryOp)
}

/** Tick queries plus store maintenance against commit-gated BM25 and LSH
  * band stores built over a quarter of the corpus: every maintenance op
  * appends a batch of new documents to both stores and compacts both, so
  * the stores grow by one batch a pass. */
final class LifecycleTick(r: Runner, spark: SparkSession, data: String,
                          stores: String, ticks: Seq[String], seed: Long)
    extends Workload {
  private val rng = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
  private val docs = graft.Tables.load(spark, data, "documents")
  private val bm25 = s"$stores/bm25"
  private val lsh = s"$stores/lsh"
  private val BatchDocs = 100
  private val Buckets = 16 // directory buckets of both stores
  private var batches: Iterator[Seq[Long]] = Iterator.empty
  private val appended = ArrayBuffer[Long]()
  private var maint = 0
  private val maintRecs = ArrayBuffer[OpRec]()

  private val inBase = col("doc_id") % 4 === 0

  def setup(): Unit = {
    val base = docs.filter(inBase)
    graft.Frames.overlap(Rag.saveBm25Index(base, col("doc_id"), col("text"), bm25,
      buckets = Buckets, targetRows = 100000L, spread = 2))(
      Dedup.saveLshBandIndex(base, col("doc_id"), col("text"), lsh,
        buckets = Buckets, targetRows = 100000L, spread = 2))
    val rest = docs.filter(!inBase).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    batches = rng.shuffle(rest).grouped(BatchDocs).map(_.toSeq)
  }

  private def maintOp: OpSpec = OpSpec("maintain", "operators", () => {
    maint += 1
    val m = maint
    require(batches.hasNext, "maintenance batches exhausted")
    val ids = batches.next()
    val batch = docs.filter(col("doc_id").isin(ids: _*))
    Rag.appendBm25Index(batch, col("doc_id"), col("text"), bm25,
      targetRows = 100000L, spread = 2, batchId = Some(m.toLong))
    Dedup.appendLshBandIndex(batch, col("doc_id"), col("text"), lsh,
      buckets = Buckets, targetRows = 100000L, spread = 2, srcBatch = m.toLong)
    Rag.compactBm25Index(spark, bm25, upTo = m.toLong, targetRows = 100000L, spread = 2)
    Dedup.compactLshBandIndex(spark, lsh, upTo = m.toLong, targetRows = 100000L, spread = 2)
    appended ++= ids
    None
  }, (rec, _, _) => { maintRecs += rec; None })

  def nextPass(): Seq[OpSpec] =
    rng.shuffle(ticks.map(r.entryOp) :+ maintOp)

  /** Both stores must answer exactly as a store built from scratch over
    * the same documents would: BM25 against the direct `Rag.bm25` scan
    * (bit-identical by contract), the band index against a fresh build. */
  override def finalCheck(): Unit = {
    val present = docs.filter(inBase || col("doc_id").isin(appended.toSeq: _*))
    val sample = present.select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
    val queries = (0 until 6).map { i =>
      val toks = graft.functions.TextAnalysis.jvmTokens(
        sample(rng.nextInt(sample.length)).getString(1)).distinct
      i -> rng.shuffle(toks.toSeq).take(3)
    }
    def sorted(df: DataFrame) = df.collect().map(_.toSeq.map(Canon.value).mkString(" ")).sorted.toSeq
    val probe = docs.filter(col("doc_id") % 20 === rng.nextInt(20).toLong)
    // the two checks are independent, so they run side by side
    val (bm25Ok, lshOk) = graft.Frames.overlap(
      sorted(Rag.bm25Indexed(spark, bm25, queries)) ==
        sorted(Rag.bm25(present, col("doc_id"), col("text"), queries))) {
      // fewer directory buckets make the fresh build cheaper; bucketing
      // only places band rows and never changes a probe's answer
      Dedup.saveLshBandIndex(present, col("doc_id"), col("text"), s"$stores/lsh_check",
        buckets = 8, targetRows = 100000L, spread = 2)
      sorted(Dedup.probeLshBandIndex(spark, lsh, probe, col("doc_id"), col("text"),
        buckets = Buckets)) ==
        sorted(Dedup.probeLshBandIndex(spark, s"$stores/lsh_check", probe,
          col("doc_id"), col("text"), buckets = 8))
    }
    val errs = Seq(
      Option.when(!bm25Ok)("BM25 store differs from a direct bm25 scan of the same documents"),
      Option.when(!lshOk)("LSH band store differs from a fresh build over the same documents")
    ).flatten
    if (errs.nonEmpty) maintRecs.foreach(m => if (m.error == null) m.error = errs.mkString("; "))
  }
}
