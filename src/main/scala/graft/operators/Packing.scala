package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Sequence packing for training-data assembly (beyond the reference;
  * standard LLM-pretraining need): per group (language), documents
  * concatenate in id order and cut into fixed-size token bins; a document
  * belongs to the bin where it STARTS (start offset = running token sum
  * minus its own length).
  *
  * Two formulations with identical results (PackingSpec pins equality):
  *
  *  - [[packedStarts]]: one window per group — simple, but a skewed group
  *    distribution (English ≫ rest in any real crawl) serializes the
  *    dominant group's whole corpus through ONE task's sort.
  *  - [[packedStartsBucketed]]: the scale path, same two-pass summary-
  *    carry shape as [[Joins.asofJoinBucketed]]. Pass 1 sums tokens
  *    within (group, id-bucket) — the sort unit is one bucket, so a hot
  *    group spreads over #buckets tasks. Pass 2 carries bucket-closing
  *    token totals along the bucket spine (one aggregate row per
  *    non-empty (group, bucket) — tiny relative to the data), and the
  *    stitch joins on (group, bucket), reusing pass 1's partitioning for
  *    the big side while the carry side broadcasts.
  */
object Packing {

  /** Global start offset per document via one window per group.
    * Returns (doc_id, lang, n_tok, start_tok); `docId` must be integral
    * and unique within a group.
    */
  def packedStarts(docs: DataFrame, lang: Column, docId: Column,
                   nTok: Column): DataFrame = {
    val d = docs.select(lang.as("lang"), docId.cast("long").as("doc_id"),
      nTok.cast("long").as("n_tok"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("start_tok"))
  }

  /** Same result as [[packedStarts]], but no task ever sorts a whole
    * group: ids bucket by `bucketWidth`, in-bucket running sums compute
    * per (group, bucket), and cross-bucket offsets come from a running
    * sum over per-bucket totals. Correct for any positive width; pick
    * bucketWidth so a bucket's rows fit a task comfortably.
    */
  def packedStartsBucketed(docs: DataFrame, lang: Column, docId: Column,
                           nTok: Column, bucketWidth: Long): DataFrame = {
    val d = bucketed(docs, lang, docId, nTok, bucketWidth)
    // pass 2: one total per non-empty (group, bucket); the carry window's
    // partitions are #buckets-sized — never corpus-sized.
    val wCarry = Window.partitionBy(col("lang")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withCarries(d, bucketTotals(d).select(col("lang"), col("__b"),
      coalesce(sum(col("__tot")).over(wCarry), lit(0L)).as("__carry")))
  }

  /** (lang, doc_id, n_tok, __b): the docs keyed by their id bucket. */
  private def bucketed(docs: DataFrame, lang: Column, docId: Column,
                       nTok: Column, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    docs.select(lang.as("lang"), docId.cast("long").as("doc_id"),
        nTok.cast("long").as("n_tok"))
      .withColumn("__b", expr(s"doc_id div $bucketWidth"))
  }

  private def bucketTotals(d: DataFrame): DataFrame =
    d.groupBy(col("lang"), col("__b")).agg(sum(col("n_tok")).as("__tot"))

  /** Pass 1 and the stitch: in-bucket running sums plus the bucket's
    * `carries` (lang, __b, __carry), the carry side broadcast. */
  private def withCarries(d: DataFrame, carries: DataFrame): DataFrame = {
    val wIn = Window.partitionBy(col("lang"), col("__b"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("__in_start", sum(col("n_tok")).over(wIn) - col("n_tok"))
      .join(broadcast(carries), Seq("lang", "__b"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("__carry") + col("__in_start")).as("start_tok"))
  }

  /** Roll packed starts up to per-bin document/token counts. */
  def packBins(starts: DataFrame, binTokens: Long): DataFrame = {
    require(binTokens > 0, "binTokens must be positive")
    starts.withColumn("bin", expr(s"start_tok div $binTokens"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Sliding-window chunking: split each document into token windows of
    * at most `maxTokens`, consecutive windows `stride` tokens apart (so
    * adjacent chunks overlap by `maxTokens - stride` tokens — the
    * tokenizer `return_overflowing_tokens` shape every pretraining
    * pipeline applies to over-length documents before packing). A doc
    * with `n <= maxTokens` tokens (including an empty one) yields
    * exactly one chunk; otherwise `ceil((n - maxTokens)/stride) + 1`
    * chunks, the last possibly short. Output: one row per chunk —
    * `(doc_id, chunk_idx, n_tok, chunk_text)`.
    *
    * Scale shape: embarrassingly parallel — the whole operator is one
    * narrow projection + generator per row, ZERO exchanges; tokenize
    * once at a select boundary (the `__toks` alias is multi-use and
    * non-cheap, so CollapseProject materializes it rather than inlining
    * the regex into the generator and both slices); the per-chunk work
    * after the explode only re-reads the materialized array.
    */
  def chunkWindows(docs: DataFrame, docId: Column, text: Column,
                   maxTokens: Int, stride: Int): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(stride > 0 && stride <= maxTokens,
      "stride must be in (0, maxTokens]")
    docs
      .select(docId.cast("long").as("doc_id"),
        graft.functions.TextAnalysis.tokens(text).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        size(col("__toks")).cast("long").as("__n"))
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0L),
          when(col("__n") <= maxTokens, lit(0L))
            .otherwise(expr(s"(__n - $maxTokens + $stride - 1) div $stride"))))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(maxTokens))
          .as("__ct"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("__ct")).cast("long").as("n_tok"),
        concat_ws(" ", col("__ct")).as("chunk_text"))
  }

  /** Concat-and-chunk SPAN semantics over a packed-starts frame (Brown
    * et al. 2020 §2.1 — the causal-LM loader's view, where a document
    * may CROSS a sequence boundary rather than belonging only to the
    * bin it starts in, [[packBins]]'s convention): adds `seq_first`/
    * `seq_last` (the `seqLen`-token training sequences the doc
    * intersects), `off_in_seq` (offset inside seq_first) and `crosses`.
    * Pure BIGINT projection over `(n_tok, start_tok)` — zero exchanges.
    */
  def packedSpans(starts: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    starts
      // a zero-token row placed exactly on a boundary would compute
      // seq_last < seq_first — and Spark's sequence() then generates a
      // DESCENDING range, silently double-counting the phantom doc in
      // packFragmentation. Zero-token rows place nothing: drop them
      // here so the operator is total, not precondition-dependent.
      .filter(col("n_tok") >= 1L)
      .withColumn("seq_first", expr(s"start_tok div $seqLen"))
      .withColumn("seq_last",
        expr(s"(start_tok + n_tok - 1) div $seqLen"))
      .withColumn("off_in_seq", pmod(col("start_tok"), lit(seqLen)))
      .withColumn("crosses", col("seq_last") > col("seq_first"))
  }

  /** Attention-fragmentation census over a [[packedSpans]] frame: how
    * many documents each training sequence mixes (every boundary
    * crossing puts unrelated text in one attention window — the stat
    * behind boundary-aware attention masking). Output is the bounded
    * histogram `(n_docs, n_seqs)`. Scale shape: each doc explodes to
    * its ≤ `n_tok/seqLen + 1` intersected sequence ids — linear in
    * corpus_tokens/seqLen — then two hash aggregates.
    */
  def packFragmentation(spans: DataFrame): DataFrame =
    spans
      .select(explode(sequence(col("seq_first"), col("seq_last")))
        .as("seq_id"))
      .groupBy(col("seq_id")).agg(count(lit(1)).as("n_docs"))
      .groupBy(col("n_docs")).agg(count(lit(1)).as("n_seqs"))

  // -------------------------------------------------------------------
  // Persisted packed-stream store — the commit-gated index-lifecycle
  // discipline applied to packing: the packed corpus is a SERVED
  // artifact (training shards address tokens by global offset), so a
  // day's batch must APPEND at the stream's high-water token offset
  // and never restate an earlier placement.
  //
  //   dir/tot/d=K     committed text file `tokens`: K's token mass,
  //                   written FIRST through the FS API (no Spark job) —
  //                   a tot without committed data is a torn attempt,
  //                   invisible to readers and rewritten by the retry
  //   dir/delta/d=K   packed rows (seg, doc_id, n_tok, start_tok);
  //                   its committed dir (a delta-only SegmentFs.Log)
  //                   is the commit gate
  //
  // Replay of a committed batch id is a complete no-op; the append
  // stability law (PackingSpec) pins that one-shot packing of the
  // whole corpus equals the composition of ticks, byte for byte.
  // Single-writer, monotone batch ids, no compaction: segments are
  // immutable serve shards, never folded.
  // -------------------------------------------------------------------

  /** Append one batch to the packed store at `dir` (created on first
    * call). Within the batch, docs pack in ascending `id` order (rows
    * with `nTok` < 1 place nothing); across batches, order is append
    * order. The per-bucket token totals come to the driver (one row per
    * non-empty bucket): their prefix sums are the cross-bucket carries,
    * and their sum is the batch's token mass, written as `tot/d=K` text.
    * Returns the committed segment id (= `batchId`).
    */
  def appendPacked(spark: SparkSession, dir: String, batch: DataFrame,
                   id: Column, nTok: Column, batchId: Long,
                   bucketWidth: Long = 4096L): Long = {
    // a replay of a committed id is a complete no-op: the frame is never built
    new SegmentFs.Log(spark, dir).append(Some(batchId)) { committed =>
      require(committed.forall(_ < batchId),
        s"packed appends are monotone: batch $batchId after $committed")
      val base = packedHighWater(spark, dir, committed)
      val d = bucketed(batch.filter(nTok.cast("long") >= 1L),
        lit("all"), id, nTok, bucketWidth)
      val totals = bucketTotals(d).select(col("__b"), col("__tot"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      // a bucket's carry: the tokens of the buckets before it
      val carries = spark.createDataFrame(
          totals.map(_._1).zip(totals.scanLeft(0L)(_ + _._2))
            .map { case (b, c) => ("all", b, c) }.toSeq)
        .toDF("lang", "__b", "__carry")
      // a tot without committed data is a torn attempt: rewrite it
      val tot = s"$dir/tot/d=$batchId"
      SegmentFs.reclaim(spark, tot)
      SegmentFs.writeSmallFile(spark, tot, "tokens",
        totals.map(_._2).sum.toString): Unit
      withCarries(d, carries)
        .select(lit(batchId).as("seg"), col("doc_id"), col("n_tok"),
          (col("start_tok") + lit(base)).as("start_tok"))
    }
  }

  /** The stream's high-water token offset: Σ token mass of the
    * data-committed segments, read from their committed `tot` text files
    * through the FS API — no Spark job, never a store scan.
    */
  private def packedHighWater(spark: SparkSession, dir: String,
                              committed: Seq[Long]): Long =
    committed.map(k =>
      SegmentFs.readSmallFile(spark, s"$dir/tot/d=$k", "tokens").toLong).sum

  /** All committed packed rows — the serve view. */
  def packedStore(spark: SparkSession, dir: String): DataFrame = {
    val log = new SegmentFs.Log(spark, dir)
    val committed = log.committed
    require(committed.nonEmpty, s"no committed packed segments at $dir")
    log.deltas(committed)
  }

  /** Streaming wrapper over [[appendPacked]]: each micro-batch appends
    * at the stream's high-water token offset, keyed by its batch id —
    * Structured Streaming replays the last uncommitted batch on
    * restart and the commit gate no-ops it, so the packed stream is
    * exactly-once without coordination.
    */
  def packedStreamSink(stream: DataFrame, idName: String,
                       nTokName: String, dir: String,
                       bucketWidth: Long = 4096L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendPacked(batch.sparkSession, dir, batch, col(idName),
          col(nTokName), batchId, bucketWidth): Unit
    }
}
