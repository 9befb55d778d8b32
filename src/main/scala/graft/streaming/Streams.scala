package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Structured Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference has no streaming (SURVEY.md §2.11) — its closest
  * analogue is checkpoint/resume batch increments. Here the incremental
  * path is first-class: every transform is `DataFrame => DataFrame` and
  * works identically under `read` (batch, oracle-checkable) and
  * `readStream` (incremental with watermarked state). That is the
  * Spark-native contract: one declarative plan, two execution modes.
  *
  * Scale notes: watermarks bound state size (late data beyond the
  * watermark is dropped, state for closed windows is freed); the
  * stateful sessionizer keys state by user_id so state shards across
  * executors; `Trigger.AvailableNow` turns the same query into an
  * idempotent catch-up batch.
  */
object Streams {

  /** Floor-stable 2-decimal rounding (CLAUDE.md cross-engine contract). */
  private def fround2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100.0 + 0.5) / 100.0

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class Session(user_id: Long, start_us: Long, end_us: Long,
                     n_events: Long, sum_value: Double)

  /** Watermarked tumbling-window counts per event type. Append-mode safe:
    * results emit once the watermark passes window end.
    */
  def windowedTypeCounts(events: DataFrame,
                         watermarkDelay: String = "10 minutes",
                         windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        fround2(sum(col("value"))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming corpus-quality drift monitor (beyond the reference): the
    * ops view a training-data pipeline runs on its ingest stream —
    * per event-time window, document volume, mean composite quality,
    * mean token count, and the share of docs under the quality floor.
    * A collapsing quality or spiking low-share flags a bad crawl batch
    * BEFORE it reaches the corpus. Pure per-row scoring (the ta2
    * composite) + one watermarked windowed aggregation: append-safe,
    * state bounded by the watermark. Works identically on a batch
    * frame (no watermark applied) — spec pins batch/stream equality.
    */
  def qualityDrift(docs: DataFrame, ts: Column, text: Column,
                   watermarkDelay: String = "10 minutes",
                   windowLen: String = "1 hour",
                   qualityFloor: Double = 0.5): DataFrame = {
    import graft.functions.{TextAnalysis => TA}
    val scored = docs
      .select(ts.as("_ts"), text.as("_text"), TA.tokens(text).as("_toks"))
      .select(col("_ts"),
        TA.qualityScoreFromTokens(col("_toks"), col("_text")).as("_q"),
        size(col("_toks")).as("_ntok"))
    val marked =
      if (docs.isStreaming) scored.withWatermark("_ts", watermarkDelay)
      else scored
    marked
      .groupBy(window(col("_ts"), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        fround2(avg(col("_q"))).as("avg_quality"),
        fround2(avg(col("_ntok").cast("double"))).as("avg_tokens"),
        fround2(avg(when(col("_q") < qualityFloor, 1.0).otherwise(0.0)))
          .as("low_quality_share"))
      .select(col("window.start").as("window_start"), col("n_docs"),
        col("avg_quality"), col("avg_tokens"), col("low_quality_share"))
  }

  /** The streaming twin of the g2 front half — benchmark
    * decontamination + the ta2 quality gate + [[qualityDrift]], as ONE
    * stream pipeline a corpus ingest runs continuously (the batch g2
    * build runs the same gates offline; only the mix/pack tail needs
    * global state and stays batch). Every stage is stateless or
    * watermark-bounded, so it runs under `readStream` +
    * `Trigger.AvailableNow` as an idempotent catch-up batch too:
    *
    *  - decontamination is the per-row native probe
    *    (Decontam.contaminationFilter — eval grams ship as a sorted
    *    literal, nothing shuffles);
    *  - the quality gate is a pushdown-immune predicate: the token
    *    array let-binds as the HOF's direct argument
    *    (TextFunctions.letBound), so the tokenizer runs ONCE per row
    *    even after Catalyst inlines the filter condition — a select-
    *    boundary alias would be re-inlined per reference;
    *  - the drift monitor re-scores survivors at its own select
    *    boundary (one more tokenize — the price of keeping every stage
    *    independently composable; a fused scored-then-gated variant
    *    would push the gate back into the scan anyway).
    *
    * Batch/stream equality over closed input is pinned in
    * StreamFileSpec; the batch frame is oracle-checked as w5.
    */
  def gatedCorpusDrift(docs: DataFrame, ts: Column, text: Column,
                       evalGrams: Array[Long], ngram: Int,
                       maxContamination: Double, qualityGate: Double,
                       watermarkDelay: String = "10 minutes",
                       windowLen: String = "1 hour",
                       qualityFloor: Double = 0.5): DataFrame = {
    import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
    val kept = docs
      .filter(graft.operators.Decontam.contaminationFilter(
        text, ngram, evalGrams, maxContamination))
      .filter(TF.letBound(TA.tokens(text))(toks =>
        TA.qualityScoreFromTokens(toks, text)) >= qualityGate)
    qualityDrift(kept, ts, text, watermarkDelay, windowLen, qualityFloor)
  }

  /** One micro-batch of the full production ingest path — the g4 build
    * order as CONTINUOUS ingest: near-dup drop against everything
    * landed so far (the d18 LSH-index probe), then the trained NB gate
    * (stateless literal weights, the g6 serving pattern), then the
    * batch's drift account, then the survivors land as CDC upserts.
    * Returns (gated survivors, drift rows) for the sink to commit.
    *
    * Dedup runs BEFORE the gate (the g4 lesson: never pay
    * tokenization-heavy scoring for rows a cheaper stage drops), and
    * only GATED survivors feed the band index — a near-dup of a
    * quality-rejected doc must be judged on its own merits later, not
    * inherit the rejection.
    */
  def productionIngestBatch(spark: SparkSession, batch: DataFrame,
                            idName: String, textName: String, ts: Column,
                            indexPath: String,
                            nearDupThreshold: Double,
                            gate: graft.operators.Classify.NbWeights,
                            gateBuckets: Int, gateMin: Double,
                            batchId: Long,
                            windowLen: String = "1 hour",
                            qualityFloor: Double = 0.5,
                            buckets: Int = 64): (DataFrame, DataFrame) = {
    import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
    import graft.operators.{Classify, Dedup}
    val kept = Dedup.nearDupIngest(spark, indexPath, batch,
      col(idName), col(textName), nearDupThreshold, batchId, buckets)
    val gated = kept.filter(
      TF.letBound(TA.tokens(col(textName)))(toks =>
        Classify.scoreColumnFromTokens(toks, gate, gateBuckets)) >= gateMin)
    val drift = qualityDrift(gated, ts, col(textName),
      windowLen = windowLen, qualityFloor = qualityFloor)
    (gated, drift)
  }

  /** The streaming g4 twin: [[productionIngestBatch]] under
    * `foreachBatch` — near-dup drop → trained gate → drift account →
    * MergeLog land, one restartable pipeline. `corpusDir` must be an
    * initialized [[graft.operators.MergeLog]] whose base schema is the
    * batch columns + (version, deleted).
    *
    * Replay safety at any crash point, stage by stage: the index probe
    * excludes band rows tagged `sb = batchId`, so a replay recomputes
    * the same kept set; the MergeLog delta is keyed by batch id
    * (committed ⇒ no-op, torn ⇒ rewritten); the drift partition
    * overwrites `b=<batchId>`; and a double band-append only duplicates
    * rows the probe is idempotent against. So every landed artifact is
    * a pure function of (input batches, batch ids).
    */
  def productionIngestSink(stream: DataFrame, idName: String,
                           textName: String, tsName: String,
                           indexPath: String, corpusDir: String,
                           driftDir: String,
                           nearDupThreshold: Double,
                           gate: graft.operators.Classify.NbWeights,
                           gateBuckets: Int, gateMin: Double,
                           windowLen: String = "1 hour",
                           qualityFloor: Double = 0.5, buckets: Int = 64,
                           healthDir: Option[String] = None,
                           healthDay: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val (gated0, _) = productionIngestBatch(spark, batch, idName,
          textName, col(tsName), indexPath, nearDupThreshold, gate,
          gateBuckets, gateMin, batchId, windowLen, qualityFloor, buckets)
        val gated = gated0.persist()
        try {
          // land first, index second: a crash between the two replays
          // to the same state (see scaladoc), while the reverse order
          // could drop a batch's rows as "dups of themselves" only if
          // the probe did not exclude sb = batchId — it does.
          graft.operators.MergeLog.appendDelta(
            gated.withColumn("version", lit(batchId))
              .withColumn("deleted", lit(false)),
            corpusDir, Some(batchId))
          graft.operators.Dedup.appendLshBandIndex(gated, col(idName),
            col(textName), indexPath, buckets = buckets,
            srcBatch = batchId)
          qualityDrift(gated, col(tsName), col(textName),
              windowLen = windowLen, qualityFloor = qualityFloor)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$driftDir/b=$batchId")
          // optional health accounting: the LANDED rows fold into the
          // g7 sketch store (initHealthStore first), so the dashboard
          // tracks what actually entered the corpus — same batch-id
          // idempotence as every other artifact here. Default day =
          // the event-time date; pass healthDay to override.
          healthDir.foreach { hd =>
            graft.operators.Health.appendHealth(gated, lit("corpus"),
              healthDay.getOrElse(
                expr(s"datediff(to_date($tsName), DATE '1970-01-01')")),
              col(textName), hd, batchId, qualityFloor)
          }
        } finally { gated.unpersist(): Unit }
    }

  /** Watermarked stream-stream INTERVAL join — the correlation shape
    * (click↔view, request↔response, doc↔annotation) as one
    * declarative join that runs identically in batch and streaming.
    * Column names must already be disjoint (`aTs`/`bTs` name the two
    * event-time columns; `cond` is the equality part, e.g.
    * `"a_user = b_user"`); rows pair when `bTs ∈ [aTs, aTs + within]`.
    *
    * Streaming state is bounded BY THE JOIN CONDITION: with both sides
    * watermarked, Spark derives each side's state retention from the
    * time-range predicate (a row can be dropped once the other side's
    * watermark passes its join window) — without the range condition a
    * stream-stream inner join would buffer forever. Batch mode plans
    * the same join with the range as an ordinary predicate.
    */
  def intervalJoin(a: DataFrame, b: DataFrame, cond: String,
                   aTs: String, bTs: String, within: String,
                   watermarkDelay: String = "10 minutes"): DataFrame = {
    val aw = if (a.isStreaming) a.withWatermark(aTs, watermarkDelay) else a
    val bw = if (b.isStreaming) b.withWatermark(bTs, watermarkDelay) else b
    aw.join(bw, expr(
      s"$cond AND $bTs >= $aTs AND $bTs <= $aTs + INTERVAL $within"))
  }

  /** Streaming corpus-health accounting — the g7 dashboard as
    * mergeable state: every micro-batch folds once into the
    * [[graft.operators.Health]] sketch store (additive base stats,
    * quantile buckets, support-pruned token counts, HLL sketches; all
    * batch-id-keyed, so replay at any crash point converges), and
    * `Health.corpusHealthFromStore` assembles the dashboard from
    * sketch rows alone — corpus-health after N batches never rescans
    * batch 1. Init the store first ([[graft.operators.Health.initHealthStore]]).
    */
  def healthSketchSink(stream: DataFrame, stratumName: String,
                       dayName: String, textName: String, dir: String,
                       qualityFloor: Double = 0.5,
                       hhNum: Long = 1L, hhDen: Long = 200L,
                       subBits: Int = 5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.Health.appendHealth(batch, col(stratumName),
          col(dayName), col(textName), dir, batchId, qualityFloor,
          hhNum, hhDen, subBits)
    }

  /** KS-drift-on-ingest: each micro-batch folds its (stratum, value)
    * distribution counts into the persisted store
    * ([[graft.operators.Sketches.appendDistribution]], batch-id
    * idempotent — replay converges), and
    * `Sketches.ksFromStore(spark, dir, ref)` answers "which strata
    * have drifted from the reference, and by how much" at ANY point
    * without rescanning a single ingested row. The streaming twin of
    * the a20 batch statistic. Init the store first
    * ([[graft.operators.Sketches.initDistributionStore]]).
    */
  def ksDriftSink(stream: DataFrame, stratumName: String,
                  valueName: String, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.appendDistribution(
          batch, col(stratumName), col(valueName), dir, Some(batchId)): Unit
    }

  /** Streaming ANN-index maintenance — the vector-ingest counterpart of
    * [[productionIngestSink]]: each micro-batch of (id, vec) rows
    *
    *  1. LANDS its raw vectors to `corpusDir/b=<batchId>` (overwrite ⇒
    *     replay-idempotent; this is the source-of-truth table the exact
    *     recall pass reads — the index stores only codes);
    *  2. APPENDS into the persisted IVF-PQ index with frozen router +
    *     frozen books ([[graft.operators.Similarity.appendIvfPqIndex]]
    *     — batch-id commit-gated, so a replayed batch is a no-op and a
    *     torn write is invisible);
    *  3. runs ONE maintenance tick probing with the BATCH's own vectors
    *     (frozen books decay against the newest distribution first, so
    *     probing recent data is the honest signal): recall below the
    *     floor rebuilds the books into `rebuildBase/b=<batchId>` (the
    *     rebuild reclaims its own path ⇒ replayable) and the tick row —
    *     (batch_id, mean_recall, rebuilt, serve_path) — lands at
    *     `ticksDir/b=<batchId>` (overwrite ⇒ idempotent).
    *
    * The sink FOLLOWS its own ticks: each batch resolves the live index
    * as the `serve_path` of the latest tick with `batch_id <` the
    * current one (strictly earlier, so a replayed batch resolves the
    * SAME path its first attempt did), falling back to `indexPath`
    * before any tick exists — a rebuild cuts the sink's own appends and
    * probes over to the fresh books on the next batch. External serving
    * reads the same tick rows.
    */
  def annIngestSink(stream: DataFrame, idName: String, vecName: String,
                    indexPath: String, corpusDir: String,
                    ticksDir: String, rebuildBase: String, k: Int,
                    nprobe: Int, rerank: Int, recallFloor: Double,
                    m: Int, subDim: Int, kCodes: Int, iters: Int,
                    targetRows: Long = 1L << 20, spread: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.{SegmentFs, Similarity}
        val b = batch.select(col(idName).cast("long").as("doc_id"),
          col(vecName).cast("array<float>").as("dv")).persist()
        try {
          // resolve the live index from STRICTLY EARLIER ticks only —
          // a replayed batch then resolves the same path its first
          // attempt did, whatever that attempt went on to write
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(ticksDir),
            spark.sparkContext.hadoopConfiguration)
          val tickIds =
            if (!fs.exists(new org.apache.hadoop.fs.Path(ticksDir)))
              Seq.empty[Long]
            else fs.listStatus(new org.apache.hadoop.fs.Path(ticksDir))
              .map(_.getPath.getName).collect {
                case n if n.startsWith("b=") => n.drop(2).toLong
              }.filter(_ < batchId).toSeq
          val livePath =
            if (tickIds.isEmpty) indexPath
            else SegmentFs.readCommitted(spark, s"$ticksDir/b=${tickIds.max}")
              .head().getAs[String]("serve_path")
          b.write.mode("overwrite").parquet(s"$corpusDir/b=$batchId")
          Similarity.appendIvfPqIndex(spark, livePath, b, col("doc_id"),
            col("dv"), targetRows, spread, batchId = Some(batchId)): Unit
          val corpus = SegmentFs.readCommitted(spark, corpusDir)
          val tick = Similarity.maintainIvfPqIndex(spark, livePath,
            s"$rebuildBase/b=$batchId", corpus, col("doc_id"), col("dv"),
            b.select(col("doc_id").as("qid"), col("dv").as("qv")),
            col("qid"), col("qv"), k, nprobe, rerank, recallFloor,
            m, subDim, kCodes, iters, targetRows, spread)
          spark.createDataFrame(Seq(
              (batchId, tick.meanRecall, tick.rebuilt, tick.servePath)))
            .toDF("batch_id", "mean_recall", "rebuilt", "serve_path")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$ticksDir/b=$batchId")
        } finally b.unpersist(): Unit
    }

  /** Streaming-ingest exact dedup: keep the first event per key, with
    * state bounded by the watermark (`dropDuplicatesWithinWatermark` —
    * a key's state is freed once the watermark passes its event time,
    * so duplicates arriving within the lateness bound dedup exactly and
    * state never grows unbounded). This is the streaming twin of the
    * D2 batch dedup — the front door of a continuously-ingesting
    * training-data pipeline.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Built-in session windows (gap-based) — the declarative sessionizer. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        fround2(sum(col("value"))).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"), col("sum_value"))

  /** Custom sessionizer on the KeyValueGroupedDataset state API
    * (flatMapGroupsWithState keyed by user). This variant assumes each
    * group arrives complete (batch, or streaming with
    * `Trigger.AvailableNow` over a closed input), sorting the group by
    * (ts, event_id) and flushing all sessions at iterator end — the
    * deterministic/oracle-checkable mode. A live-stream variant would
    * park the open session in `state` and close it on event-time timeout;
    * the declarative [[sessionWindowAgg]] is the production streaming
    * path.
    */
  def sessionizeStateful(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Session], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, it, state: GroupState[List[Session]]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val sessions = scala.collection.mutable.ListBuffer[Session]()
          var cur: Option[Session] = None
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000L
            cur match {
              case Some(s) if us - s.end_us <= gapMs * 1000L =>
                cur = Some(s.copy(end_us = us, n_events = s.n_events + 1,
                  sum_value = s.sum_value + e.value))
              case Some(s) =>
                sessions += s
                cur = Some(Session(user, us, us, 1L, e.value))
              case None =>
                cur = Some(Session(user, us, us, 1L, e.value))
            }
          }
          (sessions ++ cur).iterator
      }
  }

  /** STREAMING sessionizer with real state: one open session per user
    * rides in `GroupState` across micro-batches; an event beyond the gap
    * closes it inline, and keys that go quiet close via EVENT-TIME
    * TIMEOUT once the watermark passes last_event + gap. Append-mode
    * emissions are final — exactly-once session rows under retries.
    * Streaming-only by contract (batch runs lose the trailing open
    * session — use [[sessionizeStateful]]/[[sessionizeBatch]] there).
    *
    * State size = one Session per active user; watermark bounds how long
    * a quiet user's state lives. That is the 100 TB control: state
    * shards by user across executors and is evicted deterministically.
    */
  def sessionizeStreaming(events: Dataset[Event], gapMs: Long,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.toDF().withWatermark("ts", watermarkDelay).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, it, state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(s)
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ListBuffer[Session]()
            var cur = state.getOption
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              cur match {
                case Some(s) if us - s.end_us <= gapMs * 1000L =>
                  cur = Some(s.copy(end_us = us, n_events = s.n_events + 1,
                    sum_value = s.sum_value + e.value))
                case Some(s) =>
                  closed += s
                  cur = Some(Session(user, us, us, 1L, e.value))
                case None =>
                  cur = Some(Session(user, us, us, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end_us / 1000L + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Batch twin of sessionization as window functions (lag + running sum
    * of session-break flags) — the DuckDB-expressible oracle path.
    */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("m"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("m", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(col("m") - lag(col("m"), 1).over(byUser) > gapSeconds * 1000000L, 1L)
          .otherwise(when(lag(col("m"), 1).over(byUser).isNull, 1L).otherwise(0L)))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("m")).as("start_us"),
        max(col("m")).as("end_us"),
        fround2(sum(col("value"))).as("sum_value"))
  }
}
