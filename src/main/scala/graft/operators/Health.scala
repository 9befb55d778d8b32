package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-health dashboard (beyond the reference) — the composition the
  * round-8 sketch families were built for: one row per (stratum, day)
  * joining document volume and quality drift (the w4 signals), the
  * log-linear quantile sketch of per-doc token counts (a15 lifecycle),
  * the threshold-pruned heavy-hitter top token (a16 lifecycle), and a
  * distinct-token count — exact, or the mergeable HLL estimate (a14
  * lifecycle) on the scale path.
  *
  * Shapes at 100 TB: raw rows are touched exactly TWICE — once by the
  * doc-level select (tokenize + quality, all scan-fused) and once by the
  * exploded token stream's map-side-combined first groupBys. Everything
  * after the first aggregation is sketch-sized (≤ strata × days × ~1.9k
  * bucket rows for quantiles, support-pruned keys for heavy hitters, one
  * sketch/count row per group otherwise), so every join onto the base
  * table broadcasts — the dashboard assembles with zero large shuffles
  * beyond the two first-pass aggregations.
  */
object Health {

  /** Per-(stratum, day) health row. `distinctViaHll = false` keeps every
    * column deterministic integer/4-6dp-floored arithmetic (full DuckDB
    * oracle, g7); `true` swaps the distinct-token column for the HLL
    * union estimate (the 100 TB path — approximate, rows-check + spec,
    * g7x), leaving every other column bit-identical.
    */
  private def fr6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** One tokenization, bound at a select boundary (never inside a HOF
    * lambda); every doc-level signal derives from it. Shared by the
    * one-shot dashboard and the incremental store's per-batch append.
    */
  private def scoredDocs(docs: DataFrame, stratum: Column, day: Column,
                         text: Column): DataFrame = {
    import graft.functions.{TextAnalysis => TA}
    docs
      .select(stratum.as("stratum"), day.as("day"), text.as("_text"),
        TA.tokens(text).as("_toks"))
      .select(col("stratum"), col("day"),
        TA.qualityScoreFromTokens(col("_toks"), col("_text")).as("_q"),
        size(col("_toks")).cast("long").as("_ntok"),
        col("_toks"))
  }

  def corpusHealth(docs: DataFrame, stratum: Column, day: Column,
                   text: Column, qualityFloor: Double = 0.5,
                   hhNum: Long = 1L, hhDen: Long = 200L,
                   subBits: Int = 5,
                   distinctViaHll: Boolean = false): DataFrame = {
    val scored = scoredDocs(docs, stratum, day, text)

    // Drift block (w4 signals, batch frame): first raw-row aggregation.
    val base = scored
      .groupBy(col("stratum"), col("day"))
      .agg(count(lit(1)).as("n_docs"),
        fr6(avg(col("_q"))).as("avg_quality"),
        fr6(avg(when(col("_q") < qualityFloor, 1.0).otherwise(0.0)))
          .as("low_quality_share"),
        sum(col("_ntok")).as("total_tokens"))

    // Quantile block: log-linear sketch of per-doc token counts. The
    // sketch API keys by one stratum column, so (stratum, day) packs
    // into a '#'-joined key and unpacks after the merge walk.
    val packed = scored.select(
      concat_ws("#", col("stratum"), col("day")).as("_sd"),
      col("day"), col("_ntok"))
    val quant = Sketches.mergeQuantiles(
        Sketches.quantileSketch(packed, col("_sd"), col("day"),
          col("_ntok"), subBits),
        Seq(50, 90, 99), subBits)
      .groupBy(col("stratum"))
      .agg(max(when(col("p") === 50, col("q_lo"))).as("p50_tok_lo"),
        max(when(col("p") === 90, col("q_lo"))).as("p90_tok_lo"),
        max(when(col("p") === 99, col("q_lo"))).as("p99_tok_lo"),
        max(when(col("p") === 99, col("q_hi"))).as("p99_tok_hi"))
      .select(split(col("stratum"), "#").getItem(0).as("stratum"),
        split(col("stratum"), "#").getItem(1).cast("long").as("day"),
        col("p50_tok_lo"), col("p90_tok_lo"),
        col("p99_tok_lo"), col("p99_tok_hi"))

    // Token stream: second raw-row pass, shared by the frequency and
    // distinct blocks. Explodes AFTER the quality select so the
    // tokenizer still runs once per doc.
    val toks = scored.select(col("stratum"), col("day"),
      explode(col("_toks")).as("tok"))

    // Heavy-hitter block: the support-pruned per-batch sketch rows ARE
    // the per-day topline — top token by (count desc, token desc), a
    // deterministic two-step argmax both engines replay exactly.
    val kept = Sketches.freqSketch(toks, col("stratum"), col("day"),
        col("tok"), hhNum, hhDen)
      .filter(col("key").isNotNull)
    val mx = kept.groupBy(col("stratum"), col("day"))
      .agg(max(col("cnt")).as("top_tok_cnt"))
    val top = kept.join(mx, Seq("stratum", "day"))
      .filter(col("cnt") === col("top_tok_cnt"))
      .groupBy(col("stratum"), col("day"), col("top_tok_cnt"))
      .agg(max(col("key")).as("top_tok"))

    // Distinct block: exact (oracle path) or HLL estimate (scale path —
    // the per-(stratum, day) sketch is the mergeable unit; any coarser
    // slice would union the same rows).
    val dist =
      if (distinctViaHll)
        Sketches.dailySketches(toks, col("stratum"), col("day"), col("tok"))
          .select(col("stratum"), col("day"),
            expr("cast(hll_sketch_estimate(sketch) as bigint)")
              .as("distinct_toks"))
      else
        toks.groupBy(col("stratum"), col("day"))
          .agg(countDistinct(col("tok")).as("distinct_toks"))

    // Assembly: every non-base side is post-aggregation sketch-sized —
    // broadcast, no shuffle of the base.
    base
      .join(broadcast(quant), Seq("stratum", "day"))
      .join(broadcast(dist), Seq("stratum", "day"))
      .join(broadcast(top), Seq("stratum", "day"), "left")
      .select(col("stratum"), col("day"), col("n_docs"),
        col("avg_quality"), col("low_quality_share"), col("total_tokens"),
        col("distinct_toks"),
        col("p50_tok_lo"), col("p90_tok_lo"),
        col("p99_tok_lo"), col("p99_tok_hi"),
        col("top_tok"), col("top_tok_cnt"))
  }

  // ── Incremental health store ───────────────────────────────────────
  //
  // The dashboard as MERGEABLE STATE: each ingest batch folds once into
  // four sketch families — additive base stats, quantile bucket counts,
  // support-pruned token counts (three CountLogs: keyed-sum merge is
  // exact however batches were split), and HLL day sketches (SegmentFs
  // segments, bytes-union merge) — and the dashboard assembles at read
  // time from sketch rows only. History NEVER rescans: corpus-health
  // after N batches costs O(Σ batch) total, and a read costs
  // O(#segments × bounded key space). When ingest batches align with
  // the day column (the steady-state layout), the read is IDENTICAL to
  // running [[corpusHealth]] (distinctViaHll = true) over everything
  // ingested — HealthSpec pins it; integer families are exact under any
  // split, the avg column reassociates within float ulp.

  /** Initialize the four family logs (empty, schema-pinned). */
  def initHealthStore(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Unit = {
    import org.apache.spark.sql.types.StructType
    def empty(ddl: String) = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType.fromDDL(ddl))
    CountLog.init(empty(
      "stratum STRING, day LONG, n_docs LONG, sum_q DOUBLE, " +
        "n_low LONG, sum_tok LONG"), s"$dir/basestats")
    CountLog.init(empty(
      "stratum STRING, day LONG, lo LONG, cnt LONG"), s"$dir/qbuckets")
    CountLog.init(empty(
      "stratum STRING, day LONG, key STRING, cnt LONG"), s"$dir/toks")
    new SegmentFs.Log(spark, s"$dir/hll")
      .init(empty("stratum STRING, day LONG, sketch BINARY"))
  }

  /** Fold one ingest batch into the store: each family appends one
    * batch-id-keyed segment (idempotent; a crash between family
    * appends replays per family independently and converges). O(batch)
    * — nothing already landed is read or rewritten.
    */
  def appendHealth(docs: DataFrame, stratum: Column, day: Column,
                   text: Column, dir: String, batchId: Long,
                   qualityFloor: Double = 0.5,
                   hhNum: Long = 1L, hhDen: Long = 200L,
                   subBits: Int = 5): Unit = {
    val scored = scoredDocs(docs, stratum, day, text).persist()
    try {
      val id = Some(batchId)
      CountLog.append(
        scored.groupBy(col("stratum"), col("day"))
          .agg(count(lit(1)).as("n_docs"), sum(col("_q")).as("sum_q"),
            sum(when(col("_q") < qualityFloor, 1L).otherwise(0L))
              .as("n_low"),
            sum(col("_ntok")).as("sum_tok")),
        s"$dir/basestats", id)
      CountLog.append(
        Sketches.quantileSketch(scored, col("stratum"), col("day"),
          col("_ntok"), subBits),
        s"$dir/qbuckets", id)
      val toks = scored.select(col("stratum"), col("day"),
        explode(col("_toks")).as("tok"))
      CountLog.append(
        Sketches.freqSketch(toks, col("stratum"), col("day"), col("tok"),
          hhNum, hhDen),
        s"$dir/toks", id)
      new SegmentFs.Log(docs.sparkSession, s"$dir/hll").append(id)(_ =>
        Sketches.dailySketches(toks, col("stratum"), col("day"),
          col("tok"))): Unit
    } finally { scored.unpersist(): Unit }
  }

  /** The HLL rows as of batch `upTo`: latest base ∪ live delta segments. */
  private def hllRows(spark: org.apache.spark.sql.SparkSession,
                      dir: String, upTo: Long = Long.MaxValue): DataFrame =
    new SegmentFs.Log(spark, s"$dir/hll").union(upTo)

  /** Fold every family's segments into a new base and retire them —
    * read amplification resets to one segment per family while the
    * dashboard read stays invariant (keyed sums and HLL union are
    * associative; spec-pinned). Each family is one [[SegmentFs.Log]]:
    * its new base is named after the water line, so a crash before its
    * deltas retire counts nothing twice and the retry only retires, and
    * a crash between families leaves each log readable.
    */
  def compactHealthStore(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Unit = {
    CountLog.compact(spark, s"$dir/basestats", Seq("stratum", "day")): Unit
    CountLog.compact(spark, s"$dir/qbuckets",
      Seq("stratum", "day", "lo")): Unit
    CountLog.compact(spark, s"$dir/toks",
      Seq("stratum", "day", "key")): Unit
    new SegmentFs.Log(spark, s"$dir/hll").compact(
      hllRows(spark, dir, _).groupBy(col("stratum"), col("day"))
        .agg(expr("hll_union_agg(sketch, true)").as("sketch"))): Unit
  }

  /** Assemble the dashboard from landed sketch rows ONLY — no corpus
    * access. Same columns as [[corpusHealth]] with the HLL distinct
    * path; `top_tok_cnt` is the summed support-pruned count (a lower
    * bound when a (stratum, day) group split across ingest batches;
    * exact when batches align with days).
    */
  def corpusHealthFromStore(spark: org.apache.spark.sql.SparkSession,
                            dir: String, subBits: Int = 5): DataFrame = {
    val base = CountLog.read(spark, s"$dir/basestats",
        Seq("stratum", "day"))
      .select(col("stratum"), col("day"), col("n_docs"),
        fr6(col("sum_q") / col("n_docs")).as("avg_quality"),
        fr6(col("n_low").cast("double") / col("n_docs"))
          .as("low_quality_share"),
        col("sum_tok").as("total_tokens"))
    val qRows = CountLog.read(spark, s"$dir/qbuckets",
        Seq("stratum", "day", "lo"))
      .select(concat_ws("#", col("stratum"), col("day")).as("stratum"),
        lit(0L).as("day"), col("lo"), col("cnt"))
    val quant = Sketches.mergeQuantiles(qRows, Seq(50, 90, 99), subBits)
      .groupBy(col("stratum"))
      .agg(max(when(col("p") === 50, col("q_lo"))).as("p50_tok_lo"),
        max(when(col("p") === 90, col("q_lo"))).as("p90_tok_lo"),
        max(when(col("p") === 99, col("q_lo"))).as("p99_tok_lo"),
        max(when(col("p") === 99, col("q_hi"))).as("p99_tok_hi"))
      .select(split(col("stratum"), "#").getItem(0).as("stratum"),
        split(col("stratum"), "#").getItem(1).cast("long").as("day"),
        col("p50_tok_lo"), col("p90_tok_lo"),
        col("p99_tok_lo"), col("p99_tok_hi"))
    val kept = CountLog.read(spark, s"$dir/toks",
        Seq("stratum", "day", "key"))
      .filter(col("key").isNotNull)
    val mx = kept.groupBy(col("stratum"), col("day"))
      .agg(max(col("cnt")).as("top_tok_cnt"))
    val top = kept.join(mx, Seq("stratum", "day"))
      .filter(col("cnt") === col("top_tok_cnt"))
      .groupBy(col("stratum"), col("day"), col("top_tok_cnt"))
      .agg(max(col("key")).as("top_tok"))
    val dist = hllRows(spark, dir).groupBy(col("stratum"), col("day"))
      .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sketch, true)) as bigint)")
        .as("distinct_toks"))
    base
      .join(broadcast(quant), Seq("stratum", "day"))
      .join(broadcast(dist), Seq("stratum", "day"))
      .join(broadcast(top), Seq("stratum", "day"), "left")
      .select(col("stratum"), col("day"), col("n_docs"),
        col("avg_quality"), col("low_quality_share"), col("total_tokens"),
        col("distinct_toks"),
        col("p50_tok_lo"), col("p90_tok_lo"),
        col("p99_tok_lo"), col("p99_tok_hi"),
        col("top_tok"), col("top_tok_cnt"))
  }
}
