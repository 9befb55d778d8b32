package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Trained quality classification over hashed token features (beyond the
  * reference's rule-based scorers): the GPT-3 / CCNet-style corpus
  * filter — fit a cheap linear model on "curated vs raw" labels, score
  * every document, keep the high scorers — plus DSIR importance
  * weighting (Xie et al. 2023), the likelihood-ratio variant that
  * reweights raw data toward a target distribution without a labeled
  * negative class. The reference scores quality with fixed heuristics
  * (`Data_Analysis/evaluation/quality_scoring.py`); a *trained* filter
  * is the standard scale upgrade, and multinomial Naive Bayes is its
  * deterministic, exactly-reproducible seat (per-class token counts ARE
  * the fit — no SGD order-dependence, so the DuckDB oracle replays
  * training bit-for-bit from the same integer counts).
  *
  * Feature hashing bounds the model, not the corpus: tokens hash into
  * `buckets` slots (28-bit md5, engine-independent), so the model table
  * holds ≤ `buckets` rows whatever the vocabulary — at 100 TB a few-MB
  * broadcast, never a shuffled join side. Collisions are benign (both
  * classes count into the same slot; the hashing-trick trade).
  *
  * Scale shape, both train and score: tokenize once, collapse to
  * per-key (feature, count) with map-side combine — the wire carries
  * distinct-feature footprints, not occurrences (the ta8 discipline);
  * the model and its 1-row scalar totals come back as broadcasts onto
  * the scoring scan. Raw text never shuffles anywhere.
  */
object Classify {

  /** 28-bit md5 hash of a token folded into [0, buckets). */
  def featHash(tok: Column, buckets: Int): Column =
    pmod(conv(substring(md5(tok), 1, 7), 16, 10).cast("long"), lit(buckets))

  /** DuckDB twin of [[featHash]]. */
  def sqlFeatHash(tok: String, buckets: Int): String =
    s"('0x' || substr(md5($tok), 1, 7))::BIGINT % $buckets"

  /** DuckDB twin of [[graft.expressions.DetLn]] as SELECT-list items
    * with prefixed lateral aliases (`{p}e`, `{p}m`, `{p}z`, `{p}z2`,
    * ending in `{p}ln` — the value): exponent by binary-string length
    * (`length(bin(n)) - 1`, exact on both engines — DuckDB `bin`
    * renders BIGINTs unpadded like Spark's), mantissa by one exact
    * power-of-two divide, then the shared Horner unroll over
    * [[graft.expressions.DetLn.HornerK]]. Callers wrap the SELECT in a
    * subquery to project away the intermediates. Alias substitution
    * depth is bounded (each alias references only the previous one),
    * the sqlSelKeyCols discipline. Keep in exact lockstep with
    * [[graft.expressions.DetLn.compute]]; `nExpr` must be a positive
    * BIGINT expression.
    */
  def sqlDetLnCols(p: String, nExpr: String): String = {
    import graft.expressions.DetLn
    val horner = DetLn.HornerK.tail.foldLeft(
      s"(1.0 / ${DetLn.HornerK.head}.0)")(
      (acc, k) => s"($acc * ${p}z2 + 1.0 / $k.0)")
    s"""(length(bin(($nExpr)::BIGINT)) - 1) AS ${p}e,
        ($nExpr)::DOUBLE / (1::BIGINT << ${p}e)::DOUBLE AS ${p}m,
        (${p}m - 1.0) / (${p}m + 1.0) AS ${p}z,
        ${p}z * ${p}z AS ${p}z2,
        ${p}e::DOUBLE * ${DetLn.Ln2Literal} + (2.0 * ${p}z) * $horner
          AS ${p}ln"""
  }

  /** DuckDB twin of [[graft.expressions.DetLnD]] (double input on
    * (2⁻⁵², 2¹⁰]) as SELECT-list items with prefixed lateral aliases,
    * ending in `{p}ln`: exponent via the exact power-of-two scaling
    * trick (⌊x·2⁵²⌋ is exact, its bit length gives ⌊log2 x⌋ — no
    * frexp, no double→bits builtin), mantissa by one exact
    * power-of-two divide, then the shared Horner unroll. `xExpr`
    * should be a cheap alias (it is referenced twice). Keep in exact
    * lockstep with [[graft.expressions.DetLnD.compute]].
    */
  def sqlDetLnDCols(p: String, xExpr: String): String = {
    import graft.expressions.{DetLn, DetLnD}
    val horner = DetLn.HornerK.tail.foldLeft(
      s"(1.0 / ${DetLn.HornerK.head}.0)")(
      (acc, k) => s"($acc * ${p}z2 + 1.0 / $k.0)")
    s"""floor(($xExpr) * ${DetLnD.Scale})::BIGINT AS ${p}i,
        (length(bin(${p}i)) - 1) - 52 AS ${p}e,
        (1::BIGINT << (${p}e + 52))::DOUBLE / ${DetLnD.Scale} AS ${p}p2,
        ($xExpr) / ${p}p2 AS ${p}m,
        (${p}m - 1.0) / (${p}m + 1.0) AS ${p}z,
        ${p}z * ${p}z AS ${p}z2,
        ${p}e::DOUBLE * ${DetLn.Ln2Literal} + (2.0 * ${p}z) * $horner
          AS ${p}ln"""
  }

  /** [[sqlDetLnCols]] as ONE self-contained expression (no lateral
    * aliases) — for use INSIDE DuckDB list lambdas, where aliases
    * can't reach. Textual substitution blows the tree up ~90 copies of
    * `nExpr`, so pass a short reference (a lambda variable). Same op
    * sequence as [[graft.expressions.DetLn.compute]].
    */
  def sqlDetLnInline(nExpr: String): String = {
    import graft.expressions.DetLn
    val e = s"(length(bin(($nExpr)::BIGINT)) - 1)"
    val m = s"(($nExpr)::DOUBLE / (1::BIGINT << $e)::DOUBLE)"
    val z = s"(($m - 1.0) / ($m + 1.0))"
    val z2 = s"($z * $z)"
    val horner = DetLn.HornerK.tail.foldLeft(
      s"(1.0 / ${DetLn.HornerK.head}.0)")(
      (acc, k) => s"($acc * $z2 + 1.0 / $k.0)")
    s"($e::DOUBLE * ${DetLn.Ln2Literal} + (2.0 * $z) * $horner)"
  }

  /** Per-document hashed-feature counts: (idName, f, c). One tokenize
    * pass, exploded then counted — map-side combinable, so shuffled
    * volume is the per-doc distinct-feature footprint.
    */
  def docFeatures(df: DataFrame, id: Column, text: Column, buckets: Int,
                  idName: String = "doc_id"): DataFrame =
    df.select(id.as(idName),
        explode(graft.functions.TextAnalysis.tokens(text)).as("_tok"))
      .select(col(idName), featHash(col("_tok"), buckets).as("f"))
      .groupBy(col(idName), col("f"))
      .agg(count(lit(1)).as("c"))

  /** A fitted binary NB model: `feat` = (f, npos, nneg) token-slot
    * counts (≤ buckets rows); `stats` = one row of (dpos, dneg, tpos,
    * tneg) — doc counts per class (the prior) and token totals per
    * class (the smoothing denominators).
    */
  final case class NbModel(feat: DataFrame, stats: DataFrame, buckets: Int)

  /** Fit multinomial NB: per-class counts of each feature slot, plus
    * per-class doc/token totals. `label` is the positive-class
    * predicate (e.g. "is from the curated source"). Counting IS the
    * fit: one map-side-combined aggregation over the training scan.
    */
  def train(df: DataFrame, label: Column, text: Column,
            buckets: Int): DataFrame = {
    val toks = df
      .select(label.as("_pos"),
        explode(graft.functions.TextAnalysis.tokens(text)).as("_tok"))
      .select(col("_pos"), featHash(col("_tok"), buckets).as("f"))
    toks.groupBy(col("f"))
      .agg(sum(when(col("_pos"), 1L).otherwise(0L)).as("npos"),
        sum(when(!col("_pos"), 1L).otherwise(0L)).as("nneg"))
  }

  /** Fit and package the full model (feature counts + scalar stats).
    * The corpus tokenizes ONCE — for the feature counts; the class
    * token totals are the feature table's own sums (every token lands
    * in exactly one slot, so Σ_f npos_f IS the positive token count),
    * and the doc-count priors take only a label-projected narrow scan
    * — no second pass over text.
    */
  def trainModel(df: DataFrame, label: Column, text: Column,
                 buckets: Int): NbModel = {
    val feat = train(df, label, text, buckets)
    // coalesce: an empty batch (e.g. a replayed empty micro-batch in
    // the model log) must contribute zeros, not NULL sums.
    val docs = df.select(label.as("_pos"))
      .agg(coalesce(sum(when(col("_pos"), 1L).otherwise(0L)), lit(0L))
          .as("dpos"),
        coalesce(sum(when(!col("_pos"), 1L).otherwise(0L)), lit(0L))
          .as("dneg"))
    val toks = feat.agg(
      coalesce(sum(col("npos")), lit(0L)).as("tpos"),
      coalesce(sum(col("nneg")), lit(0L)).as("tneg"))
    NbModel(feat, docs.crossJoin(toks), buckets)
  }

  /** Score documents with a fitted model: per-doc log-odds
    *
    *   ln(dpos/dneg) + Σ_f c_f · [ln((npos_f+1)/(tpos+B)) −
    *                              ln((nneg_f+1)/(tneg+B))]
    *
    * (Laplace-smoothed; B = buckets), with every log computed by
    * [[graft.expressions.DetLn]] and every per-slot weight quantized
    * onto the integer 2⁻²⁰ grid before the per-doc sum — so the
    * aggregate is exact BIGINT arithmetic and the score is identical
    * under any partitioning, summation order, or IEEE engine (the
    * dsirWeights discipline). Docs with no tokens drop (the
    * ta8 contract). The model LEFT-joins so slots unseen in training
    * still contribute their smoothed weight; with balanced class token
    * totals that weight is exactly 0.
    *
    * Output: (idName, n_tok, log_odds), unrounded — callers round at
    * their contract boundary. Plan: per-doc counts ⋈ broadcast(model)
    * ⋈ broadcast(stats) → one map-side-combined rollup per doc.
    */
  def score(model: NbModel, df: DataFrame, id: Column, text: Column,
            idName: String = "doc_id"): DataFrame = {
    val b = model.buckets
    val perDoc = docFeatures(df, id, text, b, idName)
    // ORDER-EXACT like dsirWeights (r11): per-slot log-odds quantize
    // to the integer 2^-20 grid via detln, the per-doc numerator and
    // prior sum as exact BIGINTs, and ONE final divide restores the
    // log-odds scale — identical under any partitioning or engine
    // (the summed-libm-ln form this replaces was the x5 failure shape)
    def wi(np: Column, nn: Column): Column =
      floor(((graft.expressions.DetLn(np + lit(1L)) -
          graft.expressions.DetLn(col("tpos") + lit(b.toLong))) -
        (graft.expressions.DetLn(nn + lit(1L)) -
          graft.expressions.DetLn(col("tneg") + lit(b.toLong)))) *
        lit(WeightGrid) + lit(0.5))
    val wtab = model.feat.crossJoin(broadcast(model.stats))
      .select(col("f"), wi(col("npos"), col("nneg")).as("wi"))
    val wdef = model.stats.select(wi(lit(0L), lit(0L)).as("wi0"),
      floor((graft.expressions.DetLn(col("dpos")) -
        graft.expressions.DetLn(col("dneg"))) *
        lit(WeightGrid) + lit(0.5)).as("pq"))
    perDoc
      .join(broadcast(wtab), Seq("f"), "left")
      .crossJoin(broadcast(wdef))
      .groupBy(col(idName))
      .agg(sum(col("c")).as("n_tok"),
        (first(col("pq")) + sum(col("c") * coalesce(col("wi"), col("wi0"))))
          .as("_lonum"))
      .select(col(idName), col("n_tok"),
        (col("_lonum").cast("double") / lit(WeightGrid)).as("log_odds"))
  }

  // ---------------------------------------------------------------
  // Persisted model lifecycle: NB counts are additive, so the model
  // lives in a [[CountLog]] (feat table + 1-row stats table) and stays
  // fresh by O(batch) appends — a daily ingest batch trains alone and
  // lands as one partial-count segment; NO corpus rescan, and the
  // folded model is bit-identical to retraining from scratch (integer
  // sums are associative/commutative). The drift question IVF centroids
  // need ([[Similarity.appendIvfIndex]]) does not exist here.
  // ---------------------------------------------------------------

  private def statsKeyed(stats: DataFrame): DataFrame =
    stats.select(lit(0L).as("k"), col("dpos"), col("dneg"),
      col("tpos"), col("tneg"))

  /** Create the persisted model log from a first trained batch. */
  def initModelLog(model: NbModel, dir: String): Unit = {
    CountLog.init(model.feat, s"$dir/feat")
    CountLog.init(statsKeyed(model.stats), s"$dir/stats")
  }

  /** Fold one ingest batch into the persisted model: train on the
    * batch ALONE (one batch-sized pass), append the partial counts.
    * Idempotent per batch `id` (streaming replay safe). O(batch).
    */
  def appendModelBatch(df: DataFrame, label: Column, text: Column,
                       buckets: Int, dir: String,
                       id: Option[Long] = None): Long = {
    val m = trainModel(df, label, text, buckets)
    val k = CountLog.append(m.feat, s"$dir/feat", id)
    CountLog.append(statsKeyed(m.stats), s"$dir/stats", id)
    k
  }

  /** The current model: both count tables folded from their logs. */
  def loadModel(spark: SparkSession, dir: String, buckets: Int): NbModel =
    NbModel(
      CountLog.read(spark, s"$dir/feat", Seq("f")),
      CountLog.read(spark, s"$dir/stats", Seq("k")).drop("k"),
      buckets)

  /** Streaming model maintenance: each micro-batch of labeled docs
    * trains alone and appends its partial counts (batch-id idempotent
    * — the exactly-once contract against the checkpoint).
    */
  def modelSink(docs: DataFrame, label: Column, text: Column,
                buckets: Int, dir: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // an empty micro-batch appends all-zero partials — harmless
        // under the sum fold (trainModel's coalesce keeps stats 0, not
        // NULL), and the segment still marks the batch id as done.
        appendModelBatch(batch, label, text, buckets, dir,
          Some(batchId)): Unit
    }

  /** A fitted model collapsed to its serving form: per-slot log-odds
    * weights (size = buckets) plus the prior. `weights(f)` already
    * includes Laplace smoothing, and slots unseen in training carry the
    * smoothed default — [[scoreColumn]] is then a pure lookup-sum.
    */
  final case class NbWeights(prior: Double, weights: Array[Double])

  /** Collapse a model to serving weights (driver-side; the model is
    * ≤ buckets rows by construction — contract-tiny like the IVF
    * centroid and decontam gram collects).
    */
  def collectWeights(model: NbModel): NbWeights = {
    val st = model.stats.select(col("dpos"), col("dneg"), col("tpos"),
      col("tneg")).head()
    val (dpos, dneg, tpos, tneg) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    val b = model.buckets
    import graft.expressions.DetLn.{compute => detln}
    // the DSIR grid discipline (r11): per-slot weights are INTEGER
    // grid points (detln is libm-free), so serving folds sum exactly
    // in any order and agree BITWISE with the model-path [[score]];
    // the prior pre-divides to the same 2^-20 dyadic grid
    def w(np: Long, nn: Long): Double =
      math.floor(((detln(np + 1) - detln(tpos + b)) -
        (detln(nn + 1) - detln(tneg + b))) * WeightGrid + 0.5)
    val arr = Array.fill(b)(w(0L, 0L))
    model.feat.select(col("f"), col("npos"), col("nneg")).collect()
      .foreach(r => arr(r.getLong(0).toInt) = w(r.getLong(1), r.getLong(2)))
    NbWeights(
      math.floor((detln(dpos) - detln(dneg)) * WeightGrid + 0.5) /
        WeightGrid, arr)
  }

  /** Stateless per-row serving score — the ingest-gate form of
    * [[score]]: the weight table rides the plan as a LITERAL array, so
    * scoring is one scan-fused expression per row (tokenize → hash →
    * lookup-sum) with NO join, NO aggregation, NO state. That makes it
    * streaming-safe (use in any `readStream` filter/projection — the
    * [[Decontam.contaminationFilter]] seat) and free at ingest: the
    * classifier gates documents the moment they arrive instead of in a
    * later batch pass.
    *
    * The fold adds token weights in DOCUMENT ORDER starting from 0 and
    * applies the prior in the finish step. Agreement with the
    * join-based [[score]] (which sums count·weight per distinct slot)
    * is mathematically exact and floating-point-tight (reassociation
    * only); pin with a rounded compare, not bitwise. Empty docs score
    * the bare prior (the join path drops them — document contract).
    */
  def scoreColumn(text: Column, w: NbWeights, buckets: Int): Column =
    scoreColumnFromTokens(graft.functions.TextAnalysis.tokens(text),
      w, buckets)

  /** [[scoreColumn]] over an already-bound token column (the
    * `...FromTokens` pattern) — for pipelines that tokenize once and
    * feed several token-derived signals from the same select boundary.
    */
  def scoreColumnFromTokens(toks: Column, w: NbWeights,
                            buckets: Int): Column =
    // acc sums integer grid points exactly in token order; the finale
    // divides back to log-odds scale and adds the (dyadic) prior —
    // both exact, so the result is BITWISE equal to [[score]]
    aggregate(
      toks,
      lit(0.0),
      (acc, t) => acc +
        element_at(typedLit(w.weights.toSeq),
          featHash(t, buckets).cast("int") + 1),
      acc => acc / lit(WeightGrid) + lit(w.prior))

  /** The streaming/ingest quality gate: keep rows the serving model
    * scores above `threshold`. Stateless — composes into any
    * structured-streaming pipeline.
    */
  def qualityGate(df: DataFrame, text: Column, w: NbWeights, buckets: Int,
                  threshold: Double = 0.0): DataFrame =
    df.filter(scoreColumn(text, w, buckets) > threshold)

  /** Collapse DSIR's two hashed-unigram LMs to per-slot serving
    * weights on the SAME 2⁻²⁰ integer grid as [[dsirWeights]]:
    * w(f) = ⌊(detln(nt_f+1) − detln(tt+B) − (detln(nr_f+1) −
    * detln(tr+B)))·2²⁰ + ½⌋, stored as integer-valued doubles. Fit
    * from `df` (raw = whole input, target = rows where `target`).
    * Prior is 0 — DSIR has no class prior. The counts table is ≤
    * buckets rows (contract-tiny collect), and [[dsirColumn]] then
    * scores target-likeness statelessly at ingest, like
    * [[scoreColumn]] for the NB filter.
    */
  def collectDsirWeights(df: DataFrame, text: Column, target: Column,
                         buckets: Int): NbWeights = {
    val tagged = df.select(target.as("_tgt"),
        explode(graft.functions.TextAnalysis.tokens(text)).as("_tok"))
      .select(col("_tgt"), featHash(col("_tok"), buckets).as("f"))
    val counts = tagged.groupBy(col("f"))
      .agg(sum(when(col("_tgt"), 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("nr"))
    val rows = counts.collect()
    val tt = rows.map(_.getLong(1)).sum
    val tr = rows.map(_.getLong(2)).sum
    import graft.expressions.DetLn.{compute => detln}
    def w(nt: Long, nr: Long): Double =
      math.floor(((detln(nt + 1) - detln(tt + buckets)) -
        (detln(nr + 1) - detln(tr + buckets))) * WeightGrid + 0.5)
    val arr = Array.fill(buckets)(w(0L, 0L))
    rows.foreach(r => arr(r.getLong(0).toInt) = w(r.getLong(1), r.getLong(2)))
    NbWeights(0.0, arr)
  }

  /** Stateless per-row DSIR score: MEAN per-token log ratio under the
    * collapsed weights — [[dsirWeights]]'s serving twin, and since the
    * r11 grid quantization agreement is BITWISE, not merely
    * reassociation-tight: the fold accumulates integer-valued grid
    * weights (every partial sum an exact integer ≪ 2⁵³, so token order
    * cannot matter), then replays the join path's exact two-divide
    * finale. Empty docs yield NULL where the join path drops the row.
    * Use directly in a streaming projection or threshold filter to
    * steer ingest toward the target distribution.
    */
  def dsirColumn(text: Column, w: NbWeights, buckets: Int): Column =
    dsirColumnFromTokens(graft.functions.TextAnalysis.tokens(text),
      w, buckets)

  /** [[dsirColumn]] over an already-bound token column (the
    * `...FromTokens` pattern).
    */
  def dsirColumnFromTokens(toks: Column, w: NbWeights,
                           buckets: Int): Column =
    // one (sum, count) struct fold — the tokenizer runs exactly once
    // per row (a bare sum/size pair would tokenize twice)
    aggregate(
      toks,
      struct(lit(0.0).as("s"), lit(0L).as("n")),
      (acc, t) => struct(
        (acc.getField("s") +
          element_at(typedLit(w.weights.toSeq),
            featHash(t, buckets).cast("int") + 1)).as("s"),
        (acc.getField("n") + 1L).as("n")),
      acc => when(acc.getField("n") > 0L,
        (acc.getField("s") / acc.getField("n").cast("double")) /
          lit(WeightGrid))
        .otherwise(lit(null).cast("double")))

  /** Binary-classifier evaluation over a scored eval set: ROC-AUC via
    * the Mann-Whitney U statistic plus the confusion counts/accuracy at
    * `threshold`. One row out: (n_pos, n_neg, tp, fp, tn, fn, auc,
    * accuracy).
    *
    * AUC is computed EXACTLY: group to per-distinct-score class counts
    * (np, nn), take the running negative count below each score (a
    * window over the distinct-score table — eval-set-sized, not
    * corpus-sized), and fold u2 = Σ np·(2·cum_neg_below + nn), which is
    * an exact BIGINT = 2·U (ties count half). auc = u2 / (2·n_pos·
    * n_neg) is then ONE IEEE divide — bit-reproducible across engines,
    * no order-dependent float accumulation anywhere. Exact while
    * 2·n_pos·n_neg fits a long — any benchmark-sized eval set; this is
    * an eval-set statistic, not a corpus pass.
    *
    * Callers comparing against another engine should pass an
    * already-rounded score so tie GROUPS agree across engines (ranking
    * is order-sensitive at the ulp level; the score values themselves
    * are safe once grouped).
    */
  def evalBinary(df: DataFrame, score: Column, label: Column,
                 threshold: Double = 0.0): DataFrame = {
    val byScore = df.select(score.as("s"), label.as("_y"))
      .groupBy(col("s"))
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("_y"), 1L).otherwise(0L)).as("nn"))
    val below = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val pred = col("s") > threshold
    byScore
      .withColumn("cumneg", coalesce(sum(col("nn")).over(below), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(when(pred, col("np")).otherwise(0L)).as("tp"),
        sum(when(pred, col("nn")).otherwise(0L)).as("fp"),
        sum(when(!pred, col("nn")).otherwise(0L)).as("tn"),
        sum(when(!pred, col("np")).otherwise(0L)).as("fn"),
        sum(col("np") * (lit(2L) * col("cumneg") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("tp"), col("fp"),
        col("tn"), col("fn"),
        (col("u2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"),
        ((col("tp") + col("tn")).cast("double") /
          (col("n_pos") + col("n_neg")).cast("double")).as("accuracy"))
  }

  /** The keep-rate knob: the most inclusive score threshold whose
    * `score ≥ threshold` population stays within `keepPct`% of the
    * rows — "keep the top X% by classifier score", the practical form
    * of every trained-filter deployment. One row out: (threshold,
    * n_kept); NULL threshold when even the top score group exceeds the
    * cap (ties are indivisible — a keyed sampler splits them if an
    * exact count matters).
    *
    * Exact and engine-independent: per-distinct-score counts, a
    * descending running total over the distinct-score table (eval-set-
    * sized, not corpus-sized — the tq4 shape), and an integer cap
    * `rows·keepPct div 100`. Pass an already-rounded score so tie
    * groups agree across engines.
    */
  def thresholdForKeepRate(df: DataFrame, score: Column,
                           keepPct: Int): DataFrame = {
    val byScore = df.select(score.as("s")).groupBy(col("s"))
      .agg(count(lit(1)).as("n"))
    val desc = org.apache.spark.sql.expressions.Window.orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        0)
    byScore
      .withColumn("kept", sum(col("n")).over(desc))
      .crossJoin(broadcast(
        df.agg(count(lit(1)).as("tot"))))
      .filter(col("kept") <= expr(s"tot * $keepPct div 100"))
      .agg(min(col("s")).as("threshold"), max(col("kept")).as("n_kept"))
  }

  /** DSIR importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per document, the
    * mean per-token log likelihood ratio of a hashed-unigram target
    * LM (fit on the `target` stratum) against the raw LM (fit on the
    * whole corpus). Positive ⇒ the doc looks more like the target than
    * like average raw data; feeding the weights into a keyed sampler
    * ([[Sampling.hashSample]]) completes the resampling step.
    *
    * Same machinery as NB scoring with the prior dropped and the
    * negative class replaced by the unconditional corpus: both LMs are
    * Laplace-smoothed hashed-unigram tables derived from ONE tokenized
    * pass (the target counts are a filtered aggregation of the same
    * rows), broadcast back onto the per-doc counts.
    *
    * Output: (idName, n_tok, avg_logratio), unrounded.
    *
    * Cross-engine determinism — the aggregate is ORDER-EXACT, not just
    * rounded: the per-feature log ratio computes via
    * [[graft.expressions.DetLn]] (libm-free, bit-identical on any IEEE
    * engine) and quantizes onto the dyadic grid 2⁻²⁰ as an INTEGER
    * `wi = ⌊lr·2²⁰ + ½⌋`, so the per-doc numerator `Σ c·wi` is exact
    * BIGINT arithmetic — identical under ANY partitioning, summation
    * order, or engine — and the mean is two IEEE divides on exact
    * integers (< 2⁵³). The previous formulation summed libm-log
    * doubles, whose last-ulp noise was summation-order- and
    * engine-dependent: invisible at 6 dp almost always, but a single
    * boundary doc flipped the driver's x5 gate twice (rounds 9–10).
    */
  def dsirWeights(df: DataFrame, id: Column, text: Column, target: Column,
                  buckets: Int, idName: String = "doc_id"): DataFrame = {
    val perDoc = docFeatures(df, id, text, buckets, idName)
    val tagged = df.select(target.as("_tgt"),
        explode(graft.functions.TextAnalysis.tokens(text)).as("_tok"))
      .select(col("_tgt"), featHash(col("_tok"), buckets).as("f"))
    // ONE aggregation serves the per-slot counts AND the grand totals:
    // rollup emits the f=NULL total row alongside the per-f rows, so
    // the three consumers below (wtab, its totals side, wdef) all sit
    // above the SAME exchange — ReusedExchange runs the tokenize +
    // partial-agg map side once, where separate counts/totals
    // aggregates re-scanned the corpus per consumer (measured +1.5 s
    // at sf0.1 on x5). featHash is never NULL, so f IS NULL ⇔ total.
    val cnt2 = tagged.rollup(col("f"))
      .agg(sum(when(col("_tgt"), 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("nr"))
    val counts = cnt2.filter(col("f").isNotNull)
    val totals = cnt2.filter(col("f").isNull)
      .select(col("nt").as("tt"), col("nr").as("tr"))
    // quantized per-slot log ratio, computed ONCE per feature (≤
    // buckets rows) and broadcast; wi0 is the absent-slot default
    // (nt = nr = 0 — detln(1) ≡ +0.0 exactly, so the 0.0 literal in
    // the SQL twin is bit-faithful)
    def wi(nt: Column, nr: Column): Column =
      floor(((graft.expressions.DetLn(nt + lit(1L)) -
          graft.expressions.DetLn(col("tt") + lit(buckets.toLong))) -
        (graft.expressions.DetLn(nr + lit(1L)) -
          graft.expressions.DetLn(col("tr") + lit(buckets.toLong)))) *
        lit(WeightGrid) + lit(0.5))
    val wtab = counts.crossJoin(broadcast(totals))
      .select(col("f"), wi(col("nt"), col("nr")).as("wi"))
    val wdef = totals.select(wi(lit(0L), lit(0L)).as("wi0"))
    perDoc
      .join(broadcast(wtab), Seq("f"), "left")
      .crossJoin(broadcast(wdef))
      .groupBy(col(idName))
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c") * coalesce(col("wi"), col("wi0"))).as("_wnum"))
      .select(col(idName), col("n_tok"),
        ((col("_wnum").cast("double") / col("n_tok").cast("double")) /
          lit(WeightGrid)).as("avg_logratio"))
  }

  /** The DSIR weight quantization grid, 2²⁰ — every per-feature log
    * ratio lands on a multiple of 2⁻²⁰ (as the integer `wi`), making
    * the per-doc weighted sum exact in any order. |wi| ≤ ln(corpus
    * tokens)·2²⁰ ≈ 3·10⁷ and per-doc `Σ c·wi` ≤ 10¹³ ≪ 2⁵³, so the
    * BIGINT sums cast back to double exactly. Shared by the join path,
    * the collapsed serving weights, and both SQL twins.
    */
  val WeightGrid: Double = (1L << 20).toDouble

  /** Platt scaling (Platt 1999, "Probabilistic Outputs for Support
    * Vector Machines"): calibrate a raw classifier score s into
    * P(y=1 | s) = σ(A·s + B) by Newton iterations on the NLL with
    * Platt's smoothed targets t⁺ = (n⁺+1)/(n⁺+2), t⁻ = 1/(n⁻+2). A
    * trained gate (NB evidence, DSIR log-ratio, a ruler score) emits
    * uncalibrated numbers; thresholding a CORPUS on them needs
    * probabilities that mean what they say — this is the standard fix,
    * and it costs one five-sum distributed aggregate per iteration
    * (bounded `iters`, scalar state on the driver — the kmeans shape).
    *
    * Cross-engine determinism, the hard part: σ computes via
    * [[graft.expressions.DetExp]] (libm-free, bit-identical on any
    * IEEE engine), the five sums and the updated (A, B) round to 6
    * decimals every step (summation-order noise collapses, the kmeans
    * discipline), and the smoothed targets derive from integer counts
    * by one exact division — so the SQL oracle replays the whole fit
    * bit-for-bit. Newton needs no step-size: the NLL is convex in
    * (A, B) and the smoothed targets keep it bounded.
    *
    * Requires a non-constant score (the 2×2 Hessian is singular
    * otherwise); a zero determinant stops the iteration early rather
    * than dividing by it.
    */
  def plattFit(df: DataFrame, score: Column, label: Column,
               iters: Int): (Double, Double) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val base = df.select(score.cast("double").as("s"),
      when(label, 1.0).otherwise(0.0).as("y"))
    val census = base.agg(
      sum(col("y")).as("np"),
      (count(lit(1)).cast("double") - sum(col("y"))).as("nn")).head()
    // sum() of an empty input is NULL — fail with a message, not an NPE
    require(!census.isNullAt(0), "plattFit requires a non-empty input")
    val nPos = census.getDouble(0)
    val nNeg = census.getDouble(1)
    val tPos = (nPos + 1.0) / (nPos + 2.0)
    val tNeg = 1.0 / (nNeg + 2.0)
    var a = 0.0
    var b = 0.0
    var i = 0
    var singular = false
    while (i < iters && !singular) {
      val p = lit(1.0) /
        (lit(1.0) + Sampling.detExp(-(lit(a) * col("s") + lit(b))))
      val t = when(col("y") > 0.5, lit(tPos)).otherwise(lit(tNeg))
      val sums = base
        .select(col("s"), (p - t).as("d"), (p * (lit(1.0) - p)).as("w"))
        .agg(
          floor(sum(col("d") * col("s")) * 1e6 + 0.5).as("g1"),
          floor(sum(col("d")) * 1e6 + 0.5).as("g0"),
          floor(sum(col("w") * col("s") * col("s")) * 1e6 + 0.5).as("h11"),
          floor(sum(col("w") * col("s")) * 1e6 + 0.5).as("h10"),
          floor(sum(col("w")) * 1e6 + 0.5).as("h00"))
        .head()
      // floor() yields LongType; the /1e6 here mirrors the oracle's
      // textual `floor(...)/1e6` — same integer, same one divide
      val g1 = sums.getLong(0) / 1e6
      val g0 = sums.getLong(1) / 1e6
      val h11 = sums.getLong(2) / 1e6
      val h10 = sums.getLong(3) / 1e6
      val h00 = sums.getLong(4) / 1e6
      val det = h11 * h00 - h10 * h10
      if (det == 0.0) singular = true
      else {
        a = r6(a - (g1 * h00 - g0 * h10) / det)
        b = r6(b - (g0 * h11 - g1 * h10) / det)
      }
      i += 1
    }
    (a, b)
  }

  /** The calibrated probability column for a fitted (A, B) — σ via the
    * same libm-free exponential the fit used.
    */
  def plattProb(score: Column, a: Double, b: Double): Column =
    lit(1.0) /
      (lit(1.0) + Sampling.detExp(-(lit(a) * score.cast("double") + lit(b))))

  // =====================================================================
  // Logistic regression by batch gradient descent (the fastText-style
  // TRAINED filter next to NB's counting fit): T full-batch ticks of
  //   w_f ← w_f + η/N · Σ_d c_{d,f} · (y_d − σ(z_d)),
  //   z_d = (Σ_f c_{d,f}·w_f) / (n_tok_d · 2²⁰),
  // run entirely on the cluster with an exactly-replayable arithmetic
  // contract: weights and residuals live on the integer 2⁻²⁰ grid, every
  // per-feature gradient and per-doc logit is an ORDER-EXACT BIGINT sum,
  // σ computes through the libm-free DetExp chain, and the one float
  // hop per tick (logit → σ → quantized residual) is a fixed sequence
  // of exact IEEE ops — so a DuckDB CTE chain replays the whole descent
  // bit-for-bit (the x8 DoReMi discipline applied to a model fit).
  //
  // Scale shape per tick: one map-side-combined per-doc aggregate over
  // the STAGED (doc, y, f, c) feature table (weights broadcast onto it),
  // one doc-keyed equi-join attaching residuals back to features, one
  // ≤`buckets`-row gradient aggregate collected to the driver (the
  // centroids/weights contract — never corpus rows). Text tokenizes
  // exactly once, at staging. At 100 TB the feature table is the
  // artifact you'd land bucketed by doc id, making the residual join
  // shuffle-free; gradient BIGINT headroom: |c·r| ≤ n_tok·2²⁰ per
  // (doc, feature) — ~2³¹ at 2k-token docs, ~2³² docs per feature
  // slot before a BIGINT gradient could saturate.
  // =====================================================================

  /** The shared residual/weight grid (2²⁰) — keep in lockstep with
    * [[sqlLogRegTickCtes]]. */
  val LrGrid: Long = 1L << 20

  /** Per-doc hashed features with the carried boolean label:
    * `(idName, y, f, c)` — one tokenize, map-side-combined counts.
    */
  def docFeaturesLabeled(df: DataFrame, id: Column, label: Column,
                         text: Column, buckets: Int,
                         idName: String = "doc_id"): DataFrame =
    graft.Frames.fan(df).select(id.as(idName), label.as("y"),
        explode(graft.functions.TextAnalysis.tokens(text)).as("_tok"))
      .select(col(idName), col("y"), featHash(col("_tok"), buckets).as("f"))
      .groupBy(col(idName), col("y"), col("f"))
      .agg(count(lit(1)).as("c"))

  /** One exact-IEEE sigmoid→quantized-residual column over `(y, zn,
    * nt)`: r = ⌊(y − σ(zn/(nt·2²⁰)))·2²⁰ + ½⌋. Keep in exact lockstep
    * with the SQL twin inside [[sqlLogRegTickCtes]]. Package-private
    * so PropertySpec can pin the |r| ≤ 2²⁰ bound (the full grid — σ
    * saturates toward 0/1 at large |logit|, so |y − σ| approaches 1;
    * the half-grid bound holds only at the w₀ = 0 tick where σ = ½).
    * That full-grid bound is what the header's gradient-headroom
    * arithmetic (|c·r| ≤ n_tok·2²⁰) uses.
    */
  private[graft] def residual(y: Column, zn: Column, nt: Column): Column =
    floor((when(y, lit(1.0)).otherwise(lit(0.0)) -
        lit(1.0) / (lit(1.0) + Sampling.detExp(
          -(zn.cast("double") / (nt.cast("double") * lit(LrGrid.toDouble)))))) *
      lit(LrGrid.toDouble) + lit(0.5)).cast("long")

  /** Fit by `ticks` full-batch GD steps from w₀ = 0 over the 2⁻²⁰ grid;
    * η = 1/etaDen. Returns the ≤`buckets`-row weight seq (f → w on the
    * grid) — the serving-gate contract shape ([[collectWeights]]).
    * `feat` must be a MATERIALIZED `(idName, y, f, c)` table (stage
    * [[docFeaturesLabeled]] to scratch first — every tick scans it
    * twice). The weight update divides TRUNCATING-TOWARD-ZERO on both
    * engines (Scala `/` here, the sign-split `//` CASE in the oracle);
    * plain `div`/`//` disagree on negative gradients.
    */
  def trainLogReg(feat: DataFrame, ticks: Int, etaDen: Long,
                  idName: String = "doc_id"): Seq[(Long, Long)] =
    trainLogRegFrom(feat, Seq.empty, ticks, etaDen, idName)

  /** WARM-START [[trainLogReg]]: continue the descent from a served
    * weight table instead of w₀ = 0 — the index-lifecycle discipline
    * (n2's warm graph tick, the IVF append) applied to the model fit.
    * A day tick refreshes the filter with a few ticks over the grown
    * corpus rather than a cold re-descent; by construction
    * `trainLogRegFrom(feat, trainLogRegFrom(feat, w, a), b) ==
    * trainLogRegFrom(feat, w, a + b)` on the SAME feature table (the
    * composition law ClassifySpec pins), so a warm tick is exactly the
    * tail of the full fit — not an approximation of it.
    */
  def trainLogRegFrom(feat: DataFrame, start: Seq[(Long, Long)],
                      ticks: Int, etaDen: Long,
                      idName: String = "doc_id"): Seq[(Long, Long)] = {
    require(ticks >= 1 && etaDen >= 1)
    val spark = feat.sparkSession
    import spark.implicits._
    // bounded driver read (one scalar): the gradient normalizer N
    val n = feat.select(col(idName)).distinct().count()
    require(n > 0, "trainLogReg: empty training set")
    val denom = etaDen * n
    var w = start.toMap
    for (_ <- 1 to ticks) {
      val wdf = broadcast(w.toSeq.toDF("f", "w"))
      val z = feat.join(wdf, Seq("f"), "left")
        .groupBy(col(idName), col("y"))
        .agg(sum(col("c") * coalesce(col("w"), lit(0L))).as("zn"),
          sum(col("c")).as("nt"))
      val r = z.select(col(idName),
        residual(col("y"), col("zn"), col("nt")).as("r"))
      // ≤ buckets rows back to the driver (the weights contract)
      val grads = feat.join(r, idName)
        .groupBy(col("f")).agg(sum(col("c") * col("r")).as("g"))
        .collect().map(row => (row.getLong(0), row.getLong(1)))
      w = grads.foldLeft(w) { case (acc, (f, g)) =>
        // Long `/` truncates toward zero — the oracle's sign-split `//`
        acc.updated(f, acc.getOrElse(f, 0L) + g / denom)
      }
    }
    w.toSeq.sortBy(_._1)
  }

  /** Order-exact BIGINT logit per doc over a `(idName, y, f, c)` table
    * and a fitted weight seq: `(idName, y, n_tok, z_num)` with
    * z_num = Σ c·w (grid units ·n_tok; compare to 0 for the gate, or
    * divide by n_tok·2²⁰ for the calibrated σ).
    */
  def logRegZ(feat: DataFrame, weights: Seq[(Long, Long)],
              idName: String = "doc_id"): DataFrame = {
    val spark = feat.sparkSession
    import spark.implicits._
    feat.join(broadcast(weights.toDF("f", "w")), Seq("f"), "left")
      .groupBy(col(idName), col("y"))
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c") * coalesce(col("w"), lit(0L))).as("z_num"))
  }

  /** DuckDB twin of the whole descent as tick CTEs over a caller-built
    * `${p}fc(doc_id, y, …, f, c)` feature table: emits, per tick
    * t ∈ [1, ticks], `${p}n{t}/${p}z{t}/${p}r{t}/${p}g{t}/${p}w{t}`,
    * with `${p}w{ticks}` the final weight table. `tickFilter(t)` is
    * the doc predicate of tick t over fc's columns — the default
    * (`tr`, every tick) replays [[trainLogReg]]; a CUMULATIVE filter
    * sequence (batch ≤ 0, ≤ 1, …) replays the [[appendLrBatch]]
    * lifecycle trajectory, each tick warm-starting on the grown
    * corpus exactly as [[trainLogRegFrom]] does. Keep the z/r float
    * chain in exact lockstep with [[residual]] and the update with
    * the driver fold.
    */
  def sqlLogRegTickCtes(p: String, ticks: Int, etaDen: Long,
                        tickFilter: Int => String = _ => "tr"): String = {
    val grid = s"$LrGrid.0::DOUBLE"
    def zCte(t: Int): String =
      if (t == 1)
        s"""${p}z1 AS MATERIALIZED (SELECT doc_id, any_value(y) AS y,
             sum(c)::BIGINT AS nt, 0::BIGINT AS zn
           FROM ${p}fc WHERE ${tickFilter(1)} GROUP BY doc_id)"""
      else
        s"""${p}z$t AS MATERIALIZED (SELECT c.doc_id, any_value(c.y) AS y,
             sum(c.c)::BIGINT AS nt,
             coalesce(sum(c.c * w.w), 0)::BIGINT AS zn
           FROM ${p}fc c LEFT JOIN ${p}w${t - 1} w USING (f)
           WHERE ${tickFilter(t)} GROUP BY c.doc_id)"""
    val tickCtes = (1 to ticks).map { t =>
      s"""${p}n$t AS (SELECT
             ($etaDen * count(DISTINCT doc_id))::BIGINT AS d
           FROM ${p}fc WHERE ${tickFilter(t)}),
         ${zCte(t)},
         ${p}r$t AS MATERIALIZED (SELECT doc_id,
             floor(((CASE WHEN y THEN 1.0 ELSE 0.0 END) -
               (1.0 / (1.0 + ${Sampling.sqlDetExp(
                 s"-(zn::DOUBLE / (nt::DOUBLE * $grid))")}))) *
               $grid + 0.5)::BIGINT AS r
           FROM ${p}z$t),
         ${p}g$t AS MATERIALIZED (SELECT f, sum(c * r)::BIGINT AS g
           FROM ${p}fc JOIN ${p}r$t USING (doc_id)
           WHERE ${tickFilter(t)} GROUP BY f),
         ${p}w$t AS MATERIALIZED (SELECT f,
             ${if (t == 1) "" else s"coalesce(pw.w, 0) + "}(CASE
               WHEN coalesce(g, 0) >= 0 THEN coalesce(g, 0) // ${p}n$t.d
               ELSE -((-g) // ${p}n$t.d) END)::BIGINT AS w
           FROM ${p}g$t ${
             // FULL join: a feature carrying weight in w_{t-1} but absent
             // from tick t's filtered docs (possible under a NON-monotone
             // tickFilter) must keep its weight, exactly as
             // trainLogRegFrom's driver fold does — a LEFT join from g_t
             // would silently drop it. Its gradient defaults to 0.
             if (t == 1) "" else s"FULL JOIN ${p}w${t - 1} pw USING (f)"
           } CROSS JOIN ${p}n$t)"""
    }.mkString(",\n")
    tickCtes
  }

  // ---------------------------------------------------------------
  // Persisted LR lifecycle (the tq3/modelSink discipline for the
  // gradient fit): the FEATURE table is additive — it lives in a
  // CountLog keyed (doc_id, y, f), and ingest batches carry disjoint
  // doc ids (the ingest contract every index lifecycle here shares) —
  // but the WEIGHT table is a descent trajectory, not a sum. So
  // weights land as whole per-batch SEGMENTS (`w/delta/d=K` = the
  // weights AFTER absorbing batch K), commit-gated exactly like the
  // BM25/IVF/LSH appends: the tick is deterministic given (previous
  // weights, folded features), so a crash-replay recomputes the same
  // segment and the commit gate makes the rewrite a no-op — even a
  // POISONED replay of a committed batch id cannot move the served
  // model. The per-batch cost: tokenize the batch (O(batch)), then
  // `ticks` passes over the FOLDED feature store (compact (doc, f)
  // rows — never a raw-text rescan). Serving reads the LATEST
  // committed weight segment, never a fold.
  // ---------------------------------------------------------------

  private def featKeys(idName: String) = Seq(idName, "y", "f")

  /** Create the LR model log: batch-0 features as the CountLog base,
    * the cold `ticks`-tick fit as weight segment d = −1 (the LSH band
    * index's base-segment convention — streaming batch ids start at 0
    * and can never collide). Returns the base weights.
    */
  def initLrLog(feat: DataFrame, dir: String, ticks: Int,
                etaDen: Long, idName: String = "doc_id"): Seq[(Long, Long)] = {
    val spark = feat.sparkSession
    import spark.implicits._
    CountLog.init(feat, s"$dir/feat")
    val folded = CountLog.read(spark, s"$dir/feat", featKeys(idName))
      .localCheckpoint(eager = true)
    val w =
      try trainLogReg(folded, ticks, etaDen, idName)
      finally graft.Frames.free(folded)
    new SegmentFs.Log(spark, s"$dir/w").append(Some(-1L))(_ => w.toDF("f", "w")): Unit
    w
  }

  /** Absorb one ingest batch: append its features (CountLog,
    * batch-id idempotent), then warm-tick the weights over the grown
    * folded table from the latest served segment and land them as
    * segment d = batch id. Replay of a committed id is a no-op at
    * BOTH stores. An EMPTY batch marks its id done without moving the
    * model (no new evidence ⇒ no tick — unlike NB's all-zero partial,
    * a tick is not a no-op algebraically). Returns the batch id.
    */
  def appendLrBatch(batch: DataFrame, id: Column, label: Column,
                    text: Column, buckets: Int, ticks: Int, etaDen: Long,
                    dir: String, batchId: Option[Long] = None,
                    idName: String = "doc_id"): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    val feat = docFeaturesLabeled(batch, id, label, text, buckets, idName)
    val empty = batch.isEmpty
    val k = CountLog.append(feat, s"$dir/feat", batchId)
    // the weight log skips a replayed id before any training runs
    if (!empty) new SegmentFs.Log(spark, s"$dir/w").append(Some(k)) { _ =>
      val prev = loadLrWeights(spark, dir)
      val folded = CountLog.read(spark, s"$dir/feat", featKeys(idName))
        .localCheckpoint(eager = true)
      val w =
        try trainLogRegFrom(folded, prev, ticks, etaDen, idName)
        finally graft.Frames.free(folded)
      w.toDF("f", "w")
    }: Unit
    k
  }

  /** The served model: the latest COMMITTED weight segment (bounded
    * ≤ buckets rows — the collectWeights contract).
    */
  def loadLrWeights(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val log = new SegmentFs.Log(spark, s"$dir/w")
    val ks = log.committed
    require(ks.nonEmpty, s"no committed weight segment under $dir/w")
    log.deltas(Seq(ks.max))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
  }

  /** Streaming LR maintenance: each micro-batch of labeled docs folds
    * through [[appendLrBatch]] (batch-id idempotent — the exactly-once
    * contract against the checkpoint).
    */
  def lrSink(docs: DataFrame, id: Column, label: Column, text: Column,
             buckets: Int, ticks: Int, etaDen: Long, dir: String,
             idName: String = "doc_id"): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendLrBatch(batch, id, label, text, buckets, ticks, etaDen,
          dir, Some(batchId), idName): Unit
    }
}
