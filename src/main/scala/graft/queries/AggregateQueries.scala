package graft
package queries

import graft.functions.{TextAnalysis => TA}
import graft.operators.{Align, Enrich, Sampling, Sketches}
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Family a: the aggregation and statistics suite (histograms, quantile
  * and distinct sketches, rollups, pivots, drift tests).
  */
object AggregateQueries {

  /** a7x's verification ceiling: with lineitem at or under this many
    * rows the sketch query ALSO computes the exact quartiles it is
    * checked against (the driver's sf0.01 gate, ~60k rows); above it
    * (bench sf0.1, ~600k) only the sketch path runs — the form that
    * exists at 100 TB. The oracle is evaluated only under the gate.
    */
  private val a7xExactMaxRows = 100000L

  val all: Seq[Query] = Seq(
    Query("a2_score_summary", (s, dir) => {
      // A2 — per-key score summary stats (enhance_scoring.py:501-537)
      // over the deterministic mock scores, grouped by language.
      val enriched = Enrich.enrichColumn(
        t(s, dir, "documents"),
        concat(lit("Score: "), col("text")), "resp",
        new Enrich.MockScoreClient)
      val novelty = least(
        conv(substring(col("resp"), 1, 1), 16, 10).cast("int"), lit(10))
      enriched.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          fround(avg(novelty), 6).as("avg_novelty"),
          min(novelty).as("min_novelty"),
          max(novelty).as("max_novelty"))
        .orderBy(col("lang"))
    },
      """WITH sc AS (
           SELECT lang,
             least(('0x' || substr(md5('Score: ' || text), 1, 1))::INT, 10)
               AS novelty
           FROM documents)
         SELECT lang, count(*) AS n,
           floor((avg(novelty)) * 1e6 + 0.5) / 1e6 AS avg_novelty,
           min(novelty) AS min_novelty, max(novelty) AS max_novelty
         FROM sc GROUP BY lang ORDER BY lang"""),

    Query("a3_histogram", (s, dir) => {
      // A3 — score histogram: decile buckets of the composite quality
      // score (enhance_scoring.py:531-535's integer-score distribution).
      t(s, dir, "documents")
        .groupBy(floor(TA.qualityScore(col("text")) * 10).cast("long").as("decile"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("decile"))
    },
      s"""${sqlQualityCtes()}
         SELECT floor($sqlQualityExpr * 10)::BIGINT AS decile, count(*) AS n
         FROM s GROUP BY 1 ORDER BY 1"""),

    Query("a4_dist_stats", (s, dir) => {
      // A4/A5/A7 — mean/median/σ_pop/min/max + Pearson corr
      // (quality_scoring.py:408-479); exact percentile for oracle parity,
      // percentile_approx is the 100 TB swap-in.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          fround(avg(col("l_quantity")), 6).as("avg_qty"),
          fround(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          fround(stddev_pop(col("l_quantity")), 6).as("std_qty"),
          fround(min(col("l_quantity")), 2).as("min_qty"),
          fround(max(col("l_quantity")), 2).as("max_qty"),
          fround(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
         floor((avg(l_quantity)) * 1e6 + 0.5) / 1e6 AS avg_qty,
         floor((quantile_cont(l_quantity, 0.5)) * 1e6 + 0.5) / 1e6 AS median_qty,
         floor((stddev_pop(l_quantity)) * 1e6 + 0.5) / 1e6 AS std_qty,
         floor((min(l_quantity)) * 1e2 + 0.5) / 1e2 AS min_qty,
         floor((max(l_quantity)) * 1e2 + 0.5) / 1e2 AS max_qty,
         floor((corr(l_quantity, l_extendedprice)) * 1e6 + 0.5) / 1e6 AS corr_qty_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Query("a6_distinct_tokens", (s, dir) => {
      // A6 — distinct count over a flattened array column (exact for the
      // oracle; approx_count_distinct is the 100 TB swap-in).
      t(s, dir, "documents")
        .select(col("lang"), explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("n_distinct_tokens"))
        .orderBy(col("lang"))
    },
      s"""SELECT lang, count(DISTINCT tok) AS n_distinct_tokens
         FROM (SELECT lang, unnest(${sqlTokens("text")}) AS tok FROM documents)
         GROUP BY lang ORDER BY lang"""),

    Query("a6x_distinct_approx", (s, dir) => {
      // A6 approx twin — approx_count_distinct (HLL++) as the measured
      // 100 TB substitute for a6's exact countDistinct. Exact distinct
      // = one extra shuffle of every (lang, tok) pair for dedup; the
      // sketch merges per partition, so at corpus scale this is the
      // only viable form. Driver-checkable core (r9 verdict): the same
      // agg computes the exact count alongside at test SF; output =
      // (exact, within_tol), within_tol from the sketch at the default
      // rsd 0.05 → 3σ ⇒ 15%.
      t(s, dir, "documents")
        .select(col("lang"), explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("n_distinct_tokens"),
          approx_count_distinct(col("tok")).as("_est"))
        .select(col("lang"), col("n_distinct_tokens"),
          (abs(col("_est") - col("n_distinct_tokens")) <=
            col("n_distinct_tokens") * lit(0.15)).as("within_tol"))
        .orderBy(col("lang"))
    },
      // exact core + constant within_tol: the Spark side derives the
      // boolean from its HLL++ estimate vs the same exact count, so a
      // sketch regression fails the hash compare (r9 verdict task 2)
      s"""SELECT lang, count(DISTINCT tok) AS n_distinct_tokens,
           true AS within_tol
         FROM (SELECT lang, unnest(${sqlTokens("text")}) AS tok FROM documents)
         GROUP BY lang ORDER BY lang"""),

    Query("a7_iqr_outliers", (s, dir) => {
      // A7 — IQR outlier detection: exact quartiles per group, then one
      // pass counting rows outside [Q1-1.5·IQR, Q3+1.5·IQR].
      val li = t(s, dir, "lineitem")
      val q = li.groupBy(col("l_returnflag")).agg(
        expr("percentile(l_extendedprice, 0.25)").as("q1"),
        expr("percentile(l_extendedprice, 0.75)").as("q3"),
        count(lit(1)).as("n_total"))
      val iqr = col("q3") - col("q1")
      val lo = col("q1") - iqr * 1.5
      val hi = col("q3") + iqr * 1.5
      // broadcast the 3-row quartile side explicitly: size estimates on a
      // narrow parquet scan otherwise let Catalyst build the hashed
      // relation from the FACT side (BuildLeft over all of lineitem).
      li.join(broadcast(q), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          fround(first(col("q1")), 6).as("q1"),
          fround(first(col("q3")), 6).as("q3"),
          sum(when(col("l_extendedprice") < lo || col("l_extendedprice") > hi,
            1L).otherwise(0L)).as("n_outliers"),
          fround(sum(when(col("l_extendedprice") < lo || col("l_extendedprice") > hi,
            1.0).otherwise(0.0)) * 100.0 / first(col("n_total")), 6).as("pct_outliers"))
        .orderBy(col("l_returnflag"))
    },
      s"""WITH q AS (
           SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3,
             count(*) AS n_total
           FROM lineitem GROUP BY l_returnflag)
         SELECT l.l_returnflag,
           ${sqlFround("max(q.q1)", 6)} AS q1, ${sqlFround("max(q.q3)", 6)} AS q3,
           sum(CASE WHEN l.l_extendedprice < q.q1 - (q.q3 - q.q1) * 1.5
             OR l.l_extendedprice > q.q3 + (q.q3 - q.q1) * 1.5
             THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           ${sqlFround(
             """sum(CASE WHEN l.l_extendedprice < q.q1 - (q.q3 - q.q1) * 1.5
             OR l.l_extendedprice > q.q3 + (q.q3 - q.q1) * 1.5
             THEN 1.0 ELSE 0.0 END) * 100.0 / max(q.n_total)""", 6)} AS pct_outliers
         FROM lineitem l JOIN q USING (l_returnflag)
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag"""),

    Query("a7x_iqr_approx", (s, dir) => {
      // A7 approx twin — approx_percentile as the documented 100 TB
      // substitute for exact quartiles: a single-pass mergeable sketch
      // (partial agg per partition + merge), no per-group sorted
      // materialization, so it scales to corpus-sized groups where
      // exact percentile cannot.
      //
      // SCALE GATE (r10 verdict): the exact-quartile twin that makes
      // this query driver-checkable runs ONLY at/below the
      // verification SF (lineitem ≤ a7xExactMaxRows — sf0.01's ~60k
      // sits under, sf0.1's ~600k above). Above it the query measures
      // the pure sketch path it advertises — computing the exact
      // quartiles alongside had made a7x COST MORE than the exact a7
      // it exists to undercut. The oracle mirrors by contract: the
      // driver evaluates it only at the verification SF, where the
      // exact branch is what runs; the sketch branch's outputs keep
      // the same schema (sketch quartiles drive the bounds;
      // within_tol, verified at verification SF, reports true).
      val li = t(s, dir, "lineitem")
      val verify = li.count() <= a7xExactMaxRows
      val q =
        if (verify)
          li.groupBy(col("l_returnflag")).agg(
            expr("percentile(l_extendedprice, 0.25)").as("q1"),
            expr("percentile(l_extendedprice, 0.75)").as("q3"),
            expr("approx_percentile(l_extendedprice, 0.25, 10000)").as("aq1"),
            expr("approx_percentile(l_extendedprice, 0.75, 10000)").as("aq3"),
            count(lit(1)).as("n_total"))
        else
          li.groupBy(col("l_returnflag")).agg(
            expr("approx_percentile(l_extendedprice, 0.25, 10000)").as("q1"),
            expr("approx_percentile(l_extendedprice, 0.75, 10000)").as("q3"),
            count(lit(1)).as("n_total"))
      val iqr = col("q3") - col("q1")
      val lo = col("q1") - iqr * 1.5
      val hi = col("q3") + iqr * 1.5
      val withinTol =
        if (verify)
          (max(abs(col("aq1") - col("q1"))) <= first(col("q1")) * lit(0.01) &&
            max(abs(col("aq3") - col("q3"))) <= first(col("q3")) * lit(0.01))
        else lit(true)
      li.join(broadcast(q), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          fround(first(col("q1")), 6).as("q1"),
          fround(first(col("q3")), 6).as("q3"),
          sum(when(col("l_extendedprice") < lo || col("l_extendedprice") > hi,
            1L).otherwise(0L)).as("n_outliers"),
          fround(sum(when(col("l_extendedprice") < lo || col("l_extendedprice") > hi,
            1.0).otherwise(0.0)) * 100.0 / first(col("n_total")), 6).as("pct_outliers"),
          withinTol.as("within_tol"))
        .orderBy(col("l_returnflag"))
    },
      // a7's exact replay + constant within_tol: the Spark side drives
      // the boolean from approx_percentile vs the same exact quartiles
      // (1% relative), so a sketch regression fails the hash compare
      s"""WITH q AS (
           SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3,
             count(*) AS n_total
           FROM lineitem GROUP BY l_returnflag)
         SELECT l.l_returnflag,
           ${sqlFround("max(q.q1)", 6)} AS q1, ${sqlFround("max(q.q3)", 6)} AS q3,
           sum(CASE WHEN l.l_extendedprice < q.q1 - (q.q3 - q.q1) * 1.5
             OR l.l_extendedprice > q.q3 + (q.q3 - q.q1) * 1.5
             THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           ${sqlFround(
             """sum(CASE WHEN l.l_extendedprice < q.q1 - (q.q3 - q.q1) * 1.5
             OR l.l_extendedprice > q.q3 + (q.q3 - q.q1) * 1.5
             THEN 1.0 ELSE 0.0 END) * 100.0 / max(q.n_total)""", 6)} AS pct_outliers,
           true AS within_tol
         FROM lineitem l JOIN q USING (l_returnflag)
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag"""),

    Query("a8_completeness", (s, dir) => {
      // A8 — per-field completeness stats (enhance_fields_of_study.py
      // analyze step: share of rows with each field populated). Sparse
      // fields are derived deterministically so completeness is
      // non-trivial on the dense test corpus; stack() unpivots to one
      // row per field, aggregated in a single pass.
      val d = t(s, dir, "documents").select(
        when(col("doc_id") % 7 =!= 0, trim(substring(col("text"), 1, 30)))
          .as("title"),
        when(col("doc_id") % 5 =!= 0, col("lang")).as("lang"),
        when(col("doc_id") % 3 =!= 0, col("source")).as("source"),
        when(col("n_chars") > 400, col("text")).as("abstract"))
      d.selectExpr(
        """stack(4,
             'abstract', abstract IS NOT NULL,
             'lang', lang IS NOT NULL,
             'source', source IS NOT NULL,
             'title', title IS NOT NULL) AS (field, present)""")
        .groupBy(col("field"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("present"), 1L).otherwise(0L)).as("n_present"),
          fround(avg(when(col("present"), 1.0).otherwise(0.0)) * 100, 4)
            .as("pct_complete"))
        .orderBy(col("field"))
    },
      """WITH d AS (
           SELECT
             CASE WHEN doc_id % 7 <> 0 THEN trim(substr(text, 1, 30)) END AS title,
             CASE WHEN doc_id % 5 <> 0 THEN lang END AS lang,
             CASE WHEN doc_id % 3 <> 0 THEN source END AS source,
             CASE WHEN n_chars > 400 THEN text END AS abstract
           FROM documents),
         u AS (
           SELECT 'abstract' AS field, abstract IS NOT NULL AS present FROM d
           UNION ALL SELECT 'lang', lang IS NOT NULL FROM d
           UNION ALL SELECT 'source', source IS NOT NULL FROM d
           UNION ALL SELECT 'title', title IS NOT NULL FROM d)
         SELECT field, count(*) AS n_rows,
           sum(CASE WHEN present THEN 1 ELSE 0 END)::BIGINT AS n_present,
           floor((avg(CASE WHEN present THEN 1.0 ELSE 0.0 END) * 100) * 1e4 + 0.5) / 1e4
             AS pct_complete
         FROM u GROUP BY field ORDER BY field"""),

    Query("a10_rollup_argmax", (s, dir) => {
      // A10 — per-group rollup with a deterministic argmax (max_by over a
      // tie-proof padded key) and an all-rows predicate (bool_and).
      val d = t(s, dir, "documents")
      val counts = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("lang"))
        .agg(
          sum(col("cnt")).as("n_docs"),
          max_by(col("source"),
            concat(format_string("%08d", col("cnt")), col("source")))
            .as("top_source"))
        .join(
          d.groupBy(col("lang"))
            .agg(bool_and(col("n_chars") > 50).as("all_nontrivial")),
          "lang")
        .select(col("lang"), col("n_docs"), col("top_source"),
          col("all_nontrivial"))
        .orderBy(col("lang"))
    },
      """WITH c AS (
           SELECT lang, source, count(*) AS cnt FROM documents GROUP BY 1, 2),
         t AS (
           SELECT lang, sum(cnt)::BIGINT AS n_docs,
             max_by(source, lpad(cnt::VARCHAR, 8, '0') || source) AS top_source
           FROM c GROUP BY lang),
         b AS (
           SELECT lang, bool_and(n_chars > 50) AS all_nontrivial
           FROM documents GROUP BY lang)
         SELECT t.lang, n_docs, top_source, all_nontrivial
         FROM t JOIN b USING (lang) ORDER BY lang"""),

    Query("a11_stage_deltas", (s, dir) => {
      // A11 — ablation stage deltas (ablation_error_analysis.py:88-136):
      // union stage-tagged snapshots, aggregate per stage, report the
      // removal delta against the previous stage via lag.
      val d = t(s, dir, "documents")
      val raw = d.withColumn("stage", lit(0))
      val gated = Align.gate(d, Seq("len" -> (col("n_chars") >= 120)))
        .withColumn("stage", lit(1))
      val staged = raw.unionByName(gated)
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"),
          fround(avg(col("n_chars")), 4).as("avg_chars"))
      val w = Window.orderBy(col("stage"))
      staged.select(col("stage"), col("n_docs"), col("avg_chars"),
          coalesce(lag(col("n_docs"), 1).over(w) - col("n_docs"), lit(0L))
            .as("removed"))
        .orderBy(col("stage"))
    },
      """WITH staged AS (
           SELECT 0 AS stage, count(*) AS n_docs,
             floor((avg(n_chars)) * 1e4 + 0.5) / 1e4 AS avg_chars FROM documents
           UNION ALL
           SELECT 1 AS stage, count(*) AS n_docs,
             floor((avg(n_chars)) * 1e4 + 0.5) / 1e4 AS avg_chars
           FROM documents WHERE n_chars >= 120)
         SELECT stage, n_docs, avg_chars,
           coalesce(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0) AS removed
         FROM staged ORDER BY stage"""),

    Query("a12_top_tokens", (s, dir) => {
      // A12 — explode + frequency count + deterministic global top-k
      // (TakeOrderedAndProject over the partial-agg output).
      t(s, dir, "documents")
        .select(explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },
      s"""SELECT tok, count(*) AS n
         FROM (SELECT unnest(${sqlTokens("text")}) AS tok FROM documents)
         GROUP BY tok ORDER BY n DESC, tok LIMIT 20"""),

    Query("a13_rag_report", (s, dir) => {
      // A13/V6 — RAG-vs-baseline evaluation report rollup
      // (rag.ipynb generate_report): mean scores, improvement rates
      // (share of questions improved), auto-vs-api Pearson correlation,
      // token totals. Per-question scores derive from md5 so both
      // engines evaluate identical inputs.
      def hx(tag: String) = conv(
        substring(md5(concat(lit(tag), col("text"))), 1, 2), 16, 10)
        .cast("int")
      val scored = t(s, dir, "documents").select(
        (hx("ar").cast("double") / 255.0).as("ar"),
        (hx("ab").cast("double") / 255.0).as("ab"),
        ((hx("pr") % 101).cast("double") / 10.0).as("pr"),
        ((hx("pb") % 101).cast("double") / 10.0).as("pb"),
        (expr("length(text) div 4") + lit(150)).as("tok"))
      scored.agg(
        count(lit(1)).as("total_questions"),
        fround(avg(col("ar")), 6).as("avg_auto_score_rag"),
        fround(avg(col("ab")), 6).as("avg_auto_score_baseline"),
        fround(avg(col("pr")), 6).as("avg_api_score_rag"),
        fround(avg(col("pb")), 6).as("avg_api_score_baseline"),
        fround(avg(col("ar") - col("ab")), 6).as("avg_auto_improvement"),
        fround(avg(col("pr") - col("pb")), 6).as("avg_api_improvement"),
        fround(sum(when(col("ar") - col("ab") > 0, 1).otherwise(0))
          .cast("double") / count(lit(1)), 6).as("auto_improvement_rate"),
        fround(sum(when(col("pr") - col("pb") > 0, 1).otherwise(0))
          .cast("double") / count(lit(1)), 6).as("api_improvement_rate"),
        fround(corr(col("ar"), col("pr")), 6).as("correlation_auto_vs_api"),
        sum(col("tok")).as("total_tokens_used"))
    }, {
      def hx(tag: String) = s"('0x' || substr(md5('$tag' || text), 1, 2))::INT"
      s"""WITH s AS (
           SELECT
             ${hx("ar")} / 255.0 AS ar,
             ${hx("ab")} / 255.0 AS ab,
             (${hx("pr")} % 101) / 10.0 AS pr,
             (${hx("pb")} % 101) / 10.0 AS pb,
             len(text) // 4 + 150 AS tok
           FROM documents)
         SELECT count(*)::BIGINT AS total_questions,
           ${sqlFround("avg(ar)", 6)} AS avg_auto_score_rag,
           ${sqlFround("avg(ab)", 6)} AS avg_auto_score_baseline,
           ${sqlFround("avg(pr)", 6)} AS avg_api_score_rag,
           ${sqlFround("avg(pb)", 6)} AS avg_api_score_baseline,
           ${sqlFround("avg(ar - ab)", 6)} AS avg_auto_improvement,
           ${sqlFround("avg(pr - pb)", 6)} AS avg_api_improvement,
           ${sqlFround("sum(CASE WHEN ar - ab > 0 THEN 1 ELSE 0 END) / count(*)", 6)}
             AS auto_improvement_rate,
           ${sqlFround("sum(CASE WHEN pr - pb > 0 THEN 1 ELSE 0 END) / count(*)", 6)}
             AS api_improvement_rate,
           ${sqlFround("corr(ar, pr)", 6)} AS correlation_auto_vs_api,
           sum(tok)::BIGINT AS total_tokens_used
         FROM s"""
    }),

    Query("a14_hll_rollup", (s, dir) => {
      // Mergeable-sketch lifecycle (beyond the reference): per-day HLL
      // sketches of the token stream fold once per ingest batch (day
      // synthesizes from doc_id, the w4 precedent), then ANY slice
      // answers distinct-token questions by unioning sketch bytes —
      // history never rescans. Driver-checkable core (r9 verdict): the
      // exact distinct runs alongside at test SF, output =
      // (exact, within_tol) with within_tol driven by the sketch union
      // (lgK = 12 → rsd ≈ 1.6%, 3σ ⇒ 5%), so the gate sees a real hash
      // verdict AND a sketch-accuracy regression flips it; at 100 TB
      // only the sketch path runs.
      val toks = t(s, dir, "documents")
        .select(col("lang"), pmod(col("doc_id"), lit(7)).as("day"),
          TA.tokens(col("text")).as("_toks"))
        .select(col("lang"), col("day"), explode(col("_toks")).as("tok"))
      val est = Sketches.unionEstimates(
          Sketches.dailySketches(toks, col("lang"), col("day"), col("tok")))
        .select(col("stratum").as("lang"), col("est_distinct"))
      toks.groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("n_distinct_tokens"))
        .join(broadcast(est), Seq("lang"))
        .select(col("lang"), col("n_distinct_tokens"),
          (abs(col("est_distinct") - col("n_distinct_tokens")) <=
            col("n_distinct_tokens") * lit(0.05)).as("within_tol"))
        .orderBy(col("lang"))
    },
      // same driver-checkable-core pattern: the day-sketch union path
      // runs Spark-side and feeds within_tol; the hashed columns are
      // the exact per-lang distinct both engines compute
      s"""SELECT lang, count(DISTINCT tok) AS n_distinct_tokens,
           true AS within_tol
         FROM (SELECT lang, unnest(${sqlTokens("text")}) AS tok FROM documents)
         GROUP BY lang ORDER BY lang"""),

    Query("a15_quantile_sketch", (s, dir) => {
      // Mergeable QUANTILE sketch lifecycle — the deterministic
      // HDR-style companion to a14's HLL: per-(event_type, day)
      // log-linear bucket counts fold once per ingest batch, then any
      // slice answers p50/p90/p99 by summing sketch rows and walking
      // the cumulative counts. Unlike KLL/t-digest (randomized
      // compaction) the bucketing is pure integer arithmetic, so this
      // one gets a FULL DuckDB oracle. Values quantize to integer
      // milli-units with the shared floor(x·1e3+0.5) rounding.
      val ev = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * lit(1000d) + lit(0.5d)).cast("long").as("v"))
      Sketches.mergeQuantiles(
          Sketches.quantileSketch(ev, col("event_type"), col("day"), col("v")),
          Seq(50, 90, 99))
        .select(col("stratum").as("event_type"), col("p"),
          col("q_lo"), col("q_hi"))
        .orderBy(col("event_type"), col("p"))
    },
      // Replays the log-linear bucketing exactly: bit length via
      // bin() string length (never floating log2), shifts, the
      // BIGINT cum·100 ≥ p·total walk. subBits = 5 mirrors
      // Sketches.logLinearLo's default.
      """WITH ev AS (
           SELECT event_type AS stratum, CAST(ts AS DATE) AS day,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
           FROM events),
         b AS (
           SELECT stratum, day,
             (v >> greatest(length(bin(v)) - 6, 0))
               << greatest(length(bin(v)) - 6, 0) AS lo,
             count(*) AS cnt
           FROM ev GROUP BY 1, 2, 3),
         m AS (SELECT stratum, lo, sum(cnt) AS cnt FROM b GROUP BY 1, 2),
         c AS (
           SELECT stratum, lo,
             sum(cnt) OVER (PARTITION BY stratum ORDER BY lo) AS cum,
             sum(cnt) OVER (PARTITION BY stratum) AS total
           FROM m),
         q AS (
           SELECT c.stratum, p.p, min(c.lo) AS q_lo
           FROM c CROSS JOIN (VALUES (50), (90), (99)) AS p(p)
           WHERE c.cum * 100 >= p.p * c.total
           GROUP BY 1, 2)
         SELECT stratum AS event_type, p, q_lo,
           q_lo + (CAST(1 AS BIGINT) << greatest(length(bin(q_lo)) - 6, 0)) AS q_hi
         FROM q ORDER BY event_type, p"""),

    Query("a16_heavy_hitters", (s, dir) => {
      // Mergeable FREQUENCY sketch — the third sketch-family member
      // (a14 distinct, a15 quantiles): per-(lang, day) token counts
      // pruned at support 1/200 fold per ingest batch; merge-at-read
      // bounds each heavy token's true corpus count in [lo, hi] with
      // no false negatives (the stopword/boilerplate-detection signal
      // at corpus scale). Deterministic integer arithmetic throughout
      // ⇒ full DuckDB oracle.
      val toks = t(s, dir, "documents")
        .select(col("lang"), pmod(col("doc_id"), lit(7)).as("day"),
          TA.tokens(col("text")).as("_toks"))
        .select(col("lang"), col("day"), explode(col("_toks")).as("tok"))
      Sketches.mergeHeavyHitters(
          Sketches.freqSketch(toks, col("lang"), col("day"), col("tok"),
            num = 1L, den = 200L),
          num = 1L, den = 200L)
        .select(col("stratum").as("lang"), col("key").as("tok"),
          col("lo_cnt"), col("hi_cnt"))
        .orderBy(col("lang"), col("tok"))
    },
      // Replays the pruned-count lifecycle exactly: per-(lang, day)
      // counts kept at cnt·200 ≥ rows_d, slack = ceil(rows_d/200) − 1,
      // hi = lo + slack of the absent days. All BIGINT.
      s"""WITH tok AS (
           SELECT lang AS stratum, doc_id % 7 AS day,
             unnest(${sqlTokens("text")}) AS k
           FROM documents),
         counts AS (
           SELECT stratum, day, k, count(*) AS cnt FROM tok GROUP BY 1, 2, 3),
         mass AS (
           SELECT stratum, day, sum(cnt) AS rows_d FROM counts GROUP BY 1, 2),
         slack AS (
           SELECT stratum, day, rows_d,
             (rows_d * 1 + 199) // 200 - 1 AS slack
           FROM mass),
         tot AS (
           SELECT stratum, sum(rows_d) AS total, sum(slack) AS total_slack
           FROM slack GROUP BY 1),
         kept AS (
           SELECT c.stratum, c.day, c.k, c.cnt
           FROM counts c JOIN mass m USING (stratum, day)
           WHERE c.cnt * 200 >= m.rows_d * 1),
         agg AS (
           SELECT k.stratum, k.k, sum(k.cnt) AS lo_cnt,
             sum(s.slack) AS present_slack
           FROM kept k JOIN slack s USING (stratum, day) GROUP BY 1, 2)
         SELECT a.stratum AS lang, a.k AS tok,
           CAST(a.lo_cnt AS BIGINT) AS lo_cnt,
           CAST(a.lo_cnt + t.total_slack - a.present_slack AS BIGINT) AS hi_cnt
         FROM agg a JOIN tot t USING (stratum)
         WHERE (a.lo_cnt + t.total_slack - a.present_slack) * 200 >= t.total * 1
         ORDER BY lang, tok"""),

    Query("a17_pivot", (s, dir) => {
      // Wide reshaping: per-source counts and char mass pivoted over
      // the closed lang domain (explicit value list ⇒ one pass, no
      // distinct-probe job; absent cells coalesce to 0 so the frame is
      // dense). The report-matrix shape every corpus summary ends in.
      val langs = Seq("de", "en", "es", "fr", "zh")
      val p = t(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      p.select(col("source") +:
          langs.flatMap(l => Seq(
            coalesce(col(s"${l}_n"), lit(0L)).as(s"n_$l"),
            coalesce(col(s"${l}_chars"), lit(0L)).as(s"chars_$l"))): _*)
        .orderBy(col("source"))
    }, {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val cells = langs.flatMap(l => Seq(
        s"sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END)::BIGINT AS n_$l",
        s"sum(CASE WHEN lang = '$l' THEN n_chars ELSE 0 END)::BIGINT AS chars_$l"))
      s"""SELECT source, ${cells.mkString(", ")}
         FROM documents GROUP BY source ORDER BY source"""
    }),

    Query("a18_grouping_sets", (s, dir) => {
      // CUBE over (lang, source) with explicit grouping flags — the
      // subtotal lattice (per cell, per lang, per source, grand total)
      // in ONE aggregation pass; NULL group keys coalesce to 'ALL' so
      // the row identity is engine-independent.
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang_k"),
          coalesce(col("source"), lit("ALL")).as("source_k"),
          col("g_lang"), col("g_source"), col("n"), col("chars"))
        .orderBy(col("lang_k"), col("source_k"))
    },
      """SELECT coalesce(lang, 'ALL') AS lang_k,
           coalesce(source, 'ALL') AS source_k,
           GROUPING(lang)::BIGINT AS g_lang,
           GROUPING(source)::BIGINT AS g_source,
           count(*) AS n, sum(n_chars)::BIGINT AS chars
         FROM documents GROUP BY CUBE (lang, source)
         ORDER BY lang_k, source_k"""),

    Query("a19_token_overlap", (s, dir) => {
      // Cross-strata vocabulary overlap by HLL SET ALGEBRA (beyond the
      // reference): |A∩B| ≈ est(A) + est(B) − est(A∪B) over the same
      // mergeable sketches a14 maintains — the "how much vocabulary do
      // two languages/sources share" matrix WITHOUT a vocab-level
      // join: raw tokens are touched once (one map-side-combined
      // sketch per stratum), the pair matrix is sketch-bytes algebra
      // over #strata² tiny rows. Driver-checkable core (r9 verdict):
      // the exact overlap runs alongside at test SF and the output is
      // (exact_overlap, within_tol) — the sketch estimate still drives
      // within_tol, so the gate fails if sketch accuracy regresses
      // (tolerance = 10% of the exact union, the SketchesSpec
      // compounded-error bound); at 100 TB only the sketch path runs.
      val docs = t(s, dir, "documents")
      val sk = docs
        .select(col("lang"), explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(expr("hll_sketch_agg(tok, 12)").as("sk"))
      val a = sk.select(col("lang").as("lang_a"), col("sk").as("ska"))
      val b = sk.select(col("lang").as("lang_b"), col("sk").as("skb"))
      val est = a.join(b, col("lang_a") < col("lang_b"))
        .select(col("lang_a"), col("lang_b"),
          expr("hll_sketch_estimate(ska)").as("est_a"),
          expr("hll_sketch_estimate(skb)").as("est_b"),
          expr("hll_sketch_estimate(hll_union(ska, skb))").as("est_union"))
        .withColumn("est_overlap",
          greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      val vocab = docs
        .select(col("lang"), explode(TA.tokens(col("text"))).as("tok"))
        .distinct()
      val nv = vocab.groupBy(col("lang")).agg(count(lit(1)).as("nv"))
      val exact = vocab.as("x")
        .join(vocab.as("y"),
          col("x.tok") === col("y.tok") && col("x.lang") < col("y.lang"))
        .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      est
        .join(broadcast(exact), Seq("lang_a", "lang_b"), "left")
        .join(broadcast(nv.select(col("lang").as("lang_a"),
          col("nv").as("_na"))), Seq("lang_a"))
        .join(broadcast(nv.select(col("lang").as("lang_b"),
          col("nv").as("_nb"))), Seq("lang_b"))
        .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
        .select(col("lang_a"), col("lang_b"), col("exact_overlap"),
          (abs(col("est_overlap") - col("exact_overlap")) <=
            (col("_na") + col("_nb") - col("exact_overlap")) * lit(0.10))
            .as("within_tol"))
        .orderBy(col("lang_a"), col("lang_b"))
    },
      // exact pairwise vocabulary overlap via the (lang, tok) vocab
      // self-join; the Spark side checks its HLL inclusion–exclusion
      // estimate against the same exact numbers (10%-of-union bound)
      s"""WITH v AS (
           SELECT DISTINCT lang, tok FROM
             (SELECT lang, unnest(${sqlTokens("text")}) AS tok FROM documents)),
         ov AS (
           SELECT x.lang AS lang_a, y.lang AS lang_b,
             count(*)::BIGINT AS exact_overlap
           FROM v x JOIN v y ON x.tok = y.tok AND x.lang < y.lang
           GROUP BY 1, 2),
         langs AS (SELECT DISTINCT lang FROM documents)
         SELECT a.lang AS lang_a, b.lang AS lang_b,
           coalesce(ov.exact_overlap, 0)::BIGINT AS exact_overlap,
           true AS within_tol
         FROM langs a JOIN langs b ON a.lang < b.lang
         LEFT JOIN ov ON ov.lang_a = a.lang AND ov.lang_b = b.lang
         ORDER BY lang_a, lang_b"""),

    Query("a20_ks_drift", (s, dir) => {
      // Two-sample Kolmogorov–Smirnov length-drift per lang vs the 'en'
      // reference (Sketches.ksDistance): sup |F_lang − F_en| over the
      // per-doc token-count distribution — the shape test ta14's JS
      // divergence can't give (JS sees vocabulary, KS sees any scalar's
      // whole CDF). Token count is integer ⇒ the merged value axis is
      // bounded and the statistic is exact in both engines.
      val d = t(s, dir, "documents")
      Sketches.ksDistance(d, col("lang"), TA.tokenCount(col("text")), "en")
        .select(col("stratum").as("lang"), col("n"),
          fround(col("ks"), 6).as("ks"))
        .orderBy(col("lang"))
    },
      // the KS replay: same distribution table, same merged axis (each
      // compared stratum's counts ∪ the replicated reference counts),
      // integer cumulative sums, two double divisions at the end — the
      // sup is attained at identical points in both engines
      s"""WITH kt AS (SELECT lang AS stratum,
             len(${sqlTokens("text")})::BIGINT AS v FROM documents
           WHERE text IS NOT NULL),
         kcounts AS (SELECT stratum, v, count(*)::BIGINT AS c
           FROM kt GROUP BY 1, 2),
         ${sqlKsCtes("k", "kcounts", "en")}
         SELECT stratum AS lang, n, ${sqlFround("ks_raw", 6)} AS ks
         FROM kks ORDER BY lang"""),

    Query("a21_drift_remix", (s, dir) => {
      // The a20 alert CLOSED into an action (r9 verdict task 3): the
      // same persisted (stratum, v, c) distribution state both raises
      // the Smirnov alarm and re-derives the breached stratum's
      // token-budget mix rate (T = Σ v·c feeds the x1 rate formula);
      // undrifted strata keep their currently-served rate. Served
      // rates are simulated from an earlier ingest prefix
      // (doc_id % 4 ≠ 3) of the same corpus; at this corpus/α one
      // stratum breaches and the rest hold — both branches land in the
      // oracle-checked output. Everything runs on the bounded
      // distribution axis: no corpus rescan, no corpus shuffle.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val cur = Sketches.distributionCounts(d, col("lang"),
        TA.tokenCount(col("text")))
      val prev = Sampling.ratesFromDistribution(
        Sketches.distributionCounts(
          d.filter(pmod(col("doc_id"), lit(4)) =!= 3), col("lang"),
          TA.tokenCount(col("text"))), remixBudgetPct)
      Sampling.driftGatedRates(cur, prev, "en", remixBudgetPct, remixAlpha)
        .select(col("stratum").as("lang"), col("n"),
          fround(col("ks"), 6).as("ks"), col("breached"), col("thr"))
        .orderBy(col("lang"))
    },
      // the drift→action replay: the same distribution table feeds the
      // KS chain AND both rate tables (prefix-simulated served rates,
      // fresh rates); breach = raw ks vs the Smirnov bound with c(α)
      // as a shared driver-side literal; thr switches per branch
      s"""WITH dk AS (SELECT lang AS stratum,
             len(${sqlTokens("text")})::BIGINT AS v FROM documents
           WHERE text IS NOT NULL),
         dc AS (SELECT stratum, v, count(*)::BIGINT AS c
           FROM dk GROUP BY 1, 2),
         pk AS (SELECT lang AS stratum,
             len(${sqlTokens("text")})::BIGINT AS v FROM documents
           WHERE text IS NOT NULL AND doc_id % 4 <> 3),
         pc AS (SELECT stratum, v, count(*)::BIGINT AS c
           FROM pk GROUP BY 1, 2),
         pstats AS (SELECT stratum, sum(v * c)::BIGINT AS t
           FROM pc GROUP BY 1),
         psw AS (SELECT stratum, t,
             floor(sqrt(t::DOUBLE) * 1e6)::BIGINT AS w FROM pstats),
         ptot AS (SELECT sum(t)::BIGINT AS tot, sum(w)::BIGINT AS s
           FROM psw),
         prates AS (SELECT stratum,
             ${operators.Sampling.sqlMixThr("t", "w", "tot", "s",
               remixBudgetPct)} AS thr
           FROM psw CROSS JOIN ptot),
         fstats AS (SELECT stratum, sum(v * c)::BIGINT AS t
           FROM dc GROUP BY 1),
         fsw AS (SELECT stratum, t,
             floor(sqrt(t::DOUBLE) * 1e6)::BIGINT AS w FROM fstats),
         ftot AS (SELECT sum(t)::BIGINT AS tot, sum(w)::BIGINT AS s
           FROM fsw),
         frates AS (SELECT stratum,
             ${operators.Sampling.sqlMixThr("t", "w", "tot", "s",
               remixBudgetPct)} AS thr
           FROM fsw CROSS JOIN ftot),
         ${sqlKsCtes("z", "dc", "en")}
         SELECT f.stratum AS lang,
           coalesce(k.n, nr.n_r) AS n,
           ${sqlFround("coalesce(k.ks_raw, 0.0)", 6)} AS ks,
           coalesce(k.ks_raw, 0.0) >
             ${operators.Sketches.smirnovC(remixAlpha)} * sqrt(
               (coalesce(k.n, nr.n_r) + nr.n_r)::DOUBLE /
               (coalesce(k.n, nr.n_r)::DOUBLE * nr.n_r::DOUBLE))
             AS breached,
           CASE WHEN coalesce(k.ks_raw, 0.0) >
             ${operators.Sketches.smirnovC(remixAlpha)} * sqrt(
               (coalesce(k.n, nr.n_r) + nr.n_r)::DOUBLE /
               (coalesce(k.n, nr.n_r)::DOUBLE * nr.n_r::DOUBLE))
             OR p.thr IS NULL THEN f.thr ELSE p.thr END AS thr
         FROM frates f
         LEFT JOIN zks k USING (stratum)
         CROSS JOIN znr nr
         LEFT JOIN prates p USING (stratum)
         ORDER BY lang"""),

    Query("a22_psi_drift", (s, dir) => {
      // A22 — Population Stability Index per language vs 'en' (the
      // model-monitoring industry standard next to a20's KS and ta14's
      // JS): Σ (p−q)·ln(p/q) over integer log₂ length buckets, add-1
      // smoothed on the corpus-wide axis, PSI ≥ 0.2 = the conventional
      // "significant shift" flag. Order-exact by the ta14 discipline
      // (DetLnD terms on the 2⁻⁴⁰ grid); everything past one
      // map-side-combined bucket count runs on strata × ~60 rows.
      Sketches.psiDrift(t(s, dir, "documents"), col("lang"),
          TA.tokenCount(col("text")), "en")
        .select(col("stratum").as("lang"), col("n_rows").as("n_docs"),
          fround(col("psi"), 6).as("psi"))
        .withColumn("drifted", col("psi") > lit(0.2))
        .orderBy(col("lang"))
    }, {
      // log2 buckets via bin-string length (exact on both engines),
      // add-1 smoothing on the shared axis, detlnd terms on the 2^-40
      // grid — integral-double sums are exact, so psi is order-free
      val toks = sqlTokens("text")
      s"""WITH tk AS (SELECT lang AS stratum,
             len($toks)::BIGINT AS v FROM documents),
         vb AS (SELECT stratum, length(bin(v)) - 1 AS b
           FROM tk WHERE v >= 1),
         sc AS (SELECT stratum, b, count(*)::BIGINT AS c
           FROM vb GROUP BY 1, 2),
         st AS (SELECT stratum, sum(c)::BIGINT AS n FROM sc GROUP BY 1),
         ax AS (SELECT DISTINCT b FROM sc),
         nb AS (SELECT count(*)::BIGINT AS nb FROM ax),
         rc AS (SELECT b, c AS cr FROM sc WHERE stratum = 'en'),
         rn AS (SELECT n AS nr FROM st WHERE stratum = 'en'),
         pairs AS (SELECT s.stratum, s.n,
             (coalesce(x.c, 0) + 1)::DOUBLE / (s.n + nb.nb)::DOUBLE AS p,
             (coalesce(r.cr, 0) + 1)::DOUBLE / (rn.nr + nb.nb)::DOUBLE AS q
           FROM st s CROSS JOIN ax a
           LEFT JOIN sc x ON x.stratum = s.stratum AND x.b = a.b
           LEFT JOIN rc r ON r.b = a.b
           CROSS JOIN nb CROSS JOIN rn),
         terms AS (SELECT stratum, n,
             floor((p - q) * (uln - wln)
               * ${graft.expressions.DetLn.TermGrid} + 0.5) AS tq
           FROM (SELECT stratum, n, p, q,
             ${operators.Classify.sqlDetLnDCols("u", "p")},
             ${operators.Classify.sqlDetLnDCols("w", "q")}
           FROM pairs)),
         psis AS (SELECT stratum, max(n) AS n_docs,
             floor((sum(tq) / ${graft.expressions.DetLn.TermGrid})
               * 1e6 + 0.5) / 1e6 AS psi
           FROM terms GROUP BY stratum)
         SELECT stratum AS lang, n_docs, psi, psi > 0.2 AS drifted
         FROM psis ORDER BY lang"""
    })
  )
}
