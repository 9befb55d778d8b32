package graft
package queries

import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
import graft.operators.{Align, Classify, CountLog, Decontam, Dedup, Embed, Enrich, Health, MergeLog, Packing, Sampling, Similarity, Sketches}
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Family g: end-to-end corpus pipelines and their incremental
  * lifecycle ticks (fused pipeline, training corpus, daily ticks).
  */
object CorpusQueries {

  /** The g2/g3 shared build: decontaminate → quality gate → token-
    * budget mix → bucketed packed starts, one lazy plan per caller
    * (g2 rolls bins up; g3 lands the per-doc layout via the sized
    * sink). See the g2 query for the plan-shape commentary.
    */
  private def g2PackedStarts(s: SparkSession, dir: String,
                             dedup: Boolean = false,
                             tokenGate: Option[Column => Column] = None)
      : DataFrame = {
    val docs = t(s, dir, "documents")
    val train0 = docs.filter(col("doc_id") >= 50)
    // g4 variant: near-dup KEEP-ONE dedup of the train corpus before
    // everything else (the closure is pair-graph-sized work; the eval
    // split is never deduped).
    // NOT staged (r19 §5 A/Bs — the r18 verdict 1a hypothesis, measured
    // and REJECTED): the final plan re-derives the dedup joins once per
    // consumer (decontam report + anti-join + mix/pack re-consumers —
    // 36 SMJs in the fingerprint), but at bench scale that recompute is
    // PARALLEL SLACK on a scheduler-bound chain (~1 busy core over 32
    // slots) while any staging hop adds SEQUENTIAL write+read latency.
    // Both variants lost their paired ABBA A/Bs (4 runs/arm each,
    // min-of-2, quiet AND 16-spinner):
    //   full post-dedup corpus staged (text):  quiet med 7.76 vs 7.31
    //     unstaged; loaded 8.72 vs 7.73;
    //   kept-ids staged + semi-join re-attach:  quiet med 7.16 vs 6.23;
    //     loaded 8.86 vs 7.36.
    // At 100 TB the trade flips (the re-derived subtree is real work,
    // not slack) — g8/g10 already land the staged form of this pipeline
    // as their product, so the staged shape stays covered there.
    val train = if (!dedup) train0
      else Dedup.dupClusters(train0, col("doc_id"), col("text"),
          threshold = 0.5)
        .where(col("kept")).drop("cluster_id", "cluster_size", "kept")
    val clean = Decontam.decontaminate(
      train, docs.filter(col("doc_id") < 50),
      "doc_id", col("text"), n = 5, maxFraction = 0.0)
    // g6 variant: an extra token-derived gate (the trained-classifier
    // evidence filter) rides the SAME select boundary as the heuristic
    // quality score — one tokenization feeds both, and the gate stays
    // a scan-fused predicate (zero new exchanges vs g2)
    val scored = clean
      .select(col("doc_id"), col("lang"), col("text"),
        TA.tokens(col("text")).as("toks"))
      .filter(tokenGate.map(g => g(col("toks"))).getOrElse(lit(true)))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tok"),
        TA.qualityScoreFromTokens(col("toks"), col("text")).as("q"))
      .filter(col("q") >= 0.55)
    val mixed = Sampling.tokenBudgetMix(scored, col("lang"), col("doc_id"),
      col("n_tok"), budgetPct = 50, salt = "g2m")
    Packing.packedStartsBucketed(mixed, col("lang"), col("doc_id"),
      col("n_tok"), bucketWidth = 4096L)
  }

  /** The g9 layout + its RECURRING join (private[graft] so
    * PlanAuditSpec can guard the join subplan alone, pre-rollup): the
    * g2 packed per-doc output and the separately-maintained per-doc
    * metadata table BOTH land as doc_id-bucketed+sorted external
    * tables ([[sources.Buckets]], the s13 layout), so every job that
    * re-joins them — epoch serves, provenance audits, compliance
    * re-checks, the jobs that run per day against a layout written
    * once — plans with ZERO shuffle exchanges on either side. At
    * 100 TB that is the whole point of landing the corpus bucketed:
    * the build pays the doc_id partitioning one time and every
    * recurring enrich join rides it for free.
    */
  private[graft] def g9EnrichJoin(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir("graft_g9")
    // NOT overlapped (r18 §2.6 A/B): the two bucketed lands are
    // independent, but the paired ABBA A/B read a wash (pooled mins
    // 3.79 vs 3.70 s) — kept sequential, which also keeps the two
    // saveAsTable catalog registrations serial.
    sources.Buckets.writeBucketed(
      g2PackedStarts(s, dir)
        .withColumn("bin", expr("start_tok div 2048"))
        .select(col("doc_id"), col("lang"), col("bin"), col("n_tok")),
      "g9_packed", s"$base/packed", "doc_id", 8)
    sources.Buckets.writeBucketed(
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "g9_meta", s"$base/meta", "doc_id", 8)
    sources.Buckets.table(s, "g9_packed")
      .join(sources.Buckets.table(s, "g9_meta").hint("merge"), Seq("doc_id"))
  }

  /** The g11 day-partitioned production store: land the feed + FREEZE
    * the drift reference distribution (private[graft] so the specs can
    * pin DPP pruning and untouched-file identity on a controlled
    * store). `ev` must carry (day DATE, event_type, value, user_id).
    * The reference — the whole initial feed's a20-style (stratum, v, c)
    * value distribution under stratum `__ref` — is pinned at land time
    * ON PURPOSE: restating a day re-scores THAT day against the same
    * yardstick instead of moving the yardstick under every other day,
    * which is exactly what keeps the re-derive single-partition.
    */
  private[graft] def g11Land(ev: DataFrame, base: String): Unit = {
    // NOT overlapped (r18 §2.6 A/B): the store land and the ref build
    // are independent, but both are full `events` scans — run
    // concurrently they contend for the same scan IO/CPU and the
    // paired ABBA A/B read overlap CONSISTENTLY slower (mins 5.43 vs
    // 4.60 s, 4/4 noover runs at or under the best overlap run).
    ev.write.mode("overwrite").partitionBy("day").parquet(s"$base/store")
    operators.Sketches.distributionCounts(ev, lit("__ref"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/ref")
  }

  /** One g11 dashboard slice over `days` (None = every day): per
    * (day, event_type) row counts + value sums, per-day KS drift vs
    * the frozen `__ref` distribution and its Smirnov breach verdict
    * (the a21 discipline — raw ks against the bound, c(α) a shared
    * driver-side literal; ks rounds for display only). The day
    * restriction is a BROADCAST join ON the partition column, so the
    * store scan carries a `dynamicpruning` partition filter — a
    * single-day re-derive reads exactly one partition's files however
    * many days the store holds.
    */
  private[graft] def g11Summary(s: SparkSession, base: String,
                                days: Option[DataFrame]): DataFrame = {
    val store = s.read.parquet(s"$base/store")
    val slice = days.map(dd => store.join(broadcast(dd), "day"))
      .getOrElse(store)
    val roll = slice.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), fround(sum(col("value")), 2).as("sum_v"))
    val ref = s.read.parquet(s"$base/ref")
    val counts = operators.Sketches.distributionCounts(slice,
        col("day").cast("string"), col("value"))
      .unionByName(ref)
    val smir = operators.Sketches.smirnovC(remixAlpha)
    val drift = operators.Sketches.ksFromDistribution(counts, "__ref")
      .crossJoin(broadcast(ref.agg(sum(col("c")).as("_nr"))))
      .select(col("stratum"), fround(col("ks"), 6).as("ks"),
        (col("ks") > lit(smir) *
          sqrt((col("n") + col("_nr")).cast("double") /
            (col("n").cast("double") * col("_nr").cast("double"))))
          .as("breached"))
    roll.join(broadcast(drift),
        roll("day").cast("string") === drift("stratum"))
      .select(col("day"), col("event_type"), col("n"), col("sum_v"),
        col("ks"), col("breached"))
  }

  /** Dirty-text prefix for g1's cleaning stage (the corpus is clean, so
    * LaTeX/entity/non-ASCII input is constructed identically on both
    * sides — the t1 precedent). Contains no single quotes, so it embeds
    * verbatim in a DuckDB string literal.
    */
  private val g1DirtyPrefix = "\\textbf{Note} on $x^2$ &amp; caf\u00e9 "

  /** DuckDB twin of [[graft.functions.TextFunctions.cleanText]] — the
    * T2→T3→T4→T1 regexp_replace chain over expression `e` (same patterns,
    * same order; Java regex and RE2 agree on all five).
    */
  private def sqlClean(e: String): String =
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(" + e +
      """, '\$.*?\$', ' ', 'g'), '\\[a-zA-Z]+\{[^}]*\}', ' ', 'g'), """ +
      """'\\[a-zA-Z]+\s*', ' ', 'g'), '&[a-zA-Z]+;', ' ', 'g'), """ +
      """'[^\x00-\x7F]+', ' ', 'g'), '\s+', ' ', 'g'))"""

  /** `prelude` splices extra CTEs (and the RECURSIVE keyword) right
    * after WITH; `extraKept` adds a predicate to the corpus gate —
    * both used by g4 to fuse the dedup closure upstream of the chain.
    */
  private def sqlG2PackedCtes(prelude: String = "",
                              extraKept: String = ""): String =
    s"""${sqlQualityCtes(prelude)},
       $sqlDecontamCtes,
       kept0 AS (
         SELECT s.doc_id, d.lang, s.n_tokens::BIGINT AS n_tok
         FROM s JOIN documents d ON d.doc_id = s.doc_id
         WHERE s.doc_id >= 50
           AND s.doc_id NOT IN (SELECT doc_id FROM bad)
           $extraKept
           AND $sqlQualityExpr >= 0.55),
       st AS (SELECT lang, sum(n_tok)::BIGINT AS t FROM kept0 GROUP BY lang),
       w AS (SELECT lang, t, floor(sqrt(t) * 1e6)::BIGINT AS wgt FROM st),
       tot AS (SELECT sum(t)::BIGINT AS tot_t, sum(wgt)::BIGINT AS s2 FROM w),
       r AS (SELECT lang,
         ${Sampling.sqlMixThr("t", "wgt", "tot_t", "s2", 50)} AS thr
         FROM w, tot),
       mixed AS (
         SELECT k.doc_id, k.lang, k.n_tok FROM kept0 k JOIN r USING (lang)
         WHERE ('0x' || substr(md5('g2m:' || k.doc_id::VARCHAR), 1, 7))::BIGINT < r.thr),
       packed AS (
         SELECT doc_id, lang, n_tok,
           (sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
             - n_tok AS start_tok
         FROM mixed)"""

  /** The g7/g7x corpus-health replay — all four dashboard blocks; the
    * ta2 quality CTEs feed the drift aggregates, the a15 log-linear
    * bucketing/merge/walk runs over per-doc token counts partitioned by
    * (lang, day), the a16 support-pruned counts yield the deterministic
    * (cnt desc, tok desc) top token, distinct is exact count(DISTINCT).
    * `extraCols` splices additional final-select columns (g7x adds the
    * constant within_tol the Spark side derives from the HLL estimate).
    */
  private def sqlCorpusHealth(extraCols: String): String =
    s"""${sqlQualityCtes()},
         hd AS (
           SELECT doc.lang, doc.doc_id % 7 AS day,
             s.n_tokens::BIGINT AS n_tok, $sqlQualityExpr AS q
           FROM s JOIN documents doc ON s.doc_id = doc.doc_id),
         base AS (
           SELECT lang, day, count(*) AS n_docs,
             ${sqlFround("avg(q)", 6)} AS avg_quality,
             ${sqlFround("avg(CASE WHEN q < 0.5 THEN 1.0 ELSE 0.0 END)", 6)}
               AS low_quality_share,
             sum(n_tok)::BIGINT AS total_tokens
           FROM hd GROUP BY 1, 2),
         qb AS (
           SELECT lang, day,
             (n_tok >> greatest(length(bin(n_tok)) - 6, 0))
               << greatest(length(bin(n_tok)) - 6, 0) AS lo,
             count(*) AS cnt
           FROM hd GROUP BY 1, 2, 3),
         qc AS (
           SELECT lang, day, lo,
             sum(cnt) OVER (PARTITION BY lang, day ORDER BY lo) AS cum,
             sum(cnt) OVER (PARTITION BY lang, day) AS total
           FROM qb),
         qq AS (
           SELECT qc.lang, qc.day, p.p, min(qc.lo) AS q_lo
           FROM qc CROSS JOIN (VALUES (50), (90), (99)) AS p(p)
           WHERE qc.cum * 100 >= p.p * qc.total
           GROUP BY 1, 2, 3),
         qp AS (
           SELECT lang, day,
             max(CASE WHEN p = 50 THEN q_lo END) AS p50_tok_lo,
             max(CASE WHEN p = 90 THEN q_lo END) AS p90_tok_lo,
             max(CASE WHEN p = 99 THEN q_lo END) AS p99_tok_lo,
             max(CASE WHEN p = 99 THEN q_lo
               + (CAST(1 AS BIGINT) << greatest(length(bin(q_lo)) - 6, 0)) END)
               AS p99_tok_hi
           FROM qq GROUP BY 1, 2),
         tok AS (
           SELECT lang, doc_id % 7 AS day, unnest(${sqlTokens("text")}) AS k
           FROM documents),
         counts AS (
           SELECT lang, day, k, count(*) AS cnt FROM tok GROUP BY 1, 2, 3),
         mass AS (
           SELECT lang, day, sum(cnt) AS rows_d FROM counts GROUP BY 1, 2),
         kept AS (
           SELECT c.lang, c.day, c.k, c.cnt
           FROM counts c JOIN mass m USING (lang, day)
           WHERE c.cnt * 200 >= m.rows_d * 1),
         mx AS (
           SELECT lang, day, max(cnt) AS top_tok_cnt FROM kept GROUP BY 1, 2),
         top AS (
           SELECT k2.lang, k2.day, m.top_tok_cnt, max(k2.k) AS top_tok
           FROM kept k2 JOIN mx m
             ON k2.lang = m.lang AND k2.day = m.day AND k2.cnt = m.top_tok_cnt
           GROUP BY 1, 2, 3),
         dist AS (
           SELECT lang, day, count(DISTINCT k)::BIGINT AS distinct_toks
           FROM counts GROUP BY 1, 2)
         SELECT b.lang, b.day, b.n_docs, b.avg_quality, b.low_quality_share,
           b.total_tokens, dist.distinct_toks,
           qp.p50_tok_lo, qp.p90_tok_lo, qp.p99_tok_lo, qp.p99_tok_hi,
           top.top_tok, top.top_tok_cnt$extraCols
         FROM base b
         JOIN qp USING (lang, day)
         JOIN dist USING (lang, day)
         LEFT JOIN top USING (lang, day)
         ORDER BY lang, day"""

  val all: Seq[Query] = Seq(
    Query("g1_fused_pipeline", (s, dir) => {
      // G1 — the reference's end-to-end product (README.md:70-106
      // dataflow) composed as ONE lazy plan: merge-union dedup (D1) →
      // title-hash dedup (D3) → LaTeX/entity/non-ASCII clean + whitespace
      // collapse (T1-T4) → schema align with defaults (P1) → mock keyword
      // enrichment + validation (L2) → quality gate (P3) → per-language
      // stats (A1). Nothing materializes mid-pipeline: every stage is
      // declarative (the enrich step is a lazy mapPartitions over the
      // same iterator), so Catalyst fuses the chain end to end and the
      // only exchanges are the two dedup windows and the final aggregate.
      val d = t(s, dir, "documents")
      val fileA = d.filter(col("doc_id") % 2 === 0)
        .withColumn("file_idx", lit(0L))
      val fileB = d.withColumn("file_idx", lit(1L))
      val ord = col("file_idx") * 1000000L + col("doc_id")
      val merged = Dedup.dedupFirstWins(
        fileA.unionByName(fileB),
        md5(lower(trim(substring(col("text"), 1, 20)))), ord)
      // D3 keys on an OFFSET slice so it is not subsumed by the D1 key
      // (equal 1..20 prefixes already collapsed; 8..31 still can collide).
      val deduped = Dedup.titleHashDedup(merged,
        substring(col("text"), 8, 24), ord)
      val cleaned = deduped.withColumn("clean_text",
        TF.cleanText(concat(lit(g1DirtyPrefix), col("text"))))
      val aligned = Align.alignTo(cleaned, Seq(
        "doc_id" -> lit(-1L),
        "lang" -> lit("und"),
        "license" -> lit("unknown"),
        "n_chars" -> lit(0L),
        "clean_text" -> lit("")))
      val enriched = Enrich.enrichColumn(aligned,
          concat(lit("Extract keywords: "), col("clean_text")), "raw_kw",
          new Enrich.MockKeywordClient(12))
        .withColumn("keywords", Enrich.validateKeywords(col("raw_kw")))
      val kept = Align.gate(enriched, Seq(
        "too_short" -> (col("n_chars") >= 120),
        "few_keywords" -> (size(col("keywords")) >= 3)))
      kept.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          fround(avg(length(col("clean_text"))), 4).as("avg_clean_chars"),
          fround(avg(size(col("keywords"))), 4).as("avg_keywords"),
          sum(size(col("keywords")).cast("long")).as("total_keywords"))
        .orderBy(col("lang"))
    }, {
      val stop = sqlList(Enrich.keywordStopList)
      val clean = sqlClean(s"'$g1DirtyPrefix' || text")
      s"""WITH u AS (
           SELECT doc_id, 0 AS file_idx, text, lang, n_chars
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, 1 AS file_idx, text, lang, n_chars FROM documents),
         m AS (
           SELECT * FROM (
             SELECT u.*, row_number() OVER (
               PARTITION BY md5(lower(trim(substring(text, 1, 20))))
               ORDER BY file_idx * 1000000 + doc_id) AS rn
             FROM u) WHERE rn = 1),
         dd AS (
           SELECT * FROM (
             SELECT m.*, row_number() OVER (
               PARTITION BY md5(lower(trim(substring(text, 8, 24))))
               ORDER BY file_idx * 1000000 + doc_id) AS rn2
             FROM m) WHERE rn2 = 1),
         c AS (
           SELECT doc_id, coalesce(lang, 'und') AS lang, n_chars,
             $clean AS clean_text
           FROM dd),
         raw AS (
           SELECT c.*, array_to_string(list_slice(
             list_filter(string_split_regex(lower(clean_text), '\\s+'),
               x -> len(x) > 3), 1, 12), ',') AS raw_kw
           FROM c),
         v AS (
           SELECT raw.*,
             list_filter(
               list_transform(string_split(raw_kw, ','), x -> trim(x)),
               x -> x <> '' AND len(x) >= 3 AND len(x) <= 50
                 AND NOT list_contains($stop, x)) AS ks
           FROM raw),
         kw AS (
           SELECT v.*, list_slice(
             list_filter(ks, (x, i) -> list_position(ks, x) = i), 1, 8)
             AS keywords
           FROM v),
         kept AS (
           SELECT * FROM kw WHERE n_chars >= 120 AND len(keywords) >= 3)
         SELECT lang, count(*) AS n_docs,
           ${sqlFround("avg(len(clean_text))", 4)} AS avg_clean_chars,
           ${sqlFround("avg(len(keywords))", 4)} AS avg_keywords,
           sum(len(keywords))::BIGINT AS total_keywords
         FROM kept GROUP BY lang ORDER BY lang"""
    }),

    Query("g2_training_corpus", (s, dir) => {
      // G2 — the NORTH-STAR end-to-end product (the 100 TB
      // training-data build, BASELINE.json): benchmark decontamination
      // (tc1) → quality gate (ta2's composite ≥ 0.55) → temperature-
      // weighted token-budget mix (x1) → sequence packing (ta6), as ONE
      // lazy plan. The eval gram set and the per-language rate table
      // both broadcast; the corpus sides never shuffle their text —
      // the only exchanges are the decontamination report's per-doc
      // count, the mix stats aggregate, and the packing windows. The
      // corpus tokenizes twice (once in the probe branch, once shared
      // by gate+mix+packing via a select boundary) — the probe branch
      // is structurally separate, so a single pass would need a cache
      // that costs more than the narrow re-scan.
      Packing.packBins(g2PackedStarts(s, dir), binTokens = 2048L)
        .orderBy(col("lang"), col("bin"))
    }, {
      // decontaminate (tc1 CTEs) → quality gate (ta2 CTEs) → token-
      // budget mix (x1 CTEs) → packing (ta6 window), composed over the
      // same shared Scala constants each stage's standalone oracle uses.
      s"""${sqlG2PackedCtes()}
         SELECT lang, start_tok // 2048 AS bin, count(*) AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens
         FROM packed GROUP BY lang, bin ORDER BY lang, bin"""
    }),

    Query("g3_corpus_store", (s, dir) => {
      // G3 — close the north-star loop: build → STORE → serve. The g2
      // per-doc packed layout LANDS via the size-targeted sink, hive-
      // partitioned by (lang, bin_range-of-8-bins) with doc_id-keyed
      // writer fan-out and a hard per-file row cap, then reads back
      // with schema-on-read. A training job then scans exactly the
      // (lang, bin range) directories of its shard — partition pruning
      // makes reader IO ∝ its slice of the corpus, and the round trip
      // is the identity on the layout columns (the oracle replays the
      // whole build; CompactionSpec pins the file layout).
      val laid = g2PackedStarts(s, dir)
        .withColumn("bin", expr("start_tok div 2048"))
        .withColumn("bin_range", expr("bin div 8"))
      val out = scratchDir("graft_g3")
      sources.Compaction.writeSized(laid, out, Seq("lang", "bin_range"),
        col("doc_id"), targetRows = 1000L, spread = 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, n_tok LONG, start_tok LONG, bin LONG, " +
          "lang STRING, bin_range LONG")
      sources.Compaction.readSized(s, out, schema)
        .select(col("doc_id"), col("lang"), col("bin"), col("bin_range"),
          col("n_tok"), col("start_tok"))
        .orderBy(col("doc_id"))
    }, {
      // same build as g2 through `packed`; the round trip through the
      // sized sink is the identity on the layout columns
      s"""${sqlG2PackedCtes()}
         SELECT doc_id, lang, start_tok // 2048 AS bin,
           (start_tok // 2048) // 8 AS bin_range, n_tok, start_tok
         FROM packed ORDER BY doc_id"""
    }),

    Query("g4_dedup_corpus", (s, dir) => {
      // G4 — g2 with its missing first stage fused in: near-dup
      // KEEP-ONE dedup (the d14 closure) → decontaminate → quality
      // gate → token-budget mix → pack, raw documents to training
      // bins as one product. The dedup prunes the train corpus BEFORE
      // any tokenization-heavy stage runs, so every downstream pass
      // (decontam probe, gate, mix stats, packing windows) works on
      // the deduped sliver — at 100 TB that ordering is the difference
      // between paying the pipeline on the corpus or on its unique
      // fraction. Only the pair graph iterates; corpus text still
      // never shuffles.
      Packing.packBins(g2PackedStarts(s, dir, dedup = true),
          binTokens = 2048L)
        .orderBy(col("lang"), col("bin"))
    }, {
      // the d14 closure (band CTEs + recursive reachability) computed
      // over the train split only, spliced as a prelude into the g2
      // chain; kept0 additionally requires cluster-canonical doc_ids
      val prelude =
        s"""RECURSIVE traindocs AS (
             SELECT doc_id, text FROM documents WHERE doc_id >= 50),
           ${sqlMinhashBandCtes("traindocs", "g4_")},
           g4cand AS (
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sig AS sa, b.sig AS sb
             FROM g4_bucketed a JOIN g4_bucketed b
               ON a.bk = b.bk AND a.doc_id < b.doc_id),
           g4edges AS (
             SELECT id_a AS ea, id_b AS eb FROM g4cand
             WHERE list_sum(list_transform(generate_series(1, 16),
               i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / 16.0
               >= 0.5),
           g4sym AS (SELECT ea, eb FROM g4edges
             UNION SELECT eb AS ea, ea AS eb FROM g4edges),
           g4reach(id, r) AS (
             SELECT ea, eb FROM g4sym
             UNION
             SELECT t.id, s2.eb FROM g4reach t
               JOIN g4sym s2 ON t.r = s2.ea),
           g4comp AS (SELECT id, min(r) AS mr FROM g4reach GROUP BY id),
           g4kept AS (
             SELECT d.doc_id FROM traindocs d
             LEFT JOIN g4comp c ON d.doc_id = c.id
             WHERE least(coalesce(c.mr, d.doc_id), d.doc_id) = d.doc_id),
           """
      s"""${sqlG2PackedCtes(prelude,
             "AND s.doc_id IN (SELECT doc_id FROM g4kept)")}
         SELECT lang, start_tok // 2048 AS bin, count(*) AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens
         FROM packed GROUP BY lang, bin ORDER BY lang, bin"""
    }),

    Query("g5_training_batches", (s, dir) => {
      // G5 — the serve schedule: g2's packed bins put into the epoch-1
      // training order. Bins (not docs) shuffle — the unit a loader
      // fetches — via the x2 epoch-salted hash sort into 4 uniform
      // shards with dense per-shard positions. Still one lazy plan on
      // top of the g2 chain; the only additions are the bin rollup and
      // the shard window.
      val bins = g2PackedStarts(s, dir)
        .withColumn("bin", expr("start_tok div 2048"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      Sampling.epochShuffle(bins,
          concat_ws(":", col("lang"), col("bin")), epoch = 1, numShards = 4)
        .select(col("lang"), col("bin"), col("n_docs"), col("n_tokens"),
          col("shard"), col("pos"))
        .orderBy(col("lang"), col("bin"))
    },
      s"""${sqlG2PackedCtes()},
         bins AS (
           SELECT lang, start_tok // 2048 AS bin, count(*) AS n_docs,
             sum(n_tok)::BIGINT AS n_tokens
           FROM packed GROUP BY lang, bin),
         hs AS (SELECT lang, bin, n_docs, n_tokens,
             ('0x' || substr(md5('ep:1:' || lang || ':' || bin::VARCHAR),
               1, 7))::BIGINT AS hh
           FROM bins),
         sx AS (SELECT lang, bin, n_docs, n_tokens, hh,
             (hh * 4) // ${1L << 28} AS shard FROM hs)
         SELECT lang, bin, n_docs, n_tokens, shard,
           (row_number() OVER (PARTITION BY shard
             ORDER BY hh, lang || ':' || bin::VARCHAR) - 1)::BIGINT AS pos
         FROM sx ORDER BY lang, bin"""),

    Query("g6_steered_corpus", (s, dir) => {
      // G6 — g2 with a TRAINED steering gate on top of the heuristic
      // one (the GPT-3-style upgrade: rule gates first, a learned
      // filter above them): the DSIR target/raw LMs collapse to
      // serving weights (contract-tiny collect, like tc1's grams and
      // v11's centroids), and docs must show ABOVE-CORPUS-AVERAGE
      // target affinity — mean per-token log ratio past the corpus
      // mean, both rounded (scale-free: at sf-size corpora the
      // Laplace term biases every raw ratio negative, so an absolute
      // 0 threshold is meaningless; the relative gate is the honest
      // contract at any scale). The gate rides the SAME select
      // boundary as the heuristic score: one tokenization feeds both,
      // and the classifier adds ZERO exchanges to the g2 plan — the
      // weights and the threshold are literals.
      val docs = t(s, dir, "documents")
      val w = Classify.collectDsirWeights(docs, col("text"),
        col("lang") <=> "en", 4096)
      val thr = fround(
        avg(fround(Classify.dsirColumn(col("text"), w, 4096), 6)), 6)
      val thrVal = docs.agg(thr).head().getDouble(0)
      Packing.packBins(
          g2PackedStarts(s, dir, tokenGate = Some(toks =>
            fround(Classify.dsirColumnFromTokens(toks, w, 4096), 6)
              > lit(thrVal))),
          binTokens = 2048L)
        .orderBy(col("lang"), col("bin"))
    }, {
      // the DSIR chain (prefixed q6, same constants as tq2) splices
      // into the g2 prelude; the steering gate — rounded per-doc mean
      // log ratio above the rounded corpus mean — becomes one more
      // kept0 membership condition
      val prelude =
        s"""${sqlDsirCtes("q6")},
           q6ev AS (SELECT doc_id, ${sqlFround("w", 6)} AS ev
             FROM q6sc),
           q6thr AS (SELECT ${sqlFround("avg(ev)", 6)} AS thr FROM q6ev),
           q6keep AS (SELECT doc_id FROM q6ev CROSS JOIN q6thr
             WHERE ev > thr),
           """
      s"""${sqlG2PackedCtes(prelude,
             "AND s.doc_id IN (SELECT doc_id FROM q6keep)")}
         SELECT lang, start_tok // 2048 AS bin, count(*) AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens
         FROM packed GROUP BY lang, bin ORDER BY lang, bin"""
    }),

    Query("g7_corpus_health", (s, dir) => {
      // G7 — the round-8 sketch families composed into the dashboard
      // row a corpus operator actually reads: per (lang, day) volume/
      // quality drift (the w4 signals), log-linear token-count
      // quantiles (the a15 lifecycle), the support-pruned top token
      // (a16), and exact distinct tokens. Every column is
      // deterministic integer / floored arithmetic ⇒ full DuckDB
      // oracle replaying all four blocks AND the broadcast sketch-join
      // assembly. g7x is the same frame on the 100 TB distinct path.
      Health.corpusHealth(t(s, dir, "documents"),
          col("lang"), pmod(col("doc_id"), lit(7)), col("text"))
        .withColumnRenamed("stratum", "lang")
        .orderBy(col("lang"), col("day"))
    },
      // Replays all four dashboard blocks: the ta2 quality CTEs feed
      // the drift aggregates; the a15 log-linear bucketing/merge/walk
      // runs over per-doc token counts partitioned by (lang, day); the
      // a16 support-pruned counts yield the deterministic (cnt desc,
      // tok desc) top token; distinct is exact count(DISTINCT).
      sqlCorpusHealth("")),

    Query("g7x_corpus_health_hll", (s, dir) => {
      // G7x — g7 with the distinct-token column computed on the a14
      // HLL union path: the 100 TB form (history never rescans; the
      // sketch is the mergeable unit). Driver-checkable core (r9
      // verdict): the exact per-(lang, day) distinct runs alongside at
      // test SF; the output carries g7's exact columns plus within_tol
      // driven by the HLL estimate (the HealthSpec 5% bound), so
      // check.py hash-verifies the whole dashboard AND a sketch
      // regression flips the boolean; at 100 TB only the HLL path runs.
      val docs = t(s, dir, "documents")
      val exact = docs
        .select(col("lang"), pmod(col("doc_id"), lit(7)).as("day"),
          explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("day"))
        .agg(countDistinct(col("tok")).as("_exact"))
      Health.corpusHealth(docs,
          col("lang"), pmod(col("doc_id"), lit(7)), col("text"),
          distinctViaHll = true)
        .withColumnRenamed("stratum", "lang")
        .join(broadcast(exact), Seq("lang", "day"))
        .withColumn("within_tol",
          abs(col("distinct_toks") - col("_exact")) <=
            col("_exact") * lit(0.05))
        .withColumn("distinct_toks", col("_exact"))
        .drop("_exact")
        .orderBy(col("lang"), col("day"))
    },
      // g7's exact replay plus the constant within_tol column — the
      // Spark side computes the boolean from the HLL estimate vs the
      // same exact distinct, so a sketch-accuracy regression fails the
      // hash compare (r9 verdict task 2).
      sqlCorpusHealth(", true AS within_tol")),

    Query("g8_ingest_corpus", (s, dir) => {
      // G8 — the BATCH TWIN of the streaming production ingest path
      // (Streams.productionIngestSink), giving that pipeline a full
      // oracle anchor: near-dup keep-one over the corpus (the empty-
      // index bootstrap case of the d18 probe = d14 closure), then the
      // TRAINED NB gate as the stateless serving column (literal
      // weights from the tq1 keyed-split model; gate on the ROUNDED
      // log-odds so the cut is engine-independent), then the w4 drift
      // account over survivors. Same build order as the sink: dedup
      // before scoring, drift on what lands.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val gate = Classify.collectWeights(Classify.trainModel(
        d.filter(isTrain), col("lang") <=> "en", col("text"), nbBuckets))
      // the g6 gate convention: keep docs with ABOVE-CORPUS-MEAN target
      // affinity (rounded on both sides) — scale-free where a fixed
      // log-odds cut is not (the Laplace term shifts raw scores with
      // document length and corpus size). Dedup + scoring STAGE once
      // (the g10/tq7 discipline, r14): the mean and the filter each
      // consume the scored frame, and the drift account consumes the
      // gated frame again — unstaged, every consumer re-ran the
      // pair-graph closure AND the tokenize+NB score.
      val staged = scratchDir("graft_g8")
      Dedup.dupClusters(d.select(col("doc_id"), col("text")),
          col("doc_id"), col("text"), threshold = 0.5)
        .where(col("kept"))
        .select(col("doc_id"), col("text"),
          fround(TF.letBound(TA.tokens(col("text")))(toks =>
            Classify.scoreColumnFromTokens(toks, gate, nbBuckets)), 6)
            .as("_lo6"))
        .write.mode("overwrite").parquet(staged)
      val scored = s.read.parquet(staged)
      val gated = scored
        .crossJoin(broadcast(
          scored.agg(fround(avg(col("_lo6")), 6).as("_m6"))))
        .filter(col("_lo6") > col("_m6"))
        .withColumn("ts",
          expr("timestampadd(MINUTE, doc_id, TIMESTAMP '2024-01-01 00:00:00')"))
      graft.streaming.Streams.qualityDrift(gated, col("ts"), col("text"),
          windowLen = "1 hour", qualityFloor = 0.5)
        .orderBy(col("window_start"))
    }, {
      // The streaming ingest path's batch oracle: the d14/g4 closure
      // over ALL documents (near-dup keep-one), the tq1 model counts
      // scoring every kept doc (train split fits, everything scores —
      // matching the literal-weight serving gate), the w4 drift tail
      // over rounded-log-odds survivors.
      val prelude =
        s"""RECURSIVE g8docs AS (SELECT doc_id, text FROM documents),
           ${sqlMinhashBandCtes("g8docs", "g8_")},
           g8cand AS (
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sig AS sa, b.sig AS sb
             FROM g8_bucketed a JOIN g8_bucketed b
               ON a.bk = b.bk AND a.doc_id < b.doc_id),
           g8edges AS (
             SELECT id_a AS ea, id_b AS eb FROM g8cand
             WHERE list_sum(list_transform(generate_series(1, 16),
               i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / 16.0
               >= 0.5),
           g8sym AS (SELECT ea, eb FROM g8edges
             UNION SELECT eb AS ea, ea AS eb FROM g8edges),
           g8reach(id, r) AS (
             SELECT ea, eb FROM g8sym
             UNION
             SELECT t.id, s2.eb FROM g8reach t
               JOIN g8sym s2 ON t.r = s2.ea),
           g8comp AS (SELECT id, min(r) AS mr FROM g8reach GROUP BY id),
           g8kept AS (
             SELECT d.doc_id FROM g8docs d
             LEFT JOIN g8comp c ON d.doc_id = c.id
             WHERE least(coalesce(c.mr, d.doc_id), d.doc_id) = d.doc_id),
           ${sqlNbModelCtes("g8m_")},
           ${sqlNbWiCtes("g8m_")},
           g8docf AS (SELECT doc_id, f, count(*)::BIGINT AS c
             FROM g8m_f
             WHERE doc_id IN (SELECT doc_id FROM g8kept)
             GROUP BY 1, 2),
           g8sc AS (SELECT doc_id, ${sqlNbLo("g8m_")} AS lo
             FROM g8docf LEFT JOIN g8m_nw USING (f) CROSS JOIN g8m_nd
             GROUP BY doc_id),
           g8sc6 AS (SELECT doc_id, ${sqlFround("lo", 6)} AS lo6
             FROM g8sc),
           g8m AS (SELECT ${sqlFround("avg(lo6)", 6)} AS m6 FROM g8sc6),
           g8gated AS (SELECT doc_id FROM g8sc6, g8m WHERE lo6 > m6),
           """
      s"""${sqlQualityCtes(prelude)},
         g8q AS (
           SELECT TIMESTAMP '2024-01-01 00:00:00'
               + s.doc_id * INTERVAL 1 MINUTE AS ts,
             $sqlQualityExpr AS qv, s.n_tokens AS ntok
           FROM s WHERE s.doc_id IN (SELECT doc_id FROM g8gated))
         SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n_docs,
           floor(avg(qv) * 100.0 + 0.5) / 100.0 AS avg_quality,
           floor(avg(ntok * 1.0) * 100.0 + 0.5) / 100.0 AS avg_tokens,
           floor(avg(CASE WHEN qv < 0.5 THEN 1.0 ELSE 0.0 END) * 100.0 + 0.5)
             / 100.0 AS low_quality_share
         FROM g8q GROUP BY 1 ORDER BY window_start"""
    }),

    Query("g9_bucketed_enrich", (s, dir) => {
      // G9 — the s13 layout put to work in the fused product (r9
      // verdict task 6): g2's packed per-doc output and the per-doc
      // provenance metadata table land ONCE as doc_id-bucketed
      // external tables, then the recurring enrich join (the shape an
      // epoch serve or compliance audit replays daily against the
      // stored corpus) merges them with ZERO shuffle exchanges on
      // either side — PlanAuditSpec pins the exchange-free SMJ — and
      // rolls up the served corpus's provenance mix: docs, token
      // mass, and mean length per (lang, source). The oracle replays
      // the whole build from raw tables, so the bucketed round trip
      // is proven lossless THROUGH the join.
      g9EnrichJoin(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          fround(avg(col("n_chars")), 2).as("avg_chars"))
        .orderBy(col("lang"), col("source"))
    },
      // same build as g2 through `packed`; the bucketed store + merge
      // join must reproduce a plain join against the raw tables
      s"""${sqlG2PackedCtes()}
         SELECT p.lang, d.source, count(*) AS n_docs,
           sum(p.n_tok)::BIGINT AS n_tokens,
           ${sqlFround("avg(d.n_chars)", 2)} AS avg_chars
         FROM packed p JOIN documents d ON p.doc_id = d.doc_id
         GROUP BY p.lang, d.source
         ORDER BY p.lang, d.source"""),

    Query("g10_daily_tick", (s, dir) => {
      // G10 — the production DAY TICK as one oracled product: the
      // day's batch flows through g8's pipeline (near-dup keep-one →
      // trained above-mean gate → land) and the SAME landed set feeds
      // the operator dashboard — per-language in/dedup-dropped/
      // gate-dropped/landed counts, the Smirnov KS drift verdict vs
      // the reference stratum, and the drift-GATED remix rate (a21's
      // action running on what actually landed, with the full-corpus
      // rates as "yesterday's served" baseline). This is the one table
      // an operator reads every morning; every number in it is
      // DuckDB-replayed. Scale shape: the pipeline is g8's (pair-graph
      // dedup, literal-weight gate, no corpus-wide windows); the
      // dashboard tail runs entirely on stratum-count and bounded
      // distribution tables.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      // dedup and land STAGE to scratch (the tq7 discipline): the
      // dashboard has four consumers of the kept set and two of the
      // landed set — at 100 TB the post-dedup and landed corpora are
      // tables you land anyway, and re-deriving the pair-graph closure
      // per consumer would multiply the most expensive stage.
      // r15: the labeling stage carries a TokenCount column computed
      // in the SAME corpus scan and lands ALL rows (kept flag +
      // n_tok_in, text alongside) — so the per-lang input counts and
      // prev's full-corpus token census below read the staged table
      // instead of rescanning + re-tokenizing the source corpus. That
      // was the last full-corpus rescan in any lifecycle query (r14
      // verdict #4); the labeled table is the dedup audit artifact a
      // production tick lands anyway.
      // r18: the gate TRAIN has no dependency on the dedup/label land —
      // overlapped so the train's jobs back-fill the pair-graph
      // closure's idle slots (guide §2.6)
      val base = scratchDir("graft_g10")
      val (gate, _) = Frames.overlap {
        Classify.collectWeights(Classify.trainModel(
          d.filter(isTrain), col("lang") <=> "en", col("text"), nbBuckets))
      } {
        Dedup.dupClusters(
            d.select(col("doc_id"), col("lang"), col("text"),
              TA.tokenCount(col("text")).cast("long").as("n_tok_in")),
            col("doc_id"), col("text"), threshold = 0.5)
          .select(col("doc_id"), col("lang"), col("text"),
            col("n_tok_in"), col("kept"))
          .write.mode("overwrite").parquet(s"$base/labeled")
      }
      val labeled = s.read.parquet(s"$base/labeled")
      val kept = labeled.where(col("kept"))
        .select(col("doc_id"), col("lang"), col("text"))
      // ONE bound tokenize per kept row feeds BOTH the gate score and
      // n_tok (CollapseProject keeps the multi-use alias materialized);
      // n_tok rides the landed write, so the drift stage below never
      // re-tokenizes the landed corpus (r13; r15 folded prev's
      // baseline census into the labeled stage above, so NO stage
      // tokenizes the corpus more than once).
      kept
        .select(col("doc_id"), col("lang"),
          TA.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), col("lang"),
          fround(Classify.scoreColumnFromTokens(col("_toks"), gate,
            nbBuckets), 6).as("_lo6"),
          size(col("_toks")).cast("long").as("n_tok"))
        // STAGE the scored frame (r14): the gate consumes it twice —
        // the broadcast mean AND the filter — and each consumer would
        // re-run the tokenize+NB-score pipeline over the kept corpus
        // from parquet; one columnar write is cheaper than a second
        // full scoring pass, and at 100 TB the scored table is the
        // audit artifact you land anyway (why did this doc gate out?).
        // Both the scored and landed stages are NARROW (ids + scores +
        // n_tok, no text): every dashboard consumer below reads counts
        // and n_tok only, and the kept store already holds the text —
        // the landed corpus at 100 TB is kept ⋈ landed ids, a
        // re-write-free projection.
        .write.mode("overwrite").parquet(s"$base/scored")
      val scored = s.read.parquet(s"$base/scored")
      scored
        .crossJoin(broadcast(
          scored.agg(fround(avg(col("_lo6")), 6).as("_m6"))))
        .filter(col("_lo6") > col("_m6"))
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .write.mode("overwrite").parquet(s"$base/landed")
      val landed = s.read.parquet(s"$base/landed")
      // every full-corpus dashboard input reads the staged labeled
      // table (labels cover EVERY input row, so per-lang counts over
      // it equal counts over the source)
      val nIn = labeled.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
      val nKept = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      val nLand = landed.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_landed"))
      val prev = Sampling.ratesFromDistribution(
        Sketches.distributionCounts(labeled, col("lang"),
          col("n_tok_in")), remixBudgetPct)
      val drift = Sampling.driftGatedRates(
        Sketches.distributionCounts(landed, col("lang"), col("n_tok")),
        prev, "en", remixBudgetPct, remixAlpha)
      nIn
        .join(nKept, Seq("lang"), "left")
        .join(nLand, Seq("lang"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .withColumn("n_landed", coalesce(col("n_landed"), lit(0L)))
        .select(col("lang"), col("n_in"),
          (col("n_in") - col("n_kept")).as("n_dedup_dropped"),
          (col("n_kept") - col("n_landed")).as("n_gate_dropped"),
          col("n_landed"))
        .join(broadcast(drift.select(col("stratum").as("lang"),
          fround(col("ks"), 6).as("ks"), col("breached"), col("thr"))),
          Seq("lang"), "left")
        .orderBy(col("lang"))
    }, {
      // g8's pipeline prelude (closure + NB gate) feeding the operator
      // dashboard: per-lang counts, the a21 KS/breach/remix tail with
      // dc = the LANDED distribution and prates = the full-corpus
      // "yesterday served" baseline
      val smir = operators.Sketches.smirnovC(remixAlpha)
      val breachExpr =
        s"""coalesce(k.ks_raw, 0.0) > $smir * sqrt(
           (coalesce(k.n, nr.n_r) + nr.n_r)::DOUBLE /
           (coalesce(k.n, nr.n_r)::DOUBLE * nr.n_r::DOUBLE))"""
      s"""WITH RECURSIVE gtdocs AS (SELECT doc_id, text FROM documents),
         ${sqlMinhashBandCtes("gtdocs", "gt_")},
         gtcand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sa, b.sig AS sb
           FROM gt_bucketed a JOIN gt_bucketed b
             ON a.bk = b.bk AND a.doc_id < b.doc_id),
         gtedges AS (
           SELECT id_a AS ea, id_b AS eb FROM gtcand
           WHERE list_sum(list_transform(generate_series(1, 16),
             i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / 16.0
             >= 0.5),
         gtsym AS (SELECT ea, eb FROM gtedges
           UNION SELECT eb AS ea, ea AS eb FROM gtedges),
         gtreach(id, r) AS (
           SELECT ea, eb FROM gtsym
           UNION
           SELECT t.id, s2.eb FROM gtreach t
             JOIN gtsym s2 ON t.r = s2.ea),
         gtcomp AS (SELECT id, min(r) AS mr FROM gtreach GROUP BY id),
         gtkept AS (
           SELECT d.doc_id FROM gtdocs d
           LEFT JOIN gtcomp c ON d.doc_id = c.id
           WHERE least(coalesce(c.mr, d.doc_id), d.doc_id) = d.doc_id),
         ${sqlNbModelCtes("gtm_")},
         ${sqlNbWiCtes("gtm_")},
         gtdocf AS (SELECT doc_id, f, count(*)::BIGINT AS c
           FROM gtm_f
           WHERE doc_id IN (SELECT doc_id FROM gtkept)
           GROUP BY 1, 2),
         gtsc AS (SELECT doc_id, ${sqlNbLo("gtm_")} AS lo
           FROM gtdocf LEFT JOIN gtm_nw USING (f) CROSS JOIN gtm_nd
           GROUP BY doc_id),
         gtsc6 AS (SELECT doc_id, ${sqlFround("lo", 6)} AS lo6 FROM gtsc),
         gtmn AS (SELECT ${sqlFround("avg(lo6)", 6)} AS m6 FROM gtsc6),
         gtgated AS (SELECT doc_id FROM gtsc6, gtmn WHERE lo6 > m6),
         land AS (SELECT d.doc_id, d.lang, d.text FROM documents d
           JOIN gtgated g ON d.doc_id = g.doc_id),
         keptl AS (SELECT d.doc_id, d.lang FROM documents d
           JOIN gtkept g ON d.doc_id = g.doc_id),
         nin AS (SELECT lang, count(*)::BIGINT AS n_in
           FROM documents GROUP BY 1),
         nk AS (SELECT lang, count(*)::BIGINT AS n_kept
           FROM keptl GROUP BY 1),
         nl AS (SELECT lang, count(*)::BIGINT AS n_landed
           FROM land GROUP BY 1),
         pk AS (SELECT lang AS stratum,
             len(${sqlTokens("text")})::BIGINT AS v
           FROM documents WHERE text IS NOT NULL),
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
         dk AS (SELECT lang AS stratum,
             len(${sqlTokens("text")})::BIGINT AS v
           FROM land WHERE text IS NOT NULL),
         dc AS (SELECT stratum, v, count(*)::BIGINT AS c
           FROM dk GROUP BY 1, 2),
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
         ${sqlKsCtes("z", "dc", "en")},
         drift AS (
           SELECT f.stratum AS lang,
             ${sqlFround("coalesce(k.ks_raw, 0.0)", 6)} AS ks,
             $breachExpr AS breached,
             CASE WHEN $breachExpr OR p.thr IS NULL
               THEN f.thr ELSE p.thr END AS thr
           FROM frates f
           LEFT JOIN zks k USING (stratum)
           CROSS JOIN znr nr
           LEFT JOIN prates p USING (stratum))
         SELECT n.lang, n.n_in,
           n.n_in - coalesce(k2.n_kept, 0) AS n_dedup_dropped,
           coalesce(k2.n_kept, 0) - coalesce(l2.n_landed, 0)
             AS n_gate_dropped,
           coalesce(l2.n_landed, 0) AS n_landed,
           dr.ks, dr.breached, dr.thr
         FROM nin n
         LEFT JOIN nk k2 USING (lang)
         LEFT JOIN nl l2 USING (lang)
         LEFT JOIN drift dr USING (lang)
         ORDER BY n.lang"""
    }),

    Query("g11_restated_day", (s, dir) => {
      // G11 — the BACKFILL product, fusing s16's dynamic restatement,
      // s14's DPP-pruned reads and the a20/a21 drift state into the
      // operation a 100 TB operator actually runs: one day's feed was
      // bad, so restate THAT day and re-derive the dashboard/drift
      // rows for THAT day — reading and rewriting exactly one
      // partition of each store while every other day's files stay
      // byte-identical (spec-pinned, with the `dynamicpruning` scan
      // guard). Flow: land the feed day-partitioned + freeze the
      // drift reference → build the full dashboard (per-day counts /
      // sums / KS-vs-ref / Smirnov breach) → the corrected feed
      // (even-user rows of the earliest day, the s16 convention; the
      // day never touches the driver) dynamic-overwrites its store
      // partition → the summary re-derive joins the store against the
      // broadcast day frame (DPP prunes the scan to day=d0) and
      // dynamic-overwrites only that summary partition. Output is the
      // read-back dashboard; the oracle replays land+restate+KS
      // relationally.
      val base = scratchDir("graft_g11")
      val ev = t(s, dir, "events").select(
        to_date(col("ts")).as("day"), col("event_type"), col("value"),
        col("user_id"))
      g11Land(ev, base)
      // the summary table is BOUNDED (days × types rows): land it one
      // file per day, not one per (day × shuffle partition) — a
      // partitionBy write straight off the roll/drift join would spray
      // ~32 tiny files into every day directory, and the read-back plus
      // the dynamic-overwrite re-derive pay the opens (r15; paired A/B
      // measured parity locally at sf0.1, the file count is the 100 TB
      // argument). The raw STORE keeps its parallel fan-out — at scale
      // a day is bigger than one writer.
      g11Summary(s, base, None).repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$base/summary")
      val d0 = ev.groupBy().agg(min(col("day")).as("day"))
      ev.join(broadcast(d0), "day").filter(col("user_id") % 2 === 0)
        .write.mode("overwrite").partitionBy("day")
        .option("partitionOverwriteMode", "dynamic").parquet(s"$base/store")
      g11Summary(s, base, Some(d0)).repartition(col("day"))
        .write.mode("overwrite").partitionBy("day")
        .option("partitionOverwriteMode", "dynamic").parquet(s"$base/summary")
      s.read.parquet(s"$base/summary")
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("n"), col("sum_v"), col("ks"), col("breached"))
        .orderBy(col("day"), col("event_type"))
    }, {
      // land + single-day restatement replayed relationally (the s16
      // shape), then the a20 KS chain per day vs the FROZEN whole-feed
      // reference and the a21 breach rule with c(α) as a shared
      // driver-side literal; v discretized exactly like
      // Sketches.distributionCounts at scale 0
      val smir = operators.Sketches.smirnovC(remixAlpha)
      s"""WITH ev AS (
           SELECT (ts::TIMESTAMP)::DATE AS day, event_type, value, user_id
           FROM events),
         d0 AS (SELECT min(day) AS day FROM ev),
         store AS (
           SELECT * FROM ev WHERE day <> (SELECT day FROM d0)
           UNION ALL
           SELECT * FROM ev
           WHERE day = (SELECT day FROM d0) AND user_id % 2 = 0),
         roll AS (
           SELECT day, event_type, count(*)::BIGINT AS n,
             ${sqlFround("sum(value)", 2)} AS sum_v
           FROM store GROUP BY 1, 2),
         dc AS (
           SELECT day::VARCHAR AS stratum,
             floor(value * 1.0 + 0.5)::BIGINT AS v, count(*)::BIGINT AS c
           FROM store WHERE value IS NOT NULL GROUP BY 1, 2
           UNION ALL
           SELECT '__ref', floor(value * 1.0 + 0.5)::BIGINT AS v,
             count(*)::BIGINT AS c
           FROM ev WHERE value IS NOT NULL GROUP BY 2),
         ${sqlKsCtes("g", "dc", "__ref")},
         drift AS (
           SELECT k.stratum, ${sqlFround("k.ks_raw", 6)} AS ks,
             k.ks_raw > $smir * sqrt((k.n + nr.n_r)::DOUBLE /
               (k.n::DOUBLE * nr.n_r::DOUBLE)) AS breached
           FROM gks k CROSS JOIN gnr nr)
         SELECT r.day::VARCHAR AS day, r.event_type, r.n, r.sum_v,
           d.ks, d.breached
         FROM roll r JOIN drift d ON r.day::VARCHAR = d.stratum
         ORDER BY day, event_type"""
    }),

    Query("g12_vector_tick", (s, dir) => {
      // G12 — the combined DOCUMENT + VECTOR day tick: the one batch
      // that g10 lands and annIngestSink indexes, as a single oracled
      // product (the r11 verdict's missing lifecycle). Flow: the day's
      // batch dedups against the standing corpus (d9's bloom-prefilter
      // shape — exactly batch ANTI JOIN corpus for any fpp), survives
      // a minimum-substance gate, LANDS to the corpus store, EMBEDS
      // (the v12 engine-side batch-encode path), APPENDS into the
      // persisted IVF index as one commit-gated segment — and the
      // append is immediately REPLAYED with the same batch id inside
      // the query: the gate makes it a no-op, and the dashboard's
      // n_indexed (counted from the index AS A READER SEES IT,
      // commit-pruned) would break its oracle if replay ever
      // double-landed. The tick then probes the index with the
      // batch's own vectors (frozen centroids decay against the
      // newest data first), scores recall@5 vs exact brute cosine
      // over the full corpus, and emits the operator dashboard:
      // per-lang in/dedup-dropped/gate-dropped/landed counts plus the
      // index row count and mean recall. mean_recall divides exact
      // integer sums (Σhit/Σexact) — no order-dependent float
      // accumulation. Scale shape: bloom probe is scan-fused, the
      // index append is O(batch), probes touch nprobe/C of the lists,
      // and the exact-recall pass is query-batch × corpus — the v1
      // broadcast brute shape, priced per tick, not per doc.
      val d = t(s, dir, "documents")
      val inCorpus = Sampling.keyHash(col("doc_id"), "g12c") <
        Sampling.threshold(0.6)
      val ckey = md5(lower(trim(substring(col("text"), 1, 20))))
      val base = scratchDir("graft_g12")
      val corpus = d.filter(inCorpus)
        .select(col("doc_id"), col("lang"), col("text"), ckey.as("ck"))
      val batch = d.filter(!inCorpus)
        .select(col("doc_id"), col("lang"), col("text"), ckey.as("ck"))
      def embed(df: DataFrame) = Embed.embedColumn(df, col("text"), "emb",
        new Embed.MockHashEmbeddingClient(dim = 8), batchSize = 32)
      val corpusEmb = embed(corpus.select(col("doc_id"), col("text")))
      val idx = s"$base/ivf"
      // STAGE dedup survivors and the landed set (the g10 discipline:
      // both have multiple dashboard consumers). The corpus-side IVF
      // build (centroid seed + index land) touches neither staged dir —
      // overlapped with the batch-side staging chain (guide §2.6); the
      // two meet again only at the append below.
      Frames.overlap {
        val cents = corpusEmb.orderBy(col("doc_id")).limit(4)
          .select(col("doc_id"), col("emb").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
          .toSeq
        Similarity.saveIvfIndex(corpusEmb, col("doc_id"), col("emb"), cents,
          idx, targetRows = 10000L, spread = 2)
      } {
        Dedup.incrementalDedup(batch, corpus, "ck",
            expectedItems = 100000, fpp = 0.01)
          .write.mode("overwrite").parquet(s"$base/deduped")
        s.read.parquet(s"$base/deduped")
          .filter(TA.tokenCount(col("text")) >= 10)
          .select(col("doc_id"), col("lang"), col("text"))
          .write.mode("overwrite").parquet(s"$base/landed")
      }: Unit
      val deduped = s.read.parquet(s"$base/deduped")
      val landed = s.read.parquet(s"$base/landed")
      val landedEmb = embed(landed.select(col("doc_id"), col("text")))
      Similarity.appendIvfIndex(s, idx, landedEmb, col("doc_id"),
        col("emb"), targetRows = 10000L, spread = 2,
        batchId = Some(1L)): Unit
      // crash-replay of the same batch id: MUST no-op (commit-gated)
      Similarity.appendIvfIndex(s, idx, landedEmb, col("doc_id"),
        col("emb"), targetRows = 10000L, spread = 2,
        batchId = Some(1L)): Unit
      val queries = landedEmb.orderBy(col("doc_id")).limit(5)
        .select(col("doc_id").as("query_id"), col("emb").as("qv"))
      val approx = Similarity.ivfTopKIndexed(s, idx, queries,
        col("query_id"), col("qv"), k = 5, nprobe = 2)
      val exact = Similarity.topKPerQuery(
        corpusEmb.unionByName(landedEmb), col("doc_id"), col("emb"),
        queries, col("query_id"), col("qv"), k = 5)
      val tick = Similarity.recallAtK(approx, exact, k = 5)
        .agg(sum(col("n_hit")).as("_h"), sum(col("n_exact")).as("_e"))
        .crossJoin(broadcast(Similarity.ivfIndexedRows(s, idx)
          .agg(count(lit(1)).as("n_indexed"))))
        .select(col("n_indexed"),
          fround(when(col("_e") > 0,
            col("_h").cast("double") / col("_e").cast("double"))
            .otherwise(lit(1.0)), 6).as("mean_recall"))
      val nIn = batch.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
      val nDd = deduped.groupBy(col("lang")).agg(count(lit(1)).as("n_dd"))
      val nLand = landed.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_landed"))
      nIn
        .join(nDd, Seq("lang"), "left")
        .join(nLand, Seq("lang"), "left")
        .withColumn("n_dd", coalesce(col("n_dd"), lit(0L)))
        .withColumn("n_landed", coalesce(col("n_landed"), lit(0L)))
        .select(col("lang"), col("n_in"),
          (col("n_in") - col("n_dd")).as("n_dedup_dropped"),
          (col("n_dd") - col("n_landed")).as("n_gate_dropped"),
          col("n_landed"))
        .crossJoin(broadcast(tick))
        .orderBy(col("lang"))
    }, {
      // the combined doc+vector tick replayed relationally: hash-split
      // corpus/batch, content-key anti-join (the bloom path is exactly
      // this for any fpp), substance gate, mock-hash embeds, centroid
      // assignment = the committed index (save + exactly-one append),
      // frozen-centroid probe vs exact brute cosine, integer-sum mean
      // recall
      val keep = s"('0x' || substr(md5('g12c:' || doc_id::VARCHAR), 1, 7))" +
        s"::BIGINT < ${Sampling.threshold(0.6)}"
      s"""WITH corpus AS (SELECT doc_id, lang, text,
             md5(lower(trim(substr(text, 1, 20)))) AS ck
           FROM documents WHERE $keep),
         batch AS (SELECT doc_id, lang, text,
             md5(lower(trim(substr(text, 1, 20)))) AS ck
           FROM documents WHERE NOT ($keep)),
         dd AS (SELECT doc_id, lang, text FROM batch b
           WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.ck = b.ck)),
         landed AS (SELECT doc_id, lang, text FROM dd
           WHERE len(${sqlTokens("text")}) >= 10),
         cemb AS (SELECT doc_id, ${sqlMockEmbedding("text", 8)} AS v
           FROM corpus),
         lemb AS (SELECT doc_id, ${sqlMockEmbedding("text", 8)} AS v
           FROM landed),
         cents AS (SELECT doc_id AS cid, v AS cv FROM cemb
           ORDER BY doc_id LIMIT 4),
         allemb AS (SELECT doc_id, v FROM cemb
           UNION ALL SELECT doc_id, v FROM lemb),
         assign AS (
           SELECT doc_id, v, cid FROM (
             SELECT a.doc_id, a.v, c.cid, row_number() OVER (
               PARTITION BY a.doc_id
               ORDER BY ${sqlCosine("a.v", "c.cv", 8)} DESC, c.cid) AS rn
             FROM allemb a, cents c) WHERE rn = 1),
         q AS (SELECT doc_id AS query_id, v AS qv FROM lemb
           ORDER BY doc_id LIMIT 5),
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT query_id, qv, cid, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine("qv", "cv", 8)} DESC, cid) AS rn
             FROM q, cents) WHERE rn <= 2),
         approx AS (
           SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine("v", "qv", 8)} DESC, doc_id) AS rank
             FROM probes JOIN assign USING (cid)) WHERE rank <= 5),
         exact AS (
           SELECT query_id, doc_id FROM (
             SELECT query_id, a.doc_id, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine("a.v", "q.qv", 8)} DESC, a.doc_id)
                 AS rank
             FROM allemb a, q) WHERE rank <= 5),
         rec AS (
           SELECT e.query_id, count(*)::BIGINT AS n_exact,
             count(a.doc_id)::BIGINT AS n_hit
           FROM exact e LEFT JOIN approx a USING (query_id, doc_id)
           GROUP BY e.query_id),
         tick AS (
           SELECT (SELECT count(*) FROM allemb)::BIGINT AS n_indexed,
             CASE WHEN sum(n_exact) > 0 THEN
               ${sqlFround("sum(n_hit)::DOUBLE / sum(n_exact)::DOUBLE", 6)}
             ELSE 1.0 END AS mean_recall
           FROM rec),
         nin AS (SELECT lang, count(*)::BIGINT AS n_in FROM batch
           GROUP BY 1),
         ndd AS (SELECT lang, count(*)::BIGINT AS n_dd FROM dd GROUP BY 1),
         nld AS (SELECT lang, count(*)::BIGINT AS n_landed FROM landed
           GROUP BY 1)
         SELECT i.lang, i.n_in,
           i.n_in - coalesce(d.n_dd, 0) AS n_dedup_dropped,
           coalesce(d.n_dd, 0) - coalesce(l.n_landed, 0) AS n_gate_dropped,
           coalesce(l.n_landed, 0) AS n_landed,
           t.n_indexed, t.mean_recall
         FROM nin i LEFT JOIN ndd d USING (lang)
           LEFT JOIN nld l USING (lang) CROSS JOIN tick t
         ORDER BY i.lang"""
    }),

    Query("g13_decontam_tick", (s, dir) => {
      // G13 — eval-set protection as a LIFECYCLE (beyond the
      // reference): tc1 answers "is this corpus contaminated against
      // today's benchmarks"; g13 answers the production question —
      // a NEW benchmark arrives, only ITS grams probe the corpus, and
      // the verdicts land in a versioned quarantine MANIFEST
      // (MergeLog) instead of a report that goes stale. Tick 1: the
      // standing eval split (id < 50) flags its overlap set → the log
      // base. Tick 2: a new benchmark — verbatim 20-token excerpts of
      // corpus docs (% 61), the realistic worst case — probes and
      // lands as delta batch 1; a doc flagged by both attributes to
      // the NEWEST benchmark (last-wins upsert). The tick-2 append is
      // then REPLAYED with the same batch id but POISONED content
      // (version-99 tombstones for every flagged doc): the commit
      // gate must no-op it — if a replayed committed batch ever
      // landed, the tombstones would erase every v2 row from the
      // dashboard and break the oracle. Dashboard: per (eval_v, lang)
      // quarantined docs + matched-gram mass. Scale shape: benchmarks
      // are MBs vs a TB corpus, so each probe is one corpus scan with
      // a broadcast gram set (the tc1 shape), the manifest append is
      // O(flagged), and the corpus text never shuffles.
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 100)
        .select(col("doc_id"), col("lang"), col("text"))
      val eval1 = d.filter(col("doc_id") < 50).select(col("text"))
      val eval2 = d
        .filter(col("doc_id") >= 100 && pmod(col("doc_id"), lit(61)) === 0)
        .select(array_join(slice(TA.tokens(col("text")), 1, 20), " ")
          .as("text"))
      def flagged(ev: DataFrame, v: Long) =
        Decontam.contaminationReport(corpus, ev, col("doc_id"),
            col("text"), n = 5)
          .filter(col("n_matched") > 0)
          .select(col("id").as("doc_id"), col("n_matched"),
            lit(v).as("eval_v"))
      val log = scratchDir("graft_g13") + "/qlog"
      MergeLog.init(flagged(eval1, 1L), log)
      val d2 = flagged(eval2, 2L)
        .withColumn("version", lit(2L)).withColumn("deleted", lit(false))
      MergeLog.appendDelta(d2, log, Some(1L)): Unit
      // crash-replay of batch 1 with poisoned tombstones: MUST no-op
      MergeLog.appendDelta(
        d2.withColumn("version", lit(99L)).withColumn("deleted", lit(true)),
        log, Some(1L)): Unit
      MergeLog.read(s, log, "doc_id")
        .join(corpus.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("eval_v"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_matched")).as("sum_matched"))
        .orderBy(col("eval_v"), col("lang"))
    }, {
      // both contamination probes replayed relationally (the tc1
      // string-gram twin of the Spark hash-gram join), last-wins
      // attribution (v2 overrides v1 per doc — the upsert), then the
      // per-(eval_v, lang) rollup; if the poisoned replay batch ever
      // landed, every v2 row would vanish and this replay would not
      // match
      val toks = sqlTokens("text")
      s"""WITH g AS (SELECT doc_id, lang, list_distinct(list_transform(
             generate_series(1, len($toks) - 4),
             i -> array_to_string(list_slice($toks, i, i + 4), ' ')))
             AS grams
           FROM documents),
         corp AS (SELECT doc_id, lang, grams FROM g WHERE doc_id >= 100),
         ev1 AS (SELECT DISTINCT unnest(grams) AS gram FROM g
           WHERE doc_id < 50),
         e2x AS (SELECT array_to_string(list_slice($toks, 1, 20), ' ')
             AS text
           FROM documents WHERE doc_id >= 100 AND doc_id % 61 = 0),
         g2 AS (SELECT list_distinct(list_transform(
             generate_series(1, len($toks) - 4),
             i -> array_to_string(list_slice($toks, i, i + 4), ' ')))
             AS grams
           FROM e2x),
         ev2 AS (SELECT DISTINCT unnest(grams) AS gram FROM g2),
         ct AS (SELECT doc_id, unnest(grams) AS gram FROM corp),
         m1 AS (SELECT ct.doc_id, count(e.gram)::BIGINT AS n_matched
           FROM ct LEFT JOIN ev1 e ON ct.gram = e.gram
           GROUP BY ct.doc_id HAVING count(e.gram) > 0),
         m2 AS (SELECT ct.doc_id, count(e.gram)::BIGINT AS n_matched
           FROM ct LEFT JOIN ev2 e ON ct.gram = e.gram
           GROUP BY ct.doc_id HAVING count(e.gram) > 0),
         comb AS (
           SELECT doc_id, n_matched, 2::BIGINT AS eval_v FROM m2
           UNION ALL
           SELECT doc_id, n_matched, 1::BIGINT AS eval_v FROM m1
           WHERE doc_id NOT IN (SELECT doc_id FROM m2))
         SELECT eval_v, c.lang, count(*)::BIGINT AS n_docs,
           sum(n_matched)::BIGINT AS sum_matched
         FROM comb JOIN corp c USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""
    }),

    Query("g14_takedown_tick", (s, dir) => {
      // G14 — the TAKEDOWN day tick as one replay-idempotent product
      // (beyond the reference; the compliance-lifecycle sibling of
      // g10-g13, composing c9 + MergeLog): the corpus serves from a
      // CDC store; a notice batch names individual doc_ids; the c9
      // closure widens each notice to its whole near-dup cluster
      // (removing one copy leaves its near-copies serving the same
      // content); the removals land as ONE batch-keyed tombstone
      // delta (O(batch)); a crash-replay of the same batch id with
      // POISONED all-docs tombstones must no-op at the commit gate —
      // if it ever landed, n_after would collapse to 0 and break the
      // oracle. The dashboard row re-reads the STORE, so the oracle
      // checks land → closure → CDC apply → replay gate → read-back
      // end to end. Scale shape: the closure is banded (d6 pairs +
      // star rounds), the tombstone delta is notice-sized, the store
      // read is base ⊕ delta with the snapshot never shuffling.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val store = scratchDir("graft_g14") + "/store"
      MergeLog.init(docs, store)
      val removed = Dedup.dupClusters(
          docs.select(col("doc_id"), col("text")),
          col("doc_id"), col("text"), threshold = 0.5)
        .withColumn("direct",
          Sampling.keyHash(col("doc_id"), "g14") <
            Sampling.threshold(0.08))
        .withColumn("hit", max(when(col("direct"), 1L).otherwise(0L))
          .over(Window.partitionBy(col("cluster_id"))))
        .filter(col("hit") === 1L)
        .select(col("doc_id"), col("direct"))
        .localCheckpoint(eager = false)
      val tomb = removed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("text"),
          lit(1L).as("version"), lit(true).as("deleted"))
      MergeLog.appendDelta(tomb, store, Some(1L)): Unit
      // crash-replay of batch 1, poisoned: the commit gate must no-op
      MergeLog.appendDelta(
        docs.select(col("doc_id"), col("lang"), col("text"),
          lit(9L).as("version"), lit(true).as("deleted")),
        store, Some(1L)): Unit
      val after = MergeLog.read(s, store, "doc_id")
      val byLang = removed
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang")).agg(
          sum(when(col("direct"), 1L).otherwise(0L)).as("n_direct"),
          sum(when(!col("direct"), 1L).otherwise(0L)).as("n_closure"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
        .join(byLang, Seq("lang"), "left")
        .join(after.groupBy(col("lang")).agg(count(lit(1)).as("n_after")),
          Seq("lang"), "left")
        .select(col("lang"), col("n_before"),
          coalesce(col("n_direct"), lit(0L)).as("n_direct"),
          coalesce(col("n_closure"), lit(0L)).as("n_closure"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
        .orderBy(col("lang"))
    },
      // the c9 closure chain with the g14 notice sample; n_after is
      // the independent relational ground truth n_before − removed —
      // equality proves the CDC apply, the poisoned-replay no-op and
      // the store read-back all land exactly there
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         edges AS (SELECT id_a AS ea, id_b AS eb FROM mh_pairs
           WHERE est_jaccard >= 0.5),
         sym AS (SELECT ea, eb FROM edges
           UNION SELECT eb AS ea, ea AS eb FROM edges),
         reach(id, r) AS (
           SELECT ea, eb FROM sym
           UNION
           SELECT t.id, s.eb FROM reach t JOIN sym s ON t.r = s.ea),
         comp AS (SELECT id, min(r) AS mr FROM reach GROUP BY id),
         lab AS (SELECT d.doc_id,
             least(coalesce(c.mr, d.doc_id), d.doc_id) AS cluster_id,
             ${Sampling.sqlKeyHash("d.doc_id::VARCHAR", "g14")} <
               ${Sampling.threshold(0.08)} AS direct
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         hit AS (SELECT cluster_id,
             max(CASE WHEN direct THEN 1 ELSE 0 END) AS h
           FROM lab GROUP BY cluster_id),
         rm AS (SELECT l.doc_id, l.direct
           FROM lab l JOIN hit h USING (cluster_id) WHERE h.h = 1),
         bf AS (SELECT lang, count(*)::BIGINT AS n_before
           FROM documents GROUP BY lang),
         rl AS (SELECT d.lang,
             sum(CASE WHEN rm.direct THEN 1 ELSE 0 END)::BIGINT
               AS n_direct,
             sum(CASE WHEN rm.direct THEN 0 ELSE 1 END)::BIGINT
               AS n_closure
           FROM rm JOIN documents d USING (doc_id) GROUP BY d.lang)
         SELECT bf.lang, bf.n_before,
           coalesce(rl.n_direct, 0)::BIGINT AS n_direct,
           coalesce(rl.n_closure, 0)::BIGINT AS n_closure,
           (bf.n_before - coalesce(rl.n_direct, 0)
             - coalesce(rl.n_closure, 0))::BIGINT AS n_after
         FROM bf LEFT JOIN rl USING (lang)
         ORDER BY lang"""),

    Query("g15_pack_tick", (s, dir) => {
      // G15 — the PACKED-STREAM day tick (beyond the reference; the
      // index-lifecycle discipline applied to x15's packing): the
      // packed corpus is a SERVED artifact — training shards address
      // tokens by global offset — so the day's batch must APPEND at
      // the stream's high-water token offset and never restate an
      // earlier placement. History (doc_id % 17 != 0) lands as
      // segment 0; the delta day appends as segment 1 from the stored
      // per-segment token totals (one committed text file per segment,
      // read with no Spark job, never a store rescan); a crash-replay
      // of the delta batch id must no-op at the commit gate — if it
      // double-appended, every delta row would appear twice and the
      // oracle's row count would break. Output = the read-back store with x15's span columns;
      // the oracle replays the two-phase prefix sum relationally, so
      // equality proves land → high-water append → replay gate →
      // read-back end to end.
      val store = scratchDir("graft_g15") + "/packed"
      val d = t(s, dir, "documents").select(col("doc_id"),
        TA.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.appendPacked(s, store,
        d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
        col("doc_id"), col("n_tok"), batchId = 0L)
      Packing.appendPacked(s, store,
        d.filter(pmod(col("doc_id"), lit(17)) === 0),
        col("doc_id"), col("n_tok"), batchId = 1L)
      // replay of the committed delta: complete no-op
      Packing.appendPacked(s, store,
        d.filter(pmod(col("doc_id"), lit(17)) === 0),
        col("doc_id"), col("n_tok"), batchId = 1L)
      Packing.packedSpans(Packing.packedStore(s, store), seqLen = 512L)
        .select(col("seg"), col("doc_id"), col("n_tok"),
          col("start_tok"), col("seq_first"), col("off_in_seq"))
        .orderBy(col("doc_id"))
    },
      // two shared packed-starts prefix sums: history, then the delta
      // day offset by the history total — the relational twin of
      // land -> high-water append -> read-back
      s"""WITH ${sqlPackedStarts("h", "doc_id % 17 <> 0")},
         ${sqlPackedStarts("dl0", "doc_id % 17 = 0")},
         ht AS (SELECT coalesce(sum(n_tok), 0)::BIGINT AS tot FROM h),
         dl AS (
           SELECT doc_id, n_tok,
             (SELECT tot FROM ht) + start_tok AS start_tok
           FROM dl0),
         u AS (
           SELECT 0::BIGINT AS seg, * FROM h
           UNION ALL SELECT 1::BIGINT AS seg, * FROM dl)
         SELECT seg, doc_id, n_tok, start_tok,
           start_tok // 512 AS seq_first,
           start_tok % 512 AS off_in_seq
         FROM u ORDER BY doc_id"""),

    Query("g16_cusum_tick", (s, dir) => {
      // G16 — the CUSUM monitor as a LIFECYCLE (x17's g-discipline
      // twin): the per-(type, day) value census lives in a CountLog —
      // history is the base, each day's tick appends ONE O(batch)
      // partial-count delta, one day arrives SPLIT across two partial
      // appends (integer sums are associative, so split batches fold
      // exactly), and a crash-replay of a committed day with POISONED
      // ×1000 counts must no-op at the commit gate or the means break
      // the oracle. The alarm re-derives from the folded daily table —
      // bounded at types × days rows — so monitoring absorbs a day
      // without ever rescanning raw event history. The oracle is the
      // SAME from-scratch x17 SQL over raw events: incremental ==
      // batch, checked end to end.
      val log = scratchDir("graft_g16") + "/log"
      // one materialized scan feeds the base build + six day appends
      // (seven consumers otherwise re-read and re-project the events
      // parquet per append); freed before returning — the result
      // reads only the CountLog.
      val ev = t(s, dir, "events").select(col("event_type"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"),
        col("user_id"),
        expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("vm"))
        .localCheckpoint(eager = true)
      def counts(df: DataFrame) = df
        .groupBy(col("event_type"), col("day_us"))
        .agg(sum(col("vm")).as("vsum"), count(lit(1)).as("n"))
      // bounded driver read (the fixpoint-probe discipline): one max.
      // The five tick days synthesize arithmetically as cut + i·86400s,
      // which assumes every civil day is exactly 86400 s — true ONLY
      // under GraftSession's UTC session-TZ pin (date_trunc in a DST
      // zone yields 23/25 h days and the synthesized ticks would miss
      // them). The oracle's date_trunc chain shares the same pin.
      val lastDay = ev.agg(max(col("day_us"))).head().getLong(0)
      val cut = lastDay - 4L * 86400000000L
      CountLog.init(counts(ev.filter(col("day_us") < cut)), log)
      for (i <- 0 until 5) {
        val day = ev.filter(col("day_us") === cut + i * 86400000000L)
        if (i == 2) { // split-day: two disjoint partial-count appends
          CountLog.append(counts(day.filter(pmod(col("user_id"),
            lit(2L)) === 0L)), log, Some(20L + i))
          CountLog.append(counts(day.filter(pmod(col("user_id"),
            lit(2L)) === 1L)), log, Some(100L + i))
        } else CountLog.append(counts(day), log, Some(20L + i))
      }
      // poisoned replay of committed day 0 — the gate must no-op
      CountLog.append(
        counts(ev.filter(col("day_us") === cut))
          .withColumn("vsum", col("vsum") * 1000L), log, Some(20L))
      graft.Frames.free(ev)
      cusumFromDaily(
        CountLog.read(s, log, Seq("event_type", "day_us"))
          .select(col("event_type"), col("day_us"),
            expr(floorDiv("vsum", "n")).as("mean_micro")))
    },
      // incremental == batch: the tick's CountLog fold must reproduce
      // the from-scratch chain over raw events bit-for-bit
      sqlCusumAlarm)
  )
}
