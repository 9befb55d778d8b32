package graft
package queries

import graft.functions.{TextAnalysis => TA}
import graft.operators.{Classify, Dedup, Packing, Rag, Sampling, Sketches}
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Family x: training-data mixing and sampling (curricula, DSIR and
  * DoReMi reweighting, splits, packing, CUSUM alarm).
  */
object MixQueries {

  /** Shared head of the x5 DSIR chain (r13): the fitted weights with
    * the 6dp logratio as an exact BIGINT (micro units) — the only form
    * the ranked chain consumes now, so no red query carries any float
    * cell.
    */
  private def dsirMicroFrame(s: SparkSession, dir: String): DataFrame =
    Classify.dsirWeights(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("lang") <=> "en", 4096)
      .select(col("doc_id"), col("n_tok"),
        microFloor(col("avg_logratio")).as("logratio_micro"))

  /** x8 DoReMi-style reweighting constants: hashed-unigram model width,
    * multiplicative-update temperature η, iteration count — shared by
    * the query and its unrolled oracle chain.
    */
  private val x8Buckets = 4096
  private val x8Eta = 4.0
  private val x8Iters = 5

  /** x4 split fractions + salt — shared by the Spark query and its
    * oracle so the cumulative thresholds are generated from one place.
    */
  private val x4Cuts = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val x4Salt = "spl"

  /** The two-sample KS CTE chain over a `(stratum, v, c)` counts
    * relation vs `ref` (the Sketches.ksFromDistribution replay, shared
    * by a20/a21): merged axis, integer cumulative sums, two double
    * divisions. Ends in `${p}ks(stratum, n, ks_raw)` and
    * `${p}nr(n_r)`; callers round `ks_raw`.
    */
  /** The x8/x9 DoReMi chain as reusable CTEs (cnt model, grid q, a0,
    * and the unrolled multiplicative ticks ending in `a<iters>`), all
    * MATERIALIZED — the chained a_t references would otherwise inline
    * exponentially in DuckDB (measured 6 min -> 0.3 s at sf0.01).
    */
  private def sqlDomainReweightCtes: String = {
    val iterCtes = (1 to x8Iters).map { t =>
      s"""p$t AS MATERIALIZED (SELECT q.b, sum(a.a * q.q) AS p
           FROM q JOIN a${t - 1} a USING (d) GROUP BY q.b),
         tv$t AS MATERIALIZED (SELECT q.d,
             floor((0.5 * sum(abs(q.q - p.p))) * 1e6 + 0.5) / 1e6 AS tv
           FROM q JOIN p$t p USING (b) GROUP BY q.d),
         r$t AS MATERIALIZED (SELECT a.d,
             a.a * ${operators.Sampling.sqlDetExp(s"$x8Eta * tv.tv")} AS raw,
             tv.tv AS tv
           FROM a${t - 1} a JOIN tv$t tv USING (d)),
         a$t AS MATERIALIZED (SELECT d,
             floor((raw / (SELECT sum(raw) FROM r$t)) * 1e6 + 0.5) / 1e6
               AS a, tv
           FROM r$t)"""
    }.mkString(",\n")
    s"""cnt AS MATERIALIZED (
         SELECT lang AS d, ${operators.Classify.sqlFeatHash("tok", x8Buckets)} AS b,
           count(*)::BIGINT AS c
         FROM (SELECT lang, unnest(${sqlTokens("text")}) AS tok
           FROM documents)
         GROUP BY 1, 2),
       nd AS (SELECT d, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
       bs AS (SELECT DISTINCT b FROM cnt),
       q AS MATERIALIZED (SELECT g.d, g.b,
           CAST(coalesce(cnt.c, 0) AS DOUBLE) / CAST(nd.n AS DOUBLE) AS q
         FROM (SELECT nd.d, bs.b FROM nd CROSS JOIN bs) g
         LEFT JOIN cnt ON cnt.d = g.d AND cnt.b = g.b
         JOIN nd ON nd.d = g.d),
       a0 AS (SELECT d,
           floor((1.0 / (SELECT count(*) FROM nd)) * 1e6 + 0.5) / 1e6 AS a
         FROM nd),
       $iterCtes"""
  }

  val all: Seq[Query] = Seq(
    Query("x1_corpus_mix", (s, dir) => {
      // Temperature-weighted corpus mixing to a 50% token budget
      // (beyond the reference): per-language keep rates ∝ √tokens,
      // capped at 1, then the usual deterministic hash cut. Exact
      // BIGINT sums + one IEEE divide per language = the oracle
      // replays the rate arithmetic bit-for-bit.
      Sampling.tokenBudgetMix(
          t(s, dir, "documents"),
          col("lang"), col("doc_id"), TA.tokenCount(col("text")),
          budgetPct = 50, salt = "mix7")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH tok AS (
           SELECT doc_id, lang, len($toks)::BIGINT AS ntok FROM documents),
         st AS (SELECT lang, sum(ntok)::BIGINT AS t FROM tok GROUP BY lang),
         w AS (SELECT lang, t, floor(sqrt(t) * 1e6)::BIGINT AS wgt FROM st),
         tot AS (SELECT sum(t)::BIGINT AS tot_t, sum(wgt)::BIGINT AS s FROM w),
         r AS (SELECT lang,
           ${Sampling.sqlMixThr("t", "wgt", "tot_t", "s", 50)} AS thr
           FROM w, tot)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE ('0x' || substr(md5('mix7:' || d.doc_id::VARCHAR), 1, 7))::BIGINT < r.thr
         ORDER BY d.doc_id"""
    }),

    Query("x2_epoch_shuffle", (s, dir) => {
      // Deterministic per-epoch global shuffle (beyond the reference):
      // the training-order permutation as an epoch-salted hash sort —
      // reproducible across runs/partitionings, shards uniformly sized
      // by contiguous hash ranges, per-shard dense positions via a
      // shard-parallel window (never a global sort).
      Sampling.epochShuffle(
          t(s, dir, "documents").select(col("doc_id")),
          col("doc_id"), epoch = 1, numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    },
      s"""WITH h AS (SELECT doc_id,
           ('0x' || substr(md5('ep:1:' || doc_id::VARCHAR), 1, 7))::BIGINT AS hh
         FROM documents),
         s AS (SELECT doc_id, hh, (hh * 8) // ${1L << 28} AS shard FROM h)
         SELECT doc_id, shard,
           (row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1)::BIGINT
             AS pos
         FROM s ORDER BY doc_id"""),

    Query("x3_curriculum", (s, dir) => {
      // Curriculum serve schedule (beyond the reference; Bengio et al.
      // 2009): exact score-quantile phases served easy→hard, the
      // epoch-shuffle permutation within each phase. Easiness here is
      // doc brevity — score = -(n_tok div 10), the length-curriculum
      // convention, bucketed to tens so the distinct-score census
      // stays bounded. The corpus never shuffles for the phase
      // assignment: the census aggregates distinct scores and the
      // phase table broadcast-joins back.
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tok"))
        .select(col("doc_id"), expr("-(n_tok div 10)").as("sc"))
      Sampling.curriculumSchedule(d, col("doc_id"), col("sc"),
          phases = 4, epoch = 1, numShards = 8)
        .orderBy(col("id"))
    }, {
      // Replays the phase census (strictly-greater cumulative count ×
      // phases div total), the cur:1-salted 28-bit hash, the contiguous
      // shard ranges, and the per-(phase, shard) dense rank. Both `div`s
      // see nonnegative operands, so DuckDB's flooring `//` matches
      // Spark's truncating `div`.
      val toks = sqlTokens("text")
      s"""WITH d AS (SELECT doc_id AS id,
           -(len($toks)::BIGINT // 10) AS s FROM documents),
         cen AS (SELECT s, count(*)::BIGINT AS n FROM d GROUP BY s),
         cum AS (SELECT s, coalesce(sum(n) OVER (ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS cum FROM cen),
         ph AS (SELECT s, (cum * 4) // (SELECT count(*) FROM d) AS phase
           FROM cum),
         h AS (SELECT id, d.s, phase,
           ('0x' || substr(md5('cur:1:' || id::VARCHAR), 1, 7))::BIGINT AS hh
           FROM d JOIN ph ON d.s = ph.s),
         sh AS (SELECT id, s, phase, hh, (hh * 8) // ${1L << 28} AS shard
           FROM h)
         SELECT id, s AS score, phase, shard,
           (row_number() OVER (PARTITION BY phase, shard
             ORDER BY hh, id) - 1)::BIGINT AS pos
         FROM sh ORDER BY id"""
    }),

    Query("x4_cluster_split", (s, dir) => {
      // Leakage-safe train/val/test split (beyond the reference): the
      // cut is keyed by the d14 NEAR-DUP CLUSTER label, not the doc id,
      // so a near-duplicate pair can never straddle the split — the
      // train/eval contamination that doc-keyed splits silently
      // reintroduce after dedup-aware pipelines paid to find the pairs.
      // The split itself is a scan-fused when-chain over the labeled
      // frame: zero exchanges beyond the labeling's own.
      Sampling.clusterSplit(
          Dedup.dupClusters(
            t(s, dir, "documents").select(col("doc_id"), col("text")),
            col("doc_id"), col("text"), threshold = 0.5),
          col("cluster_id"), x4Cuts, x4Salt)
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy(col("doc_id"))
    },
      // d14's recursive-CTE closure for the cluster labels, then the
      // shared cumulative-threshold CASE over the label hash
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
             least(coalesce(c.mr, d.doc_id), d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         SELECT doc_id, cluster_id,
           ${Sampling.sqlClusterSplit("cluster_id::VARCHAR", x4Cuts, x4Salt)}
             AS split
         FROM lab ORDER BY doc_id"""),

    // The r13 x5 bisect diagnostics (x5da–x5de) lived here until x5
    // was driver-green a full round (CORRECTNESS_r14); removed per
    // their own retirement clause. tq2/tq5 remain x5's standing
    // upstream controls.
    Query("x5_dsir_token_resample", (s, dir) => {
      // The published DSIR recipe end-to-end (Xie et al. 2023): fit the
      // importance weights (tq2), resample by Efraimidis–Spirakis key
      // (tq5) — but stop at a TOKEN budget (25% of corpus tokens), the
      // paper's actual target, not a row count. The cut decomposes
      // into a census over the bounded rounded-key spine plus a
      // within-key prefix sum (never a global corpus sort); output
      // rows carry start_tok, so the selection IS the serve schedule.
      // The KEYED weights stage to scratch first (the g10/tq7
      // discipline): the budget cut consumes the keyed frame three
      // times (census, total, prefix), and staging runs the tokenize-
      // heavy fit AND the md5+sqrt-chain key projection once — at
      // 100 TB both are tq2-style landed artifacts anyway.
      // r13: the whole ranked chain is BIGINT — logratio rides as
      // micro units and the key computes via the SelKeyFixed integer
      // kernels, so no float cell (or engine float behavior) is left
      // anywhere in this query's lineage past the 6dp quantization.
      val staged = scratchDir("graft_x5")
      Sampling.withSelectionKeyLogW(dsirMicroFrame(s, dir),
          col("doc_id"), lit(2L) * col("logratio_micro"), "dsir")
        .write.mode("overwrite").parquet(staged)
      Sampling.tokenBudgetCut(s.read.parquet(staged), col("doc_id"),
          col("n_tok"), budgetPct = 25)
        .select(col("doc_id"), col("n_tok"), col("logratio_micro"),
          col("sel_key"), col("start_tok"))
        .orderBy(col("sel_key"), col("doc_id"))
    },
      // tq5's weights and pure-integer selection key, the token-budget
      // stopping rule: per-bucket token census over sel_key >> 31,
      // cumulative mass of strictly earlier buckets, within-bucket
      // prefix sum by (sel_key, doc_id), keep start_tok < 25% of
      // total tokens (start-before-budget). All output cells BIGINT.
      s"""WITH wgt AS ($sqlDsirWeightsMicro FROM sc),
         sel AS (SELECT doc_id, n_tok, logratio_micro,
             ${operators.Sampling.sqlSelKeyColsLogW("doc_id",
                "2 * logratio_micro", "dsir")}
           FROM wgt),
         ${operators.Sampling.sqlTokenBudgetCut("sel", "s.doc_id", 25)}
         SELECT doc_id, n_tok, logratio_micro, sel_key, start_tok
         FROM cut ORDER BY sel_key, doc_id"""),

    Query("x6_curriculum_sketch", (s, dir) => {
      // x3's curriculum re-phased from MERGEABLE state (beyond the
      // reference): phase boundaries from the a15 log-linear sketch of
      // the easiness score instead of the exact distinct-score census
      // — the ingest pipeline's sketch rows re-phase the curriculum
      // after every batch with no history rescan. Deterministic
      // integer arithmetic end to end ⇒ full DuckDB oracle (bucketing,
      // bucket census, hash shard, dense rank). Easiness = brevity,
      // kept non-negative for the sketch domain.
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tok"))
        .select(col("doc_id").as("id"),
          expr("greatest(0L, 200L - (n_tok div 10))").as("sc"))
      val sketch = Sketches.quantileSketch(d, lit("all"), lit(0L),
        col("sc"))
      Sampling.curriculumScheduleFromSketch(d, col("id"), col("sc"),
          sketch, phases = 4, epoch = 1, numShards = 8)
        .orderBy(col("id"))
    }, {
      // x3's replay with the census moved to log-linear bucket floors
      // (the a15 bucketing): strictly-higher-BUCKET cumulative count ×
      // phases div total; hash/shard/rank identical to x3.
      val toks = sqlTokens("text")
      s"""WITH d AS (SELECT doc_id AS id,
           greatest(0, 200 - (len($toks)::BIGINT // 10)) AS s
           FROM documents),
         b AS (SELECT id, s,
           (s >> greatest(length(bin(s)) - 6, 0))
             << greatest(length(bin(s)) - 6, 0) AS lo FROM d),
         cen AS (SELECT lo, count(*)::BIGINT AS n FROM b GROUP BY lo),
         cum AS (SELECT lo, coalesce(sum(n) OVER (ORDER BY lo DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS cum FROM cen),
         ph AS (SELECT lo, (cum * 4) // (SELECT count(*) FROM d) AS phase
           FROM cum),
         h AS (SELECT id, b.s, phase,
           ('0x' || substr(md5('cur:1:' || id::VARCHAR), 1, 7))::BIGINT AS hh
           FROM b JOIN ph ON b.lo = ph.lo),
         sh AS (SELECT id, s, phase, hh, (hh * 8) // ${1L << 28} AS shard
           FROM h)
         SELECT id, s AS score, phase, shard,
           (row_number() OVER (PARTITION BY phase, shard
             ORDER BY hh, id) - 1)::BIGINT AS pos
         FROM sh ORDER BY id"""
    }),

    Query("x7_hard_negatives", (s, dir) => {
      // Hard-negative mining for retriever training (the DPR/ANCE
      // recipe, beyond the reference): per query the BM25 rank-1 doc is
      // the positive and ranks 2-5 are LEXICAL hard negatives — near
      // the decision boundary, which is what contrastive training
      // needs; random negatives are too easy. Emits (query, pos, neg,
      // margin) triples; the margin (score gap to the positive) orders
      // a curriculum from hardest (smallest gap) up. Post-rank state is
      // queries×5 rows, so the mine costs one bm25 pass regardless of
      // corpus size; scores round BEFORE ranking and the margin
      // subtracts bit-identical doubles on both engines.
      val d = t(s, dir, "documents")
      val ranked = Rag.bm25(d, col("doc_id"), col("text"), bm25Queries,
          bm25K1, bm25B)
        .select(col("query_id"), col("doc_id"),
          fround(col("score"), 6).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rank") <= 5)
      val pos = ranked.filter(col("rank") === 1)
        .select(col("query_id"), col("doc_id").as("pos_doc"),
          col("score").as("pos_score"))
      ranked.filter(col("rank") > 1)
        .join(broadcast(pos), "query_id")
        .select(col("query_id"), col("pos_doc"),
          col("doc_id").as("neg_doc"), col("rank").as("neg_rank"),
          fround(col("pos_score") - col("score"), 6).as("margin"))
        .orderBy(col("query_id"), col("neg_rank"))
    },
      s"""WITH ${sqlBm25("true")},
         rk AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM lexsc),
         pos AS (SELECT query_id, doc_id AS pos_doc, score AS pos_score
           FROM rk WHERE rank = 1)
         SELECT n.query_id, pos_doc, n.doc_id AS neg_doc,
           n.rank AS neg_rank,
           ${sqlFround("pos_score - n.score", 6)} AS margin
         FROM rk n JOIN pos p ON n.query_id = p.query_id
         WHERE n.rank BETWEEN 2 AND 5
         ORDER BY n.query_id, neg_rank"""),

    Query("x8_domain_reweight", (s, dir) => {
      // DoReMi-style mixture optimization (Xie et al. 2023; beyond the
      // reference): multiplicative-weights updates on the per-language
      // mixture, α ← normalize(α·detexp(η·TV_d)), where TV_d is the
      // domain's total-variation distance from the CURRENT α-mixture
      // over hashed-unigram distributions — worst-case-domain emphasis
      // with a proxy-free deterministic signal. One corpus token pass
      // builds the (domain, bucket) model table; all 5 iterations are
      // arithmetic over it (corpus never rescanned). TV/α round 6dp
      // per tick and the exponential is detexp, so the unrolled oracle
      // replays the fit bit-for-bit.
      Sampling.domainReweight(t(s, dir, "documents"), col("lang"),
          col("text"), buckets = x8Buckets, eta = x8Eta, iters = x8Iters)
        .select(col("d").as("lang"), col("n_tok"), col("tv"), col("alpha"))
        .orderBy(col("lang"))
    },
      s"""WITH $sqlDomainReweightCtes
         SELECT nd.d AS lang, nd.n AS n_tok, a.tv AS tv, a.a AS alpha
         FROM a$x8Iters a JOIN nd ON a.d = nd.d ORDER BY lang"""),

    Query("x9_mixture_build", (s, dir) => {
      // The DoReMi loop CLOSED into the corpus product (the a21
      // alert→action discipline, for x8): the optimized mixture α
      // becomes the weight table of the token-budget mix — the budget
      // allocates ∝ α instead of the √T temperature default — and the
      // output is the α-built corpus's per-language doc/token tally
      // alongside the α that drove it. The whole chain (count model →
      // multiplicative ticks → thr → keyHash keep) is exact integers,
      // detexp, and one divide, so the oracle replays the BUILD, not
      // just the weights.
      val d = t(s, dir, "documents")
      val alpha = Sampling.domainReweight(d, col("lang"), col("text"),
          buckets = x8Buckets, eta = x8Eta, iters = x8Iters)
        .select(col("d").as("stratum"), col("alpha"))
      val toks = d.select(col("doc_id"), col("lang"),
        TA.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.mixByWeights(toks, col("lang"), col("doc_id"),
          col("n_tok"), alpha, remixBudgetPct, "x9")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"))
        .join(broadcast(alpha.select(col("stratum").as("lang"),
          col("alpha"))), Seq("lang"))
        .orderBy(col("lang"))
    }, {
      // the x8 chain feeding the build: alpha -> integer weight ->
      // sqlMixThr rate -> keyHash keep -> per-lang tally of what the
      // optimized mixture actually selected
      val toks = sqlTokens("text")
      s"""WITH $sqlDomainReweightCtes,
         x9tok AS (SELECT doc_id, lang, len($toks)::BIGINT AS ntok
           FROM documents),
         x9st AS (SELECT lang, sum(ntok)::BIGINT AS t
           FROM x9tok GROUP BY lang),
         x9w AS (SELECT st.lang, st.t,
             floor(a.a * 1e6 + 0.5)::BIGINT AS wgt
           FROM x9st st JOIN a$x8Iters a ON a.d = st.lang),
         x9tot AS (SELECT sum(t)::BIGINT AS tot_t, sum(wgt)::BIGINT AS s
           FROM x9w),
         x9r AS (SELECT lang,
             ${operators.Sampling.sqlMixThr("t", "wgt", "tot_t", "s",
               remixBudgetPct)} AS thr
           FROM x9w, x9tot),
         x9keep AS (SELECT d.lang, d.ntok FROM x9tok d JOIN x9r r USING (lang)
           WHERE ('0x' || substr(md5('x9:' || d.doc_id::VARCHAR), 1, 7))::BIGINT
             < r.thr)
         SELECT k.lang, count(*)::BIGINT AS n_docs,
           sum(k.ntok)::BIGINT AS n_toks, a.a AS alpha
         FROM x9keep k JOIN a$x8Iters a ON a.d = k.lang
         GROUP BY k.lang, a.a ORDER BY k.lang"""
    }),

    Query("x10_temperature_mix", (s, dir) => {
      // Temperature-resampled multilingual mix (XLM-R/mT5, α = 0.3;
      // beyond the reference): per-language share ∝ n^α via
      // detexp(α·detln(n)), quantized to BIGINT micro-weights so the
      // normalizer is an exact integer sum; each language contributes
      // EXACTLY (250·wq) div Σwq docs in salted-hash order — the
      // exact-count complement of x1's rate-based √tokens mix. Every
      // selection comparison is integer; the oracle replays detln,
      // detexp, the dyadic quantize, and the integer allocation.
      Sampling.temperatureMix(t(s, dir, "documents"), col("lang"),
          col("doc_id"), alpha = 0.3, target = 250, salt = "tm12")
        .select(col("id").as("doc_id"), col("stratum").as("lang"),
          col("lrank"))
        .orderBy(col("doc_id"))
    }, {
      // detln of the per-lang count, one α multiply, the detexp Horner
      // twin, dyadic quantize to BIGINT, exact-integer allocation, then
      // the salted 28-bit hash rank — every cell integer past the two
      // deterministic kernels. α renders ::DOUBLE (bare 0.3 is DECIMAL
      // in DuckDB; the cast lands on the identical double).
      val lnCols = operators.Classify.sqlDetLnCols("tm", "nl")
      s"""WITH n AS (SELECT lang, count(*)::BIGINT AS nl
             FROM documents GROUP BY lang),
         l AS (SELECT lang, tmln FROM (SELECT lang, nl, $lnCols FROM n)),
         w AS (SELECT lang,
             floor(${Sampling.sqlDetExp("0.3::DOUBLE * tmln")}
               * 1048576.0 + 0.5)::BIGINT AS wq
           FROM l),
         tot AS (SELECT sum(wq)::BIGINT AS s FROM w),
         c AS (SELECT lang, (250 * wq) // s AS cl FROM w, tot),
         h AS (SELECT doc_id, lang,
             ${Sampling.sqlKeyHash("doc_id::VARCHAR", "tm12")} AS hh
           FROM documents),
         r AS (SELECT doc_id, lang, row_number() OVER (
             PARTITION BY lang ORDER BY hh, doc_id) AS lrank FROM h)
         SELECT r.doc_id, r.lang, r.lrank::BIGINT AS lrank
         FROM r JOIN c USING (lang)
         WHERE lrank <= cl ORDER BY doc_id"""
    }),

    Query("x11_softdedup_resample", (s, dir) => {
      // SoftDeDup-style frequency-downweighted resample (beyond the
      // reference; the "don't delete duplicates, downweight them"
      // alternative to d14's keep-one): every doc weighs 1/|its
      // near-dup cluster|, so each cluster's TOTAL selection mass is
      // one doc's worth regardless of how many crawls re-captured it —
      // repeated pages stop dominating the training mix without the
      // information loss of hard deletion. The weight is exact on the
      // integer key grid: m = ⌊2²⁰/(1/c)+½⌋ = c·2²⁰ exactly for every
      // cluster size c ≤ 64 (SamplingSpec pins this), so sel_key
      // stays pure BIGINT arithmetic end to end. Scale shape: d14's
      // banded clustering + one broadcast-joined size table + the
      // scan-fused key projection; top-k plans as
      // TakeOrderedAndProject, never a global sort.
      Sampling.weightedSample(
          Dedup.dupClusters(
            t(s, dir, "documents").select(col("doc_id"), col("text")),
            col("doc_id"), col("text"), threshold = 0.5),
          col("doc_id"),
          lit(1.0) / col("cluster_size").cast("double"),
          k = 200, salt = "sd12")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("sel_key"))
        .orderBy(col("doc_id"))
    },
      // d14's closure for the cluster labels + size table, then the
      // shared integer Efraimidis–Spirakis key with weight 1/csize —
      // 1.0::DOUBLE dodges the DuckDB decimal-literal trap, so both
      // engines run the identical pair of IEEE divides before the
      // floor onto the integer grid
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
             least(coalesce(c.mr, d.doc_id), d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
           FROM lab GROUP BY cluster_id),
         ls AS (SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
           FROM lab JOIN sz USING (cluster_id)),
         sel AS (SELECT doc_id, cluster_id, cluster_size,
             ${operators.Sampling.sqlSelKeyCols("doc_id",
               "(1.0::DOUBLE / cluster_size::DOUBLE)", "sd12")}
           FROM ls),
         top AS (SELECT doc_id, cluster_id, cluster_size, sel_key
           FROM sel ORDER BY sel_key, doc_id LIMIT 200)
         SELECT doc_id, cluster_id, cluster_size, sel_key
         FROM top ORDER BY doc_id"""),

    Query("x13_span_corruption", (s, dir) => {
      // X13 — T5/UL2-style denoising-span corruption (Raffel et al.
      // 2020 §3.1.4; beyond the reference): each doc's token stream is
      // rewritten into the (corrupted, targets) sentinel pair a
      // span-corruption pretraining objective consumes — 2-token spans
      // at a deterministic stride-13 phase keyed by doc_id (≈15% mask
      // rate), sentinels <extra_id_k> in span order. Pure positional
      // integer arithmetic (span starts = positions with
      // (i+doc_id) % 13 == 0), so BOTH membership and the sentinel
      // index k are O(1) stride arithmetic per position — k(i) =
      // (i − f0)/13 with f0 = pmod(−doc_id, 13) the first start (the
      // quotient is an exact non-negative integer ≪ 2⁵³, so the
      // double divide is bit-exact) — never an array_contains /
      // array_position scan of the span list, which would cost
      // O(n·|spans|) ≈ O(n²/13) per doc and let a few long docs
      // dominate. No hash, no float cell, both strings byte-identical
      // on any engine. Scale shape: one tokenize + one scan-fused
      // projection per row; nothing shuffles but the final sort.
      t(s, dir, "documents")
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") >= 1L)
        .withColumn("f0", pmod(lit(0L) - col("doc_id"), lit(13L)))
        .withColumn("ss", filter(sequence(lit(0L), col("n") - 1),
          i => pmod(i + col("doc_id"), lit(13L)) === 0L))
        .select(col("doc_id"), col("n").as("n_tokens"),
          size(col("ss")).cast("long").as("n_spans"),
          size(filter(sequence(lit(0L), col("n") - 1), i =>
            (pmod(i + col("doc_id"), lit(13L)) === 0L) ||
              (i > 0L && pmod(i - 1 + col("doc_id"), lit(13L)) === 0L)))
            .cast("long").as("n_masked"),
          array_join(filter(transform(sequence(lit(0L), col("n") - 1),
            i => when(pmod(i + col("doc_id"), lit(13L)) === 0L,
                concat(lit("<extra_id_"),
                  ((i - col("f0")) / lit(13.0)).cast("long")
                    .cast("string"),
                  lit(">")))
              .when(i > 0L &&
                  pmod(i - 1 + col("doc_id"), lit(13L)) === 0L,
                lit(null).cast("string"))
              .otherwise(element_at(col("toks"), (i + 1).cast("int")))),
            x => x.isNotNull), " ").as("corrupted"),
          array_join(transform(col("ss"), i =>
            concat_ws(" ",
              concat(lit("<extra_id_"),
                ((i - col("f0")) / lit(13.0)).cast("long")
                  .cast("string"),
                lit(">")),
              element_at(col("toks"), (i + 1).cast("int")),
              when(i + 1 < col("n"),
                element_at(col("toks"), (i + 2).cast("int"))))),
            " ").as("targets"))
        .orderBy(col("doc_id"))
    }, {
      // the same positional span rule, sentinel numbering via
      // list_position, concat_ws NULL-skipping for the truncated last
      // span — strings must match byte-for-byte
      val toks = sqlTokens("text")
      s"""WITH tok AS (SELECT doc_id, $toks AS toks,
           len($toks)::BIGINT AS n FROM documents),
         f AS (SELECT doc_id, toks, n,
             list_filter(generate_series(0, n - 1),
               i -> (i + doc_id) % 13 = 0) AS ss
           FROM tok WHERE n >= 1)
         SELECT doc_id, n AS n_tokens, len(ss)::BIGINT AS n_spans,
           len(list_filter(generate_series(0, n - 1), i ->
             list_contains(ss, i) OR list_contains(ss, i - 1)))::BIGINT
             AS n_masked,
           coalesce(array_to_string(list_filter(
             list_transform(generate_series(0, n - 1), i ->
               CASE WHEN list_contains(ss, i)
                 THEN '<extra_id_' ||
                   (list_position(ss, i) - 1)::VARCHAR || '>'
               WHEN list_contains(ss, i - 1) THEN NULL
               ELSE toks[i + 1] END),
             x -> x IS NOT NULL), ' '), '') AS corrupted,
           coalesce(array_to_string(list_transform(ss, i ->
             concat_ws(' ',
               '<extra_id_' || (list_position(ss, i) - 1)::VARCHAR
                 || '>',
               toks[i + 1],
               CASE WHEN i + 1 < n THEN toks[i + 2] END)), ' '), '')
             AS targets
         FROM f ORDER BY doc_id"""
    }),

    Query("x14_fim_split", (s, dir) => {
      // X14 — fill-in-the-middle transform (Bavarian et al. 2022;
      // beyond the reference; x13's sibling for the code-pretraining
      // objective): each doc's token stream splits into
      // prefix/middle/suffix at deterministic doc-keyed positions and
      // re-emits in PSM order with sentinels — the rearrangement that
      // teaches infilling without architecture changes. Pure integer
      // positional arithmetic (`div`/pmod on BIGINTs); docs under 4
      // tokens pass through unchanged with is_fim = false. One
      // tokenize + one scan-fused projection; nothing shuffles but
      // the final sort.
      t(s, dir, "documents")
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("is_fim", col("n") >= 4L)
        .withColumn("ms",
          when(col("is_fim"), expr("(n div 4) + pmod(doc_id, 3)"))
            .otherwise(lit(0L)))
        .withColumn("ml",
          when(col("is_fim"), expr("greatest(1L, n div 5)"))
            .otherwise(lit(0L)))
        .select(col("doc_id"), col("n").as("n_tokens"), col("is_fim"),
          col("ms").as("m_start"), col("ml").as("m_len"),
          when(col("is_fim"), concat(
              lit("<PRE> "),
              array_join(slice(col("toks"), lit(1),
                col("ms").cast("int")), " "),
              lit(" <SUF> "),
              array_join(slice(col("toks"),
                (col("ms") + col("ml") + 1L).cast("int"),
                (col("n") - col("ms") - col("ml")).cast("int")), " "),
              lit(" <MID> "),
              array_join(slice(col("toks"), (col("ms") + 1L).cast("int"),
                col("ml").cast("int")), " ")))
            .otherwise(array_join(col("toks"), " ")).as("psm"))
        .orderBy(col("doc_id"))
    }, {
      // list_slice is INCLUSIVE-end (vs Spark's slice(start, LENGTH)) —
      // bounds mapped accordingly; `//`/% on non-negative BIGINTs
      // match div/pmod
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks,
           len($toks)::BIGINT AS n FROM documents),
         f AS (SELECT doc_id, toks, n, n >= 4 AS is_fim,
             CASE WHEN n >= 4 THEN (n // 4) + doc_id % 3
               ELSE 0 END AS ms,
             CASE WHEN n >= 4 THEN greatest(1, n // 5)
               ELSE 0 END AS ml
           FROM t)
         SELECT doc_id, n AS n_tokens, is_fim,
           ms AS m_start, ml AS m_len,
           CASE WHEN is_fim THEN
             '<PRE> ' ||
             array_to_string(list_slice(toks, 1, ms), ' ') ||
             ' <SUF> ' ||
             array_to_string(list_slice(toks, ms + ml + 1, n), ' ') ||
             ' <MID> ' ||
             array_to_string(list_slice(toks, ms + 1, ms + ml), ' ')
           ELSE array_to_string(toks, ' ') END AS psm
         FROM f ORDER BY doc_id"""
    }),

    Query("x15_sequence_pack", (s, dir) => {
      // X15 — GPT-style concat-and-chunk sequence packing (Brown et
      // al. 2020 §2.1; beyond the reference): the corpus concatenates
      // in doc_id order into ONE token stream chunked into 512-token
      // training sequences; each doc's placement — global start_tok,
      // the sequences it intersects (a doc may CROSS a boundary,
      // unlike g2/x1's starts-in-bin rollup), in-sequence offset —
      // is exactly what a causal-LM loader consumes. All cells
      // BIGINT/boolean. Zero-token docs place nothing and are
      // filtered (both engines). Scale shape: packedStartsBucketed's
      // two-pass summary-carry prefix sum (never a corpus-wide
      // single-partition window) + the packedSpans pure projection.
      Packing.packedSpans(
          Packing.packedStartsBucketed(
            t(s, dir, "documents")
              .select(col("doc_id"),
                TA.tokenCount(col("text")).as("n_tok"))
              .filter(col("n_tok") >= 1),
            lit("all"), col("doc_id"), col("n_tok"),
            bucketWidth = 4096L),
          seqLen = 512L)
        .select(col("doc_id"), col("n_tok"), col("start_tok"),
          col("seq_first"), col("seq_last"), col("off_in_seq"),
          col("crosses"))
        .orderBy(col("doc_id"))
    },
      // the shared packed-starts prefix sum over ONE global stream,
      // plus the span columns; `//`/% on non-negative BIGINTs match
      // div/pmod; zero-token docs place nothing (filtered both sides)
      s"""WITH ${sqlPackedStarts("p")}
         SELECT doc_id, n_tok, start_tok,
           start_tok // 512 AS seq_first,
           (start_tok + n_tok - 1) // 512 AS seq_last,
           start_tok % 512 AS off_in_seq,
           (start_tok + n_tok - 1) // 512 > start_tok // 512 AS crosses
         FROM p ORDER BY doc_id"""),

    Query("x16_pack_fragmentation", (s, dir) => {
      // X16 — attention-fragmentation census over x15's packing: how
      // many documents each 512-token training sequence mixes (every
      // boundary crossing puts unrelated text in one attention window
      // — the stat behind boundary-aware attention masking). Bounded
      // (n_docs, n_seqs) histogram; the per-doc explode is linear in
      // corpus_tokens/512.
      Packing.packFragmentation(Packing.packedSpans(
          Packing.packedStartsBucketed(
            t(s, dir, "documents")
              .select(col("doc_id"),
                TA.tokenCount(col("text")).as("n_tok"))
              .filter(col("n_tok") >= 1),
            lit("all"), col("doc_id"), col("n_tok"),
            bucketWidth = 4096L),
          seqLen = 512L))
        .orderBy(col("n_docs"))
    },
      // per-sequence doc counts via generate_series over each doc's
      // intersected sequence ids, rolled to the bounded histogram
      s"""WITH ${sqlPackedStarts("p")},
         e AS (
           SELECT unnest(generate_series(start_tok // 512,
             (start_tok + n_tok - 1) // 512))::BIGINT AS seq_id FROM p),
         s AS (SELECT seq_id, count(*)::BIGINT AS n_docs
           FROM e GROUP BY seq_id)
         SELECT n_docs, count(*)::BIGINT AS n_seqs
         FROM s GROUP BY n_docs ORDER BY n_docs"""),

    Query("x17_cusum_alarm", (s, dir) => {
      // X17 — CUSUM sequential drift alarm (Page 1954; beyond the
      // reference): the classical minimal-detection-delay companion to
      // a20's per-snapshot KS test — KS asks "is today's distribution
      // different?", CUSUM accumulates SMALL sustained shifts across
      // days until the evidence crosses a threshold, catching slow
      // feed rot a daily snapshot test never flags. Per event type:
      // daily mean value in micro units, baseline μ0 = first-7-day
      // mean, slack k = μ0/20, two one-sided statistics via the
      // prefix-sum identity S_t = P_t − min(0, min_{j≤t} P_j) (the
      // max(0, S+d) recursion without recursion) — two stacked window
      // passes over a BOUNDED (type × day) table, everything BIGINT
      // so every cell is order-exact on both engines. Alarm when
      // S ≥ μ0. Scale shape: the corpus-sized work is one map-side-
      // combined daily aggregate; the CUSUM itself runs on days ×
      // types rows.
      cusumFromDaily(t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(expr(floorDiv(
          "sum(cast(floor(value * 1e6 + 0.5) as bigint))", "count(*)"))
          .as("mean_micro")))
    }, sqlCusumAlarm)
  )
}
