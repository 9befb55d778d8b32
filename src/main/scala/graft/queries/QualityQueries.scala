package graft
package queries

import graft.functions.{TextAnalysis => TA}
import graft.operators.{Classify, Decontam, Dedup, Sampling}
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Families tc/tq: test-set contamination and the quality classifiers
  * (naive Bayes, DSIR, logistic regression, calibration).
  */
object QualityQueries {

  /** The tq12/tq13 staged LR feature table: ONE tokenize over
    * documents into scratch `(doc_id, y, tr, f, c)` — same split,
    * label and bucket constants as tq1, so the NB and LR fits stay
    * directly comparable on one contract.
    */
  private def lrStagedFeatures(s: SparkSession, dir: String,
                               prefix: String): DataFrame = {
    val staged = scratchDir(prefix)
    t(s, dir, "documents")
      .select(col("doc_id"), (col("lang") <=> "en").as("y"),
        (Sampling.keyHash(col("doc_id"), "nbt") <
          Sampling.threshold(0.6)).as("tr"),
        explode(TA.tokens(col("text"))).as("_tok"))
      .select(col("doc_id"), col("y"), col("tr"),
        Classify.featHash(col("_tok"), nbBuckets).as("f"))
      .groupBy(col("doc_id"), col("y"), col("tr"), col("f"))
      .agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(staged)
    s.read.parquet(staged)
  }

  /** tq7 Platt-calibration Newton tick count, shared by the query and
    * its unrolled oracle CTE chain.
    */
  private val plattIters = 8

  /** tq9's trusted seed slice — the fixed source set whose documents
    * train the per-language CCNet seed LM (the "Wikipedia" seat in
    * Wenzek et al. 2020). Shared by the query and its oracle.
    */
  private val ccnetSeedSources = Seq("src0", "src1", "src2", "src3")

  private lazy val sqlNbScore: String =
    s"""WITH ${sqlNbModelCtes("")},
         ${sqlNbWiCtes("")},
         docf AS (SELECT doc_id, f, count(*)::BIGINT AS c
           FROM f WHERE NOT tr GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(c)::BIGINT AS n_tok,
             ${sqlNbLo("")} AS lo
           FROM docf LEFT JOIN nw USING (f) CROSS JOIN nd
           GROUP BY doc_id)
         SELECT doc_id, n_tok, ${sqlFround("lo", 6)} AS log_odds"""

  /** The tq7/tq8 shared Platt-fit replay: the stopword-ratio cal
    * table, Platt's smoothed targets, the unrolled Newton chain (per
    * tick five 6dp-rounded sums, sigma via the libm-free detexp twin,
    * the exact 2x2 solve with the zero-determinant keep — the Spark
    * side's early-stop fixpoint), ending in `probs(sc, y, p, a, b)`.
    */
  private lazy val sqlPlattProbsCtes: String = {
    def sigma(aRef: String, bRef: String) =
      s"1.0 / (1.0 + ${operators.Sampling.sqlDetExp(s"-($aRef * sc + $bRef)")})"
    val iterCtes = (1 to plattIters).map { i =>
      s"""g$i AS MATERIALIZED (SELECT
           floor(sum(d * sc) * 1e6 + 0.5) / 1e6 AS g1,
           floor(sum(d) * 1e6 + 0.5) / 1e6 AS g0,
           floor(sum(w * sc * sc) * 1e6 + 0.5) / 1e6 AS h11,
           floor(sum(w * sc) * 1e6 + 0.5) / 1e6 AS h10,
           floor(sum(w) * 1e6 + 0.5) / 1e6 AS h00
         FROM (SELECT sc,
             p - (CASE WHEN y > 0.5 THEN t.tp ELSE t.tn END) AS d,
             p * (1.0 - p) AS w
           FROM (SELECT sc, y, ${sigma("it.a", "it.b")} AS p
             FROM cal CROSS JOIN it${i - 1} it) CROSS JOIN tgt t)),
       it$i AS MATERIALIZED (SELECT
           CASE WHEN g.h11 * g.h00 - g.h10 * g.h10 = 0.0 THEN it.a
             ELSE floor((it.a - (g.g1 * g.h00 - g.g0 * g.h10)
               / (g.h11 * g.h00 - g.h10 * g.h10)) * 1e6 + 0.5) / 1e6
           END AS a,
           CASE WHEN g.h11 * g.h00 - g.h10 * g.h10 = 0.0 THEN it.b
             ELSE floor((it.b - (g.g0 * g.h11 - g.g1 * g.h10)
               / (g.h11 * g.h00 - g.h10 * g.h10)) * 1e6 + 0.5) / 1e6
           END AS b
         FROM it${i - 1} it CROSS JOIN g$i g)"""
    }.mkString(",\n")
    s"""cal AS MATERIALIZED (SELECT
           CASE WHEN len(toks) > 0 THEN hits * 1.0 / len(toks)
             ELSE 0.0 END AS sc,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         FROM (SELECT ${sqlTokens("text")} AS toks,
             ${sqlHits("text", TA.enStopwords)} AS hits, lang
           FROM documents)),
       cns AS (SELECT sum(y) AS np, count(*) - sum(y) AS nn FROM cal),
       tgt AS (SELECT (np + 1.0) / (np + 2.0) AS tp,
           1.0 / (nn + 2.0) AS tn FROM cns),
       it0 AS (SELECT 0.0 AS a, 0.0 AS b),
       $iterCtes,
       probs AS (SELECT sc, y, ${sigma("it.a", "it.b")} AS p,
           it.a AS a, it.b AS b
         FROM cal CROSS JOIN it$plattIters it)"""
  }

  /** Shared DSIR oracle body (tq2 weights / tq5 resample). Ends
    * mid-SELECT (`… AS logratio`); callers append FROM/ORDER BY.
    */
  private lazy val sqlDsirWeights: String =
    s"""WITH ${sqlDsirCtes("")}
         SELECT doc_id, n_tok, ${sqlFround("w", 6)} AS logratio"""

  val all: Seq[Query] = Seq(
    Query("tc1_decontamination", (s, dir) => {
      // Benchmark decontamination (beyond the reference): train docs
      // (id >= 50, grows with SF) probed for 5-token-gram containment
      // against the eval split (id < 50 — FIXED size at every SF, the
      // real shape: benchmarks are MBs while the corpus is TBs, so the
      // eval gram set always broadcasts). The corpus side is one
      // tokenize→gram→explode_outer scan with a partial-aggregated
      // per-doc count — corpus text never shuffles.
      val docs = t(s, dir, "documents")
      Decontam.contaminationReport(
          docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50),
          col("doc_id"), col("text"), n = 5)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_matched"), fround(col("contamination"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      // strict n-grams: a doc with < 5 tokens has none (generate_series
      // with stop < start is empty in DuckDB, mirroring the Spark guard)
      s"""WITH g AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len($toks) - 4),
             i -> array_to_string(list_slice($toks, i, i + 4), ' '))) AS grams
           FROM documents),
         ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 50),
         tr AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 50),
         m AS (SELECT tr.doc_id, count(*) AS n_grams, count(ev.gram) AS n_matched
               FROM tr LEFT JOIN ev ON tr.gram = ev.gram GROUP BY tr.doc_id)
         SELECT g.doc_id, coalesce(m.n_grams, 0) AS n_grams,
           coalesce(m.n_matched, 0) AS n_matched,
           floor((CASE WHEN coalesce(m.n_grams, 0) > 0
             THEN coalesce(m.n_matched, 0) * 1.0 / m.n_grams
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS contamination
         FROM g LEFT JOIN m ON g.doc_id = m.doc_id
         WHERE g.doc_id >= 50 ORDER BY g.doc_id"""
    }),

    Query("tc2_split_leakage", (s, dir) => {
      // TC2 — split-leakage census (beyond the reference; the
      // DIAGNOSTIC x4's cluster-keyed split exists to prevent): under
      // a naive doc-keyed 90/10 train/val cut, how many val docs share
      // a near-dup cluster with at least one train doc — eval content
      // a model effectively trains on, the contamination that survives
      // dedup-aware pipelines when the SPLIT ignores the clusters they
      // paid to find. Per-language: val docs, leaky val docs, leaky
      // clusters. Scale shape: d14's banded clustering + one
      // cluster-spine aggregate + one equi-join back — no new
      // corpus-scale shuffles beyond the labeling's own.
      val labeled = Dedup.dupClusters(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("text")),
          col("doc_id"), col("text"), threshold = 0.5)
        .withColumn("split",
          when(Sampling.keyHash(col("doc_id"), "sl13") <
            Sampling.threshold(0.9), "train").otherwise("val"))
      val trainPerCluster = labeled.groupBy(col("cluster_id")).agg(
        sum(when(col("split") === "train", 1L).otherwise(0L))
          .as("n_train"))
      labeled.filter(col("split") === "val")
        .join(trainPerCluster, "cluster_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_val"),
          sum(when(col("n_train") > 0, 1L).otherwise(0L))
            .as("n_val_leaky"),
          countDistinct(when(col("n_train") > 0, col("cluster_id")))
            .as("n_leaky_clusters"))
        .orderBy(col("lang"))
    },
      // the d14 closure + the doc-keyed 90/10 cut + the per-cluster
      // train census, rolled per language over the val side
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
         lab AS (SELECT d.doc_id, d.lang,
             least(coalesce(c.mr, d.doc_id), d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         sp AS (SELECT doc_id, lang, cluster_id,
             CASE WHEN ${operators.Sampling.sqlKeyHash("doc_id::VARCHAR",
               "sl13")} < ${operators.Sampling.threshold(0.9)}
               THEN 'train' ELSE 'val' END AS split
           FROM lab),
         fl AS (SELECT cluster_id,
             sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT
               AS n_train
           FROM sp GROUP BY cluster_id)
         SELECT s.lang, count(*)::BIGINT AS n_val,
           sum(CASE WHEN f.n_train > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_val_leaky,
           count(DISTINCT CASE WHEN f.n_train > 0 THEN s.cluster_id
             END)::BIGINT AS n_leaky_clusters
         FROM sp s JOIN fl f USING (cluster_id) WHERE s.split = 'val'
         GROUP BY s.lang ORDER BY s.lang"""),

    Query("tc3_memorization_probe", (s, dir) => {
      // TC3 — verbatim-memorization risk census (Carlini et al. 2021's
      // extraction surface, measured at the DATA level; tc2's
      // complement): under the same naive doc-keyed 90/10 cut, how
      // many val docs contain a token n-gram that appears verbatim in
      // ANY train doc, at n ∈ {4, 8, 16} — a val doc matching a
      // 16-gram is effectively evaluated on memorized training text
      // even when no whole-doc near-dup exists. On this corpus the 4
      // de val docs tc2 flags as cluster-leaky also match full
      // 16-grams (near-verbatim), while most other langs stop at the
      // 4-gram level — the two censuses tell one story. Scale shape:
      // the tokenized split STAGES once to scratch (seven consumers);
      // per n, train grams dedup into a gram spine and val grams
      // LEFT SEMI probe it — a hash join banded by n (at 100 TB the
      // gram spine is the landed n-gram index tc1's decontamination
      // already maintains; no pairwise scan anywhere). Grams travel
      // as xxhash64 LONGS, never strings (the d12/d16 precedent,
      // Decontam.tokenNgramHashesFromTokens): a string 16-gram spine
      // is ~16× corpus token bytes on the wire, the hashed spine is
      // 8 bytes/key. Hash-membership equals string-membership up to
      // the documented 2⁻⁶⁴ collision bound; the oracle joins the
      // gram STRINGS, so the bound is independently checked end to
      // end, exactly as d16 does.
      val staged = scratchDir("graft_tc3")
      // NO Frames.fan on this staging front (r17 A/B revert): the r16
      // fan tokenized in parallel and landed a multi-file stage, but
      // the loaded-window A/B measured it at 3.3-3.6 s vs 2.8-3.1 s
      // without, with executor runMs inflated ~15× (53-82 s vs 4-6 s)
      // — at this corpus size the seven gram consumers' own shuffles
      // parallelize the n-gram work regardless, so the fan only
      // multiplied task-scheduling constants (the exact g4 signature
      // the r16 COVERAGE fan bullet recorded). A 100 TB documents
      // source is multi-file and parallel from the scan.
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TA.tokens(col("text")).as("_tk"),
          when(Sampling.keyHash(col("doc_id"), "sl13") <
            Sampling.threshold(0.9), "train").otherwise("val").as("split"))
        .write.mode("overwrite").parquet(staged)
      val dd = s.read.parquet(staged)
      def grams(n: Int) = dd.select(col("doc_id"), col("split"),
        explode(operators.Decontam.tokenNgramHashesFromTokens(
          col("_tk"), n)).as("g"))
      def hits(n: Int) = grams(n).filter(col("split") === "val")
        .join(grams(n).filter(col("split") === "train")
          .select(col("g")).distinct(), Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn(s"hit$n", lit(1L))
      dd.filter(col("split") === "val").select(col("doc_id"), col("lang"))
        .join(hits(4), Seq("doc_id"), "left")
        .join(hits(8), Seq("doc_id"), "left")
        .join(hits(16), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_val"),
          sum(coalesce(col("hit4"), lit(0L))).as("n_hit4"),
          sum(coalesce(col("hit8"), lit(0L))).as("n_hit8"),
          sum(coalesce(col("hit16"), lit(0L))).as("n_hit16"))
        .orderBy(col("lang"))
    }, {
      // same tokenizer + same doc-keyed cut as tc2; per n, train grams
      // dedup and val grams probe with IN — the semi-join replay.
      // Joins the gram STRINGS where Spark joins xxhash64 longs: equal
      // up to the 2⁻⁶⁴ collision bound (the d16 contract), so this
      // oracle independently checks the hashed spine's membership.
      def gcte(n: Int) =
        s"""g$n AS (
             SELECT doc_id, split, array_to_string(t[i:i+${n - 1}], ' ') AS g
             FROM tk, unnest(generate_series(1, len(t) - ${n - 1})) AS u(i)),
           t$n AS (SELECT DISTINCT g FROM g$n WHERE split = 'train'),
           h$n AS (SELECT DISTINCT doc_id FROM g$n
             WHERE split = 'val' AND g IN (SELECT g FROM t$n))"""
      s"""WITH tk AS (SELECT doc_id, lang, ${sqlTokens("text")} AS t,
             CASE WHEN ${operators.Sampling.sqlKeyHash("doc_id::VARCHAR",
               "sl13")} < ${operators.Sampling.threshold(0.9)}
               THEN 'train' ELSE 'val' END AS split
           FROM documents),
         ${gcte(4)},
         ${gcte(8)},
         ${gcte(16)}
         SELECT lang, count(*)::BIGINT AS n_val,
           sum(CASE WHEN doc_id IN (SELECT doc_id FROM h4)
             THEN 1 ELSE 0 END)::BIGINT AS n_hit4,
           sum(CASE WHEN doc_id IN (SELECT doc_id FROM h8)
             THEN 1 ELSE 0 END)::BIGINT AS n_hit8,
           sum(CASE WHEN doc_id IN (SELECT doc_id FROM h16)
             THEN 1 ELSE 0 END)::BIGINT AS n_hit16
         FROM tk WHERE split = 'val' GROUP BY lang ORDER BY lang"""
    }),

    Query("tq1_nb_classifier", (s, dir) => {
      // Trained quality classifier (beyond the reference; the
      // GPT-3/CCNet-style corpus filter): multinomial Naive Bayes over
      // hashed token features, fit on a deterministic 60% keyed split
      // with "is the target stratum" labels, scoring the held-out 40%.
      // Counting IS the fit — no SGD order-dependence — so the oracle
      // replays training AND scoring from the same integer counts. The
      // model is ≤ 4096 rows whatever the vocabulary (feature hashing)
      // and broadcasts; raw text never shuffles.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val model = Classify.trainModel(d.filter(isTrain),
        col("lang") <=> "en", col("text"), 4096)
      Classify.score(model, d.filter(!isTrain), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tok"),
          fround(col("log_odds"), 6).as("log_odds"))
        .withColumn("pred_target", col("log_odds") > 0)
        .orderBy(col("doc_id"))
    },
      // NB training replayed from the same integer counts: per-class
      // feature-slot counts over the 60% keyed split, Laplace-smoothed
      // log-odds over the held-out docs. Split predicate, feature hash
      // and bucket count are the SAME Scala constants as the query.
      s"""$sqlNbScore,
           ${sqlFround("lo", 6)} > 0 AS pred_target
         FROM sc ORDER BY doc_id"""),

    Query("tq2_dsir_weights", (s, dir) => {
      // DSIR importance weights (beyond the reference; Xie et al.
      // 2023): per-doc mean log likelihood ratio of a hashed-unigram
      // LM fit on the target stratum vs one fit on the whole corpus —
      // the data-selection signal that reweights raw data toward a
      // target distribution; a keyed sampler over the weights
      // completes the resampling. Both LMs derive from ONE tokenized
      // pass and broadcast back onto the per-doc feature counts.
      Classify.dsirWeights(t(s, dir, "documents"), col("doc_id"),
          col("text"), col("lang") <=> "en", 4096)
        .select(col("doc_id"), col("n_tok"),
          fround(col("avg_logratio"), 6).as("logratio"))
        .orderBy(col("doc_id"))
    },
      // Both hashed-unigram LMs (target stratum + whole corpus) from
      // one token pass; per-doc mean log ratio, Laplace-smoothed.
      s"""$sqlDsirWeights
         FROM sc ORDER BY doc_id"""),

    Query("tq3_incremental_model", (s, dir) => {
      // Persisted-model lifecycle under the oracle gate: the tq1
      // training split arrives as THREE ingest batches, each trained
      // alone and folded into a CountLog as partial counts (O(batch),
      // no corpus rescan). Integer sums are associative, so the loaded
      // model is bit-identical to full retraining — the oracle IS the
      // from-scratch tq1 SQL, proving the incremental path exact, not
      // approximately fresh.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val train = d.filter(isTrain)
      val label = col("lang") <=> "en"
      val logDir = scratchDir("nbmodel")
      val b0 = Classify.trainModel(
        train.filter(pmod(col("doc_id"), lit(3)) === 0), label,
        col("text"), 4096)
      Classify.initModelLog(b0, logDir)
      Classify.appendModelBatch(
        train.filter(pmod(col("doc_id"), lit(3)) === 1), label,
        col("text"), 4096, logDir, Some(1L))
      Classify.appendModelBatch(
        train.filter(pmod(col("doc_id"), lit(3)) === 2), label,
        col("text"), 4096, logDir, Some(2L))
      val model = Classify.loadModel(s, logDir, 4096)
      Classify.score(model, d.filter(!isTrain), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tok"),
          fround(col("log_odds"), 6).as("log_odds"))
        .orderBy(col("doc_id"))
    },
      // The incremental path's oracle IS the from-scratch retrain:
      // integer count sums are associative, so the CountLog-folded
      // model must reproduce tq1's numbers exactly.
      s"""$sqlNbScore
         FROM sc ORDER BY doc_id"""),

    Query("tq4_classifier_eval", (s, dir) => {
      // Evaluation closes the classifier loop: ROC-AUC (exact
      // Mann-Whitney — integer u2 fold over the distinct-score table,
      // ONE IEEE divide, no float accumulation) + confusion/accuracy
      // at threshold 0 on the tq1 held-out split. AUC ranks the
      // ROUNDED score so tie groups agree across engines.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val label = col("lang") <=> "en"
      val model = Classify.trainModel(d.filter(isTrain), label,
        col("text"), 4096)
      val scored = Classify.score(model, d.filter(!isTrain),
          col("doc_id"), col("text"))
        .select(col("doc_id"), fround(col("log_odds"), 6).as("lo6"))
        .join(d.select(col("doc_id"), label.as("y")), "doc_id")
      Classify.evalBinary(scored, col("lo6"), col("y"))
        .select(col("n_pos"), col("n_neg"), col("tp"), col("fp"),
          col("tn"), col("fn"), fround(col("auc"), 6).as("auc"),
          fround(col("accuracy"), 6).as("accuracy"))
    },
      // Exact Mann-Whitney AUC over the tq1 held-out scores: integer
      // u2 = Σ np·(2·cum_neg_below + nn) over the distinct-ROUNDED-
      // score table (tie groups align across engines), one IEEE
      // divide; confusion counts at threshold 0.
      s"""WITH scored AS ($sqlNbScore FROM sc),
         lab AS (SELECT s.doc_id, ${sqlFround("s.log_odds", 6)} AS lo6,
             coalesce(d.lang = 'en', false) AS y
           FROM scored s JOIN documents d USING (doc_id)),
         bys AS (SELECT lo6 AS s,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS np,
             sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS nn
           FROM lab GROUP BY lo6),
         cum AS (SELECT *,
             coalesce(sum(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS cumneg
           FROM bys),
         agg AS (SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
             sum(CASE WHEN s > 0 THEN np ELSE 0 END)::BIGINT AS tp,
             sum(CASE WHEN s > 0 THEN nn ELSE 0 END)::BIGINT AS fp,
             sum(CASE WHEN s <= 0 THEN nn ELSE 0 END)::BIGINT AS tn,
             sum(CASE WHEN s <= 0 THEN np ELSE 0 END)::BIGINT AS fn,
             sum(np * (2 * cumneg + nn))::BIGINT AS u2
           FROM cum)
         SELECT n_pos, n_neg, tp, fp, tn, fn,
           ${sqlFround("u2::DOUBLE / (2 * n_pos * n_neg)::DOUBLE", 6)} AS auc,
           ${sqlFround("(tp + tn)::DOUBLE / (n_pos + n_neg)::DOUBLE", 6)}
             AS accuracy
         FROM agg"""),

    Query("tq5_dsir_resample", (s, dir) => {
      // DSIR's actual selection: weighted sampling WITHOUT replacement
      // over the importance weights (Efraimidis–Spirakis keyed top-k,
      // w = exp(2·logratio)). Deterministic like every sampler here —
      // same corpus in, same sample out, on any cluster. Top-k plans
      // as TakeOrderedAndProject, never a global sort.
      // r13: same pure-integer key chain as x5 (tq5 is x5's driver-side
      // CONTROL — it must rank by the identical key to keep bounding
      // any divergence); the float logratio column itself stays, as the
      // proven-green 6dp canary.
      val w = Classify.dsirWeights(t(s, dir, "documents"), col("doc_id"),
          col("text"), col("lang") <=> "en", 4096)
        .select(col("doc_id"), col("n_tok"),
          fround(col("avg_logratio"), 6).as("logratio"),
          microFloor(col("avg_logratio")).as("logratio_micro"))
      Sampling.withSelectionKeyLogW(w, col("doc_id"),
          lit(2L) * col("logratio_micro"), "dsir")
        .orderBy(col("sel_key"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("n_tok"), col("logratio"),
          col("sel_key"))
        .orderBy(col("sel_key"), col("doc_id"))
    },
      // The resampling step over the tq2 weights: Efraimidis–Spirakis
      // keyed top-k, ranked by the r13 PURE-INTEGER key (SelKeyFixed
      // BIGINT kernels replayed below — no double anywhere between the
      // md5 draw and the key); doc_id tiebreak. The 6dp float logratio
      // column stays as the proven-green upstream canary.
      s"""WITH wgt AS ($sqlDsirWeightsMicro FROM sc),
         sel AS (SELECT doc_id, n_tok, logratio,
             ${operators.Sampling.sqlSelKeyColsLogW("doc_id",
                "2 * logratio_micro", "dsir")}
           FROM wgt)
         SELECT doc_id, n_tok, logratio, sel_key FROM sel
         ORDER BY sel_key, doc_id LIMIT 100"""),

    Query("tq6_score_threshold", (s, dir) => {
      // The deployment knob for the trained filter: the most inclusive
      // threshold keeping ≤ 30% of the tq1 held-out docs by rounded
      // log-odds — exact integer census over the distinct-score table
      // (the tq4 shape; eval-set-sized, no corpus sort).
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val model = Classify.trainModel(d.filter(isTrain),
        col("lang") <=> "en", col("text"), 4096)
      val scored = Classify.score(model, d.filter(!isTrain),
          col("doc_id"), col("text"))
        .select(fround(col("log_odds"), 6).as("lo6"))
      Classify.thresholdForKeepRate(scored, col("lo6"), keepPct = 30)
    },
      // descending running census over the distinct rounded-score
      // table; integer cap rows·30 div 100; most inclusive qualifying
      // threshold
      s"""WITH scored AS ($sqlNbScore FROM sc),
         bys AS (SELECT ${sqlFround("log_odds", 6)} AS s,
             count(*)::BIGINT AS n
           FROM scored GROUP BY 1),
         cum AS (SELECT s, sum(n) OVER (ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS kept
           FROM bys),
         tot AS (SELECT count(*)::BIGINT AS tot FROM scored)
         SELECT min(s) AS threshold, max(kept)::BIGINT AS n_kept
         FROM cum CROSS JOIN tot WHERE kept <= tot * 30 // 100"""),

    Query("tq7_platt_calibration", (s, dir) => {
      // Classifier-score calibration (Platt 1999; beyond the
      // reference): a raw quality signal — stopword ratio, a genuine
      // en-vs-rest discriminator on this corpus — calibrates into
      // P(en | s) = σ(A·s + B). The fit is bounded Newton ticks, each
      // ONE five-sum distributed aggregate (the kmeans shape: scalar
      // state on the driver, corpus never sorts); σ runs on detexp so
      // the whole fit is libm-free, and sums + params round 6dp per
      // tick, so the oracle replays it bit-for-bit. Output is the
      // reliability diagram (score-decile bins: empirical positive
      // rate vs mean calibrated probability) + the fitted params. The
      // scored projection stages to scratch parquet so the 8 fit
      // passes re-scan 2 doubles, not the tokenizer.
      val staged = scratchDir("graft_tq7") + "/scored"
      t(s, dir, "documents")
        .select(TA.stopwordRatio(col("text")).as("sc"),
          (col("lang") <=> "en").as("y"))
        .write.mode("overwrite").parquet(staged)
      val sd = s.read.parquet(staged)
      val (aF, bF) = Classify.plattFit(sd, col("sc"), col("y"),
        iters = plattIters)
      sd.select(col("sc"), col("y"),
          Classify.plattProb(col("sc"), aF, bF).as("p"))
        .groupBy(floor(col("sc") * 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          fround(avg(when(col("y"), 1.0).otherwise(0.0)), 6).as("frac_pos"),
          fround(avg(col("p")), 6).as("mean_cal_p"))
        .withColumn("a", lit(aF))
        .withColumn("b", lit(bF))
        .orderBy(col("bin"))
    },
      // the unrolled Newton chain (sqlPlattProbsCtes) feeding the
      // reliability rollup
      s"""WITH $sqlPlattProbsCtes
         SELECT CAST(floor(sc * 10) AS BIGINT) AS bin,
           count(*) AS n,
           ${sqlFround("avg(y)", 6)} AS frac_pos,
           ${sqlFround("avg(p)", 6)} AS mean_cal_p,
           max(a) AS a, max(b) AS b
         FROM probs GROUP BY bin ORDER BY bin"""),

    Query("tq8_label_noise", (s, dir) => {
      // Label-noise estimation via confident learning (Northcutt et
      // al. 2021; beyond the reference): from calibrated P(en | score)
      // (the tq7 Platt machinery over the stopword-ratio signal), each
      // class's confidence threshold is the mean self-confidence of
      // rows LABELED that class; a row is confidently class-j when
      // p_j clears t_j (argmax on double-passes, ties to the positive
      // class), and confident rows whose class differs from their
      // given label are the suspected mislabels — the confident-joint
      // census you run before trusting any weakly-labeled corpus
      // (crawl heuristics, distant supervision). Determinism: p lands
      // on the 1e-6 grid as INTEGER MICRO-UNITS, thresholds are
      // rounded means of exact BIGINT sums (one IEEE divide — the r12
      // order-exact bar: a summation-order ulp in a float avg could
      // shift a threshold one grid cell and flip the integer census),
      // and every comparison below is integer-vs-integer.
      val staged = scratchDir("graft_tq8") + "/scored"
      t(s, dir, "documents")
        .select(TA.stopwordRatio(col("text")).as("sc"),
          (col("lang") <=> "en").as("y"))
        .write.mode("overwrite").parquet(staged)
      val sd = s.read.parquet(staged)
      val (aF, bF) = Classify.plattFit(sd, col("sc"), col("y"),
        iters = plattIters)
      val scored = sd.select(col("y"),
        floor(Classify.plattProb(col("sc"), aF, bF) * 1e6 + lit(0.5))
          .cast("long").as("pi"))
      val thr = scored.agg(
          sum(when(col("y"), col("pi"))).as("_s1"),
          sum(when(col("y"), 1L)).as("_n1"),
          sum(when(!col("y"), lit(1000000L) - col("pi"))).as("_s0"),
          sum(when(!col("y"), 1L)).as("_n0"))
        .select(
          when(col("_n1") > 0,
            floor(col("_s1").cast("double") / col("_n1").cast("double")
              + lit(0.5)).cast("long")).as("t1i"),
          when(col("_n0") > 0,
            floor(col("_s0").cast("double") / col("_n0").cast("double")
              + lit(0.5)).cast("long")).as("t0i"))
      scored.crossJoin(broadcast(thr))
        .withColumn("p0i", lit(1000000L) - col("pi"))
        .withColumn("pred",
          when(col("pi") >= col("t1i") &&
            (col("p0i") < col("t0i") || col("pi") >= col("p0i")), lit(1L))
          .when(col("p0i") >= col("t0i"), lit(0L))
          .otherwise(lit(null).cast("long")))
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred").isNotNull, 1L).otherwise(0L))
            .as("n_confident"),
          sum(when(col("pred").isNotNull &&
              col("pred") =!= when(col("y"), 1L).otherwise(0L), 1L)
            .otherwise(0L)).as("n_flagged"))
        .select(col("y").as("given_en"), col("n"), col("n_confident"),
          col("n_flagged"),
          when(col("n_confident") > 0,
            fround(col("n_flagged").cast("double") /
              col("n_confident").cast("double"), 6)).as("noise_rate"))
        .orderBy(col("given_en"))
    },
      // the shared Platt replay, then the confident-learning census in
      // INTEGER MICRO-UNITS: probs → BIGINT µ-units, thresholds =
      // rounded means of exact integer sums (one IEEE divide), every
      // comparison integer-vs-integer — nothing order-dependent left
      s"""WITH $sqlPlattProbsCtes,
         scored AS (SELECT y,
             floor(p * 1e6 + 0.5)::BIGINT AS pi FROM probs),
         thr AS (SELECT
             CASE WHEN sum(CASE WHEN y > 0.5 THEN 1 END) > 0 THEN
               floor(sum(CASE WHEN y > 0.5 THEN pi END)::DOUBLE
                 / sum(CASE WHEN y > 0.5 THEN 1 END)::DOUBLE + 0.5)::BIGINT
             END AS t1i,
             CASE WHEN sum(CASE WHEN y <= 0.5 THEN 1 END) > 0 THEN
               floor(sum(CASE WHEN y <= 0.5 THEN 1000000 - pi END)::DOUBLE
                 / sum(CASE WHEN y <= 0.5 THEN 1 END)::DOUBLE + 0.5)::BIGINT
             END AS t0i
           FROM scored),
         pr AS (SELECT y,
             CASE WHEN pi >= t1i
                    AND (1000000 - pi < t0i OR pi >= 1000000 - pi) THEN 1
                  WHEN 1000000 - pi >= t0i THEN 0
                  ELSE NULL END AS pred
           FROM scored CROSS JOIN thr)
         SELECT y > 0.5 AS given_en, count(*) AS n,
           count(pred)::BIGINT AS n_confident,
           sum(CASE WHEN pred IS NOT NULL
               AND pred <> (CASE WHEN y > 0.5 THEN 1 ELSE 0 END)
             THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
           CASE WHEN count(pred) > 0 THEN
             ${sqlFround(
               """sum(CASE WHEN pred IS NOT NULL
               AND pred <> (CASE WHEN y > 0.5 THEN 1 ELSE 0 END)
             THEN 1 ELSE 0 END)::DOUBLE / count(pred)::DOUBLE""", 6)}
           END AS noise_rate
         FROM pr GROUP BY 1 ORDER BY given_en"""),

    Query("tq9_ccnet_ppl_buckets", (s, dir) => {
      // CCNet-style perplexity bucketing (Wenzek et al. 2020; beyond
      // the reference): a unigram LM trains PER LANGUAGE on a fixed
      // trusted seed slice (the Wikipedia seat — here the pinned
      // source set ccnetSeedSources), every document scores its
      // per-token negative log-likelihood under its language's seed
      // model (out-of-vocabulary tokens back off to the count-1
      // weight), and each language's corpus splits into
      // head/middle/tail perplexity tertiles — the standard
      // "keep head+middle, drop tail" curation gate. Determinism (the
      // r12 order-exact bar): seed weights are detln integers on the
      // 2^-20 grid, the per-doc sum is exact BIGINT arithmetic in any
      // order, the per-token average is ONE integer divide (monotone
      // in perplexity, so no exp needed anywhere), and tertile ranks
      // break ties by doc_id.
      // Scale shape: the corpus tokenizes ONCE — per-doc
      // (lang, tok, c) collapses map-side, the seed model derives
      // from the same table (filter, not a second scan); the
      // per-lang totals/OOV floors broadcast; bucketing is one
      // window over per-doc rows, not tokens.
      val grid = operators.Classify.WeightGrid
      val perDoc = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          col("source").isin(ccnetSeedSources: _*).as("is_seed"),
          explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("is_seed"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val seed = perDoc.filter(col("is_seed"))
        .groupBy(col("lang"), col("tok")).agg(sum(col("c")).as("cf"))
      val tots = seed.groupBy(col("lang")).agg(sum(col("cf")).as("tot"))
        .select(col("lang"),
          graft.expressions.DetLn(col("tot")).as("ttln"))
      val wtab = seed.join(tots, "lang")
        .select(col("lang"), col("tok"),
          floor((graft.expressions.DetLn(col("cf")) - col("ttln")) *
            lit(grid) + lit(0.5)).as("wi"))
      val oov = tots.select(col("lang"),
        floor((lit(0.0) - col("ttln")) * lit(grid) + lit(0.5))
          .as("w_oov"))
      val scored = perDoc
        .join(wtab, Seq("lang", "tok"), "left")
        .join(broadcast(oov), Seq("lang"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("n_tok"),
          (-sum(col("c") * coalesce(col("wi"), col("w_oov"))))
            .as("nll_q"))
      // Tertile assignment at scale (the x5 census discipline): the
      // per-language rank decomposes into a census over the BOUNDED
      // avg_q spine (grid cells, not docs — cardinality independent
      // of corpus size) plus a within-cell doc_id prefix, so no
      // window ever partitions by lang alone over per-doc rows (that
      // would drag a whole language onto one task at 100 TB).
      val scoredQ = scored.withColumn("avg_q", expr("nll_q div n_tok"))
      val census = scoredQ.groupBy(col("lang"), col("avg_q"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk0", sum(col("cnt")).over(
          Window.partitionBy(col("lang")).orderBy(col("avg_q"))) -
          col("cnt"))
      val nl = scoredQ.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      scoredQ
        .withColumn("rn0", row_number().over(
          Window.partitionBy(col("lang"), col("avg_q"))
            .orderBy(col("doc_id"))))
        .join(census.select(col("lang"), col("avg_q"), col("rk0")),
          Seq("lang", "avg_q"))
        .join(broadcast(nl), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("avg_q"),
          when(expr("((rk0 + rn0 - 1) * 3) div nl") === 0, "head")
            .when(expr("((rk0 + rn0 - 1) * 3) div nl") === 1, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }, {
      // per-lang seed unigram LM on the detln 2^-20 grid (the ta8
      // form, restricted to the pinned seed sources), OOV backs off
      // to the count-1 weight, per-doc NLL as exact BIGINT sums, ONE
      // integer divide per doc, tertiles by (avg_q, doc_id) rank
      val seedIn = ccnetSeedSources.map(x => s"'$x'").mkString(", ")
      val grid = operators.Classify.WeightGrid
      s"""WITH toks AS (
           SELECT doc_id, lang, source IN ($seedIn) AS is_seed,
             unnest(${sqlTokens("text")}) AS tok
           FROM documents WHERE text IS NOT NULL),
         perdoc AS (
           SELECT doc_id, lang, is_seed, tok, count(*)::BIGINT AS c
           FROM toks GROUP BY 1, 2, 3, 4),
         seed AS (SELECT lang, tok, sum(c)::BIGINT AS cf
           FROM perdoc WHERE is_seed GROUP BY 1, 2),
         tots AS (SELECT lang, ttln FROM (SELECT lang,
             ${operators.Classify.sqlDetLnCols("tt", "tot")}
           FROM (SELECT lang, sum(cf)::BIGINT AS tot
                 FROM seed GROUP BY 1))),
         wtab AS (SELECT lang, tok, wi FROM (SELECT s.lang, s.tok,
             ${operators.Classify.sqlDetLnCols("cl", "cf")},
             floor((clln - ttln) * $grid + 0.5)::BIGINT AS wi
           FROM seed s JOIN tots USING (lang))),
         oov AS (SELECT lang,
             floor((0.0 - ttln) * $grid + 0.5)::BIGINT AS w_oov
           FROM tots),
         sc AS (SELECT p.doc_id, p.lang, sum(p.c)::BIGINT AS n_tok,
             (-sum(p.c * coalesce(w.wi, o.w_oov)))::BIGINT AS nll_q
           FROM perdoc p
           LEFT JOIN wtab w ON w.lang = p.lang AND w.tok = p.tok
           JOIN oov o ON o.lang = p.lang
           GROUP BY 1, 2),
         rk AS (SELECT doc_id, lang, n_tok, nll_q // n_tok AS avg_q,
             row_number() OVER (PARTITION BY lang
               ORDER BY nll_q // n_tok, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS nl
           FROM sc)
         SELECT doc_id, lang, n_tok, avg_q,
           CASE ((rn - 1) * 3) // nl WHEN 0 THEN 'head'
             WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         FROM rk ORDER BY doc_id"""
    }),

    Query("tq10_uncertainty_sample", (s, dir) => {
      // TQ10 — active-learning batch selection (beyond the reference):
      // the 15 held-out docs per language whose trained-filter score
      // sits closest to the decision boundary — the rows a labeling
      // budget buys the most from (uncertainty sampling). Ranks compare
      // INTEGER micro-units of the 6dp-pinned log-odds (the tq1 chain
      // is already order-exact), tiebroken on doc_id, so the per-lang
      // row_number is engine-independent; the window partitions by
      // lang — bounded groups, no global sort.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val model = Classify.trainModel(d.filter(isTrain),
        col("lang") <=> "en", col("text"), 4096)
      val scored = Classify.score(model, d.filter(!isTrain),
          col("doc_id"), col("text"))
        .select(col("doc_id"),
          floor(fround(col("log_odds"), 6) * 1e6 + 0.5).cast("long")
            .as("lo_micro"))
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
      val w = Window.partitionBy(col("lang"))
        .orderBy(abs(col("lo_micro")), col("doc_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 15)
        .select(col("lang"), col("doc_id"), col("lo_micro"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    },
      // the tq1 score chain → integer µ-units of the 6dp-pinned
      // log-odds; per-lang rank by |distance to the boundary|
      s"""WITH scored AS ($sqlNbScore FROM sc),
         lab AS (SELECT s.doc_id, d.lang,
             floor(s.log_odds * 1e6 + 0.5)::BIGINT AS lo_micro
           FROM scored s JOIN documents d USING (doc_id)),
         rk AS (SELECT *, row_number() OVER (PARTITION BY lang
             ORDER BY abs(lo_micro), doc_id) AS rank FROM lab)
         SELECT lang, doc_id, lo_micro, rank FROM rk WHERE rank <= 15
         ORDER BY lang, rank"""),

    Query("tq11_decile_lift", (s, dir) => {
      // TQ11 — decile gains/lift table for the trained NB gate (beyond
      // the reference; the eval sibling of tq4's AUC): held-out docs
      // bucket into 10 score deciles and each reports positives,
      // cumulative capture and lift as integer micro-ratios — the
      // curation question "how much of the good stuff do the top k%
      // keep" answered before committing a gate threshold. Scale
      // shape + determinism: deciles assign on the DISTINCT-rounded-
      // score table (bounded by the 6dp grid — the tq4 cumulative
      // trick; tie groups land whole in the decile where they start,
      // so no doc-level global sort exists anywhere), every count is
      // BIGINT, every ratio one integer div.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val model = Classify.trainModel(d.filter(isTrain),
        col("lang") <=> "en", col("text"), 4096)
      val scored = Classify.score(model, d.filter(!isTrain),
          col("doc_id"), col("text"))
        .join(d.select(col("doc_id"), (col("lang") <=> "en").as("y")),
          Seq("doc_id"))
        .select(fround(col("log_odds"), 6).as("lo6"), col("y"))
      val g = scored.groupBy(col("lo6")).agg(
        count(lit(1)).as("ng"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pg"))
      val tot = g.agg(sum(col("ng")).as("nt"), sum(col("pg")).as("pt"))
      val wcum = Window.orderBy(col("lo6").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cumb", coalesce(sum(col("ng")).over(wcum), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("(cumb * 10) div nt"))
        .groupBy(col("decile")).agg(
          sum(col("ng")).as("n_docs"), sum(col("pg")).as("n_pos"),
          max(col("nt")).as("nt"), max(col("pt")).as("pt"))
        .withColumn("cum_pos", sum(col("n_pos")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          expr("case when pt > 0 then (cum_pos * 1000000) div pt end")
            .as("capture_micro"),
          expr("case when pt > 0 then (n_pos * nt * 1000000)" +
            " div (n_docs * pt) end").as("lift_micro"))
        .orderBy(col("decile"))
    },
      // the tq4 distinct-score cumulative trick: tie groups land whole
      // in the decile where they start; every ratio an integer divide
      s"""WITH scored AS ($sqlNbScore FROM sc),
         lab AS (SELECT s.doc_id, s.log_odds AS lo6,
             coalesce(d.lang = 'en', false) AS y
           FROM scored s JOIN documents d USING (doc_id)),
         g AS (SELECT lo6, count(*)::BIGINT AS ng,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pg
           FROM lab GROUP BY lo6),
         tot AS (SELECT sum(ng)::BIGINT AS nt, sum(pg)::BIGINT AS pt
           FROM g),
         cumg AS (SELECT *, coalesce(sum(ng) OVER (ORDER BY lo6 DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0)::BIGINT AS cumb
           FROM g),
         dec AS (SELECT (cumb * 10) // nt AS decile, ng, pg
           FROM cumg CROSS JOIN tot),
         agg AS (SELECT decile, sum(ng)::BIGINT AS n_docs,
             sum(pg)::BIGINT AS n_pos FROM dec GROUP BY decile),
         cum2 AS (SELECT *, (sum(n_pos) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
             AS cum_pos
           FROM agg)
         SELECT decile, n_docs, n_pos,
           CASE WHEN pt > 0 THEN (cum_pos * 1000000) // pt END
             AS capture_micro,
           CASE WHEN pt > 0 THEN (n_pos * nt * 1000000)
             // (n_docs * pt) END AS lift_micro
         FROM cum2 CROSS JOIN tot ORDER BY decile"""),

    Query("tq12_logreg_gate", (s, dir) => {
      // TQ12 — logistic-regression quality filter TRAINED IN THE
      // ENGINE (beyond the reference; the fastText-style seat next to
      // tq1's counting fit): two full-batch GD ticks from w₀ = 0 over
      // the SAME 60% keyed split, labels and hashed features as tq1,
      // scoring the same held-out 40% — NB's closed-form fit and the
      // gradient fit become directly comparable on one contract.
      // Determinism (the x8 DoReMi discipline applied to a model fit):
      // weights/residuals live on the integer 2⁻²⁰ grid, logits and
      // gradients are ORDER-EXACT BIGINT sums, σ runs through the
      // libm-free DetExp chain, and the weight update divides
      // truncating-toward-zero on both engines — the DuckDB oracle
      // replays the entire descent tick by tick, bit for bit. Scale
      // shape: text tokenizes ONCE into the staged (doc, y, tr, f, c)
      // table; each tick is one broadcast-weights aggregate + one
      // doc-keyed residual join + one ≤4096-row gradient collect (the
      // weights contract); holdout scoring is one more pass of the
      // same staged table.
      val fc = lrStagedFeatures(s, dir, "graft_tq12")
      val w = Classify.trainLogReg(
        fc.filter(col("tr")).select("doc_id", "y", "f", "c"),
        ticks = 2, etaDen = 1L)
      Classify.logRegZ(
          fc.filter(!col("tr")).select("doc_id", "y", "f", "c"), w)
        .select(col("doc_id"), col("n_tok"), col("z_num"),
          (col("z_num") > 0).as("pred_en"), col("y").as("is_en"))
        .orderBy(col("doc_id"))
    }, {
      // the full 2-tick gradient descent replayed: same split/label/
      // feature constants as tq1, tick CTEs from the shared generator
      // (z → detexp-σ → 2⁻²⁰ residual → BIGINT gradient → trunc-divide
      // update), then the holdout logit fold over the final weights
      val thr = operators.Sampling.threshold(0.6)
      val toks = sqlTokens("text")
      s"""WITH lrtk AS MATERIALIZED (SELECT doc_id,
             coalesce(lang = 'en', false) AS y,
             ${operators.Sampling.sqlKeyHash("doc_id::VARCHAR", "nbt")}
               < $thr AS tr,
             unnest($toks) AS tok
           FROM documents),
         lrfc AS MATERIALIZED (SELECT doc_id, any_value(y) AS y,
             any_value(tr) AS tr, f, count(*)::BIGINT AS c
           FROM (SELECT doc_id, y, tr,
               ${operators.Classify.sqlFeatHash("tok", nbBuckets)} AS f
             FROM lrtk)
           GROUP BY doc_id, f),
         ${operators.Classify.sqlLogRegTickCtes("lr", 2, 1L)},
         lrsc AS (SELECT c.doc_id, any_value(c.y) AS y,
             sum(c.c)::BIGINT AS n_tok,
             coalesce(sum(c.c * w.w), 0)::BIGINT AS z_num
           FROM lrfc c LEFT JOIN lrw2 w USING (f)
           WHERE NOT c.tr GROUP BY c.doc_id)
         SELECT doc_id, n_tok, z_num, z_num > 0 AS pred_en, y AS is_en
         FROM lrsc ORDER BY doc_id"""
    }),

    Query("tq13_model_compare", (s, dir) => {
      // TQ13 — model selection closes the trained-filter loop: the NB
      // counting fit (tq1) and the LR gradient fit (tq12) score the
      // SAME held-out 40% and one exact-AUC harness ranks them — the
      // "which filter do I deploy" row. Both models train in-engine;
      // the Mann-Whitney fold is an integer u2 over each model's
      // distinct-score table (NB: 6dp-rounded log-odds; LR: the exact
      // BIGINT logit — tie groups align across engines by
      // construction), one IEEE divide per metric. Scale shape: two
      // bounded model fits + two holdout passes; the eval fold runs on
      // distinct scores, never a doc-level global sort.
      val d = t(s, dir, "documents")
      val isTrain = Sampling.keyHash(col("doc_id"), "nbt") <
        Sampling.threshold(0.6)
      val label = col("lang") <=> "en"
      // NB leg (the tq4 chain)
      val model = Classify.trainModel(d.filter(isTrain), label,
        col("text"), nbBuckets)
      val nbScored = Classify.score(model, d.filter(!isTrain),
          col("doc_id"), col("text"))
        .select(col("doc_id"), fround(col("log_odds"), 6).as("sc"))
        .join(d.select(col("doc_id"), label.as("y")), "doc_id")
      // LR leg (the tq12 chain, staged once)
      val fc = lrStagedFeatures(s, dir, "graft_tq13")
      val w = Classify.trainLogReg(
        fc.filter(col("tr")).select("doc_id", "y", "f", "c"),
        ticks = 2, etaDen = 1L)
      val lrScored = Classify.logRegZ(
        fc.filter(!col("tr")).select("doc_id", "y", "f", "c"), w)
      def shape(ev: DataFrame, name: String) = ev
        .select(lit(name).as("model"), col("n_pos"), col("n_neg"),
          col("tp"), col("fp"), col("tn"), col("fn"),
          fround(col("auc"), 6).as("auc"),
          fround(col("accuracy"), 6).as("accuracy"))
      shape(Classify.evalBinary(lrScored, col("z_num"), col("y")), "lr")
        .unionByName(
          shape(Classify.evalBinary(nbScored, col("sc"), col("y")), "nb"))
        .orderBy(col("model"))
    }, {
      // both fits replayed (NB via the tq1 CTEs, LR via the shared
      // tick generator), then ONE Mann-Whitney chain per model over
      // its distinct-score table — the tq4 integer fold, twice
      def aucCtes(p: String, rel: String, sCol: String) =
        s"""${p}bys AS (SELECT $sCol AS s,
               sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS np,
               sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS nn
             FROM $rel GROUP BY 1),
           ${p}cum AS (SELECT *,
               coalesce(sum(nn) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS cumneg
             FROM ${p}bys),
           ${p}agg AS (SELECT sum(np)::BIGINT AS n_pos,
               sum(nn)::BIGINT AS n_neg,
               sum(CASE WHEN s > 0 THEN np ELSE 0 END)::BIGINT AS tp,
               sum(CASE WHEN s > 0 THEN nn ELSE 0 END)::BIGINT AS fp,
               sum(CASE WHEN s <= 0 THEN nn ELSE 0 END)::BIGINT AS tn,
               sum(CASE WHEN s <= 0 THEN np ELSE 0 END)::BIGINT AS fn,
               sum(np * (2 * cumneg + nn))::BIGINT AS u2
             FROM ${p}cum)"""
      def aucRow(p: String, name: String) =
        s"""SELECT '$name' AS model, n_pos, n_neg, tp, fp, tn, fn,
             ${sqlFround("u2::DOUBLE / (2 * n_pos * n_neg)::DOUBLE", 6)}
               AS auc,
             ${sqlFround(
               "(tp + tn)::DOUBLE / (n_pos + n_neg)::DOUBLE", 6)}
               AS accuracy
           FROM ${p}agg"""
      val thr = operators.Sampling.threshold(0.6)
      val toks = sqlTokens("text")
      s"""WITH nbsc AS ($sqlNbScore FROM sc),
         nlab AS (SELECT s.doc_id, ${sqlFround("s.log_odds", 6)} AS sc,
             coalesce(d.lang = 'en', false) AS y
           FROM nbsc s JOIN documents d USING (doc_id)),
         lrtk AS MATERIALIZED (SELECT doc_id,
             coalesce(lang = 'en', false) AS y,
             ${operators.Sampling.sqlKeyHash("doc_id::VARCHAR", "nbt")}
               < $thr AS tr,
             unnest($toks) AS tok
           FROM documents),
         lrfc AS MATERIALIZED (SELECT doc_id, any_value(y) AS y,
             any_value(tr) AS tr, f, count(*)::BIGINT AS c
           FROM (SELECT doc_id, y, tr,
               ${operators.Classify.sqlFeatHash("tok", nbBuckets)} AS f
             FROM lrtk)
           GROUP BY doc_id, f),
         ${operators.Classify.sqlLogRegTickCtes("lr", 2, 1L)},
         llab AS (SELECT c.doc_id, any_value(c.y) AS y,
             coalesce(sum(c.c * w.w), 0)::BIGINT AS sc
           FROM lrfc c LEFT JOIN lrw2 w USING (f)
           WHERE NOT c.tr GROUP BY c.doc_id),
         ${aucCtes("l", "llab", "sc")},
         ${aucCtes("n", "nlab", "sc")}
         ${aucRow("l", "lr")}
         UNION ALL
         ${aucRow("n", "nb")}
         ORDER BY model"""
    }),

    Query("tq14_lr_model_log", (s, dir) => {
      // TQ14 — the LR fit as a PERSISTED MODEL LIFECYCLE (tq3's
      // discipline for the gradient path): the corpus arrives as three
      // ingest "days" (doc_id mod 3); day 0 initializes the log (cold
      // 1-tick fit, weight segment d=−1), each later day appends its
      // features to the CountLog (O(batch); no raw-text rescan ever)
      // and warm-ticks the weights over the grown folded table,
      // landing them as a commit-gated segment keyed by the batch id.
      // A POISONED replay of committed day 1 (wrong docs, flipped
      // labels) runs inside the query and must no-op at BOTH stores —
      // if it ever landed, the served weights would break the oracle.
      // The oracle replays the whole TRAJECTORY from scratch: the
      // shared tick generator with cumulative per-tick filters
      // (b = 0, b ≤ 1, b ≤ 2) — each warm tick proven equal to the
      // corresponding tick of the from-scratch descent, end to end.
      // Scale shape: per day one batch tokenize + `ticks` passes over
      // the compact folded feature store; serving reads the latest
      // committed ≤4096-row segment.
      val d = t(s, dir, "documents")
      val label = col("lang") <=> "en"
      val logDir = scratchDir("graft_tq14")
      def day(k: Int) = d.filter(pmod(col("doc_id"), lit(3)) === k)
      Classify.initLrLog(
        Classify.docFeaturesLabeled(day(0), col("doc_id"), label,
          col("text"), nbBuckets),
        logDir, ticks = 1, etaDen = 1L)
      Classify.appendLrBatch(day(1), col("doc_id"), label, col("text"),
        nbBuckets, ticks = 1, etaDen = 1L, logDir, Some(1L))
      Classify.appendLrBatch(day(2), col("doc_id"), label, col("text"),
        nbBuckets, ticks = 1, etaDen = 1L, logDir, Some(2L))
      // poisoned replay of committed day 1: wrong docs, inverted labels
      Classify.appendLrBatch(day(0), col("doc_id"), !label, col("text"),
        nbBuckets, ticks = 1, etaDen = 1L, logDir, Some(1L))
      s.createDataFrame(Classify.loadLrWeights(s, logDir)).toDF("f", "w")
        .orderBy(col("f"))
    }, {
      // the from-scratch TRAJECTORY replay: the shared tick generator
      // with cumulative per-tick doc filters (day 0, days ≤ 1,
      // days ≤ 2) — tick t of this cold descent must equal the
      // lifecycle's warm tick after absorbing day t−1, so the served
      // weight segment is checked end to end (and the in-query
      // poisoned replay would break this if the commit gate leaked)
      val toks = sqlTokens("text")
      s"""WITH lmtk AS MATERIALIZED (SELECT doc_id,
             coalesce(lang = 'en', false) AS y,
             ((doc_id % 3) + 3) % 3 AS b,
             unnest($toks) AS tok
           FROM documents),
         lmfc AS MATERIALIZED (SELECT doc_id, any_value(y) AS y,
             any_value(b) AS b, f, count(*)::BIGINT AS c
           FROM (SELECT doc_id, y, b,
               ${operators.Classify.sqlFeatHash("tok", nbBuckets)} AS f
             FROM lmtk)
           GROUP BY doc_id, f),
         ${operators.Classify.sqlLogRegTickCtes("lm", 3, 1L,
            t => s"b <= ${t - 1}")}
         SELECT f, w FROM lmw3 ORDER BY f"""
    })
  )
}
