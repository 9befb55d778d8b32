package graft
package queries

import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
import graft.operators.{Align, Compliance, Dedup, Packing, Ruler, Sampling}
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Families c/p/r: compliance and PII scans, schema alignment and
  * quality gates, and the paper-shaped ruler scores.
  */
object ComplianceQueries {

  /** Deterministic PII injection over `documents.text` (corpus is clean;
    * c1/c5 and their oracles must dirty it IDENTICALLY — [[sqlDirtyPii]]
    * is the DuckDB twin).
    */
  private def dirtyPii: Column = concat(col("text"),
    when(col("doc_id") % 7 === 0,
      concat(lit(" reach me at user"), col("doc_id").cast("string"),
        lit("@example.com"))).otherwise(lit("")),
    when(col("doc_id") % 13 === 0, lit(" call +1 555 123 4567"))
      .otherwise(lit("")),
    when(col("doc_id") % 97 === 0, lit(" ssn 123-45-6789"))
      .otherwise(lit("")))

  /** DuckDB twin of [[dirtyPii]] as a one-CTE body over `documents`. */
  private val sqlDirtyPii: String =
    """SELECT doc_id, text ||
         (CASE WHEN doc_id % 7 = 0
           THEN ' reach me at user' || doc_id::VARCHAR || '@example.com'
           ELSE '' END) ||
         (CASE WHEN doc_id % 13 = 0 THEN ' call +1 555 123 4567' ELSE '' END) ||
         (CASE WHEN doc_id % 97 = 0 THEN ' ssn 123-45-6789' ELSE '' END)
         AS dirty
       FROM documents"""

  /** DuckDB: `words` members occurring as substrings of lower(e)
    * (Ruler.keywordHits).
    */
  private def sqlKwHits(e: String, words: Seq[String]): String =
    s"len(list_filter(${sqlList(words)}, w -> contains(lower($e), w)))"

  val all: Seq[Query] = Seq(
    Query("c1_pii_scan", (s, dir) => {
      // C3 — PII detectors + risk rollup over deterministically-dirtied
      // text (corpus is clean; both sides inject identical PII).
      val d = t(s, dir, "documents")
      val dirty = dirtyPii
      // two select boundaries: each regex detector runs ONCE (risk and
      // density then read the materialized counts, instead of splicing
      // every detector tree into themselves a second and third time)
      d.select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          Compliance.piiCount(col("dirty"), "email").as("n_email"),
          Compliance.piiCount(col("dirty"), "phone").as("n_phone"),
          Compliance.piiCount(col("dirty"), "ip").as("n_ip"),
          Compliance.piiCount(col("dirty"), "ssn").as("n_ssn"),
          Compliance.piiCount(col("dirty"), "credential_url").as("n_cred"),
          TF.wordCount(col("dirty")).as("n_words"))
        .select(
          col("doc_id"), col("n_email"), col("n_phone"), col("n_ssn"),
          Compliance.riskLevel(col("n_email"), col("n_phone"), col("n_ip"),
            col("n_ssn"), col("n_cred")).as("risk"),
          fround(Compliance.piiDensity(
            col("n_email") + col("n_phone") + col("n_ip") + col("n_ssn") +
              col("n_cred"),
            col("n_words")), 6).as("pii_density"))
        .orderBy(col("doc_id"))
    }, {
      val pats = TF.piiPatterns
      def cnt(kind: String) =
        s"len(regexp_extract_all(dirty, '${pats(kind).replace("'", "''")}'))"
      s"""WITH d AS ($sqlDirtyPii),
         c AS (
           SELECT doc_id, dirty,
             ${cnt("email")} AS n_email, ${cnt("phone")} AS n_phone,
             ${cnt("ip")} AS n_ip, ${cnt("ssn")} AS n_ssn,
             ${cnt("credential_url")} AS n_cred
           FROM d)
         SELECT doc_id, n_email, n_phone, n_ssn,
           CASE WHEN n_ssn > 0 OR n_cred > 0 THEN 'critical'
             WHEN n_email + n_phone > 2 THEN 'high'
             WHEN n_email + n_phone > 0 OR n_ip > 0 THEN 'medium'
             ELSE 'low' END AS risk,
           floor((CASE WHEN len(regexp_extract_all(dirty, '\\w+')) > 0
             THEN (n_email + n_phone + n_ip + n_ssn + n_cred) * 1.0
               / len(regexp_extract_all(dirty, '\\w+'))
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS pii_density
         FROM c ORDER BY doc_id"""
    }),

    Query("c2_quality_issues", (s, dir) => {
      // C5 — per-row issue arrays + severity, aggregated to issue
      // frequencies (A12 explode-count) and severity rollup (A10).
      val d = t(s, dir, "documents")
      val title = trim(substring(col("text"), 1, 10))
      val dateStr = when(col("doc_id") % 11 === 0, lit("not-a-date"))
        .otherwise(concat(lit("2026-0"), (col("doc_id") % 9 + 1).cast("string"),
          lit("-15")))
      val issues = Compliance.qualityIssues(title, col("text"), dateStr)
      d.select(col("doc_id"), explode(issues).as("issue"))
        .groupBy(col("issue")).agg(count(lit(1)).as("n"))
        .orderBy(col("issue"))
    },
      """WITH d AS (
           SELECT doc_id, text, trim(substring(text, 1, 10)) AS title,
             CASE WHEN doc_id % 11 = 0 THEN 'not-a-date'
               ELSE '2026-0' || (doc_id % 9 + 1)::VARCHAR || '-15' END AS ds
           FROM documents),
         iss AS (
           SELECT doc_id, unnest(list_filter([
             CASE WHEN title IS NULL OR title = '' THEN 'missing_title' END,
             CASE WHEN len(title) < 8 THEN 'title_too_short' END,
             CASE WHEN text IS NULL OR trim(text) = '' THEN 'missing_abstract' END,
             CASE WHEN len(text) < 120 THEN 'abstract_too_short' END,
             CASE WHEN ds IS NOT NULL AND try_strptime(ds, '%Y-%m-%d') IS NULL
               THEN 'invalid_date' END], x -> x IS NOT NULL)) AS issue
           FROM d)
         SELECT issue, count(*) AS n FROM iss GROUP BY issue ORDER BY issue"""),

    Query("c3_record_fingerprint", (s, dir) => {
      // C1 — md5 record fingerprint over a fixed field order
      // (provenance_compliance.py:91-102), plus the dup-detection rollup
      // it exists for: fingerprints shared by >1 part.
      val p = t(s, dir, "part")
      p.select(col("p_partkey"),
          Compliance.fingerprint(col("p_name"), col("p_brand"), col("p_type"))
            .as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("n"),
          min(col("p_partkey")).as("first_key"))
        .filter(col("n") > 1)
        .orderBy(col("fp"))
    },
      """SELECT md5(concat_ws('|', p_name, p_brand, p_type)) AS fp,
         count(*) AS n, min(p_partkey) AS first_key
         FROM part GROUP BY 1 HAVING count(*) > 1 ORDER BY fp"""),

    Query("c4_provenance", (s, dir) => {
      // C2 — provenance + licensing struct append with the reference's
      // sort_keys-JSON md5 fingerprint; dynamic nested fields flattened
      // for the oracle. Timestamps injected for determinism.
      val d = t(s, dir, "documents")
      val toks = TA.tokens(col("text"))
      val paperId = concat(lit("arxiv:"), col("doc_id").cast("string"))
      val title = trim(substring(col("text"), 1, 40))
      // try_element_at: an empty/whitespace-only text tokenizes to an
      // empty array — ANSI element_at would throw, DuckDB tk[1] yields
      // NULL; NULL then propagates through concat/md5 on both engines.
      val firstAuthor = concat(lit("dr. "), try_element_at(toks, lit(1)))
      val pubDate = concat(lit("2026-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))
      val fp = Compliance.paperFingerprint(title, firstAuthor, pubDate, paperId)
      val prov = Compliance.provenance(paperId,
        concat(lit("https://arxiv.org/abs/"), col("doc_id").cast("string")),
        fp, lit("2026-08-12T00:00:00"))
      val lic = Compliance.licensing(paperId)
      d.select(col("doc_id"),
        prov.getField("processing").getField("fingerprint").as("fingerprint"),
        prov.getField("source").getField("platform").as("platform"),
        prov.getField("source").getField("identifier").as("identifier"),
        array_join(prov.getField("processing").getField("processing_steps"),
          ",").as("steps"),
        prov.getField("history").getField("version").cast("long").as("version"),
        size(lic.getField("allowed_uses")).cast("long").as("n_allowed"),
        lic.getField("attribution_requirements").getField("suggested_format")
          .as("attribution"),
        lic.getField("compliance_status").getField("attribution_satisfied")
          .as("attribution_satisfied"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents),
         f AS (
           SELECT doc_id,
             'arxiv:' || doc_id AS paper_id,
             trim(substring(text, 1, 40)) AS title,
             'dr. ' || tk[1] AS first_author,
             '2026-01-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS pub_date
           FROM t)
         SELECT doc_id,
           md5('{"arxiv_id": "' || paper_id ||
             '", "first_author": "' || first_author ||
             '", "publish_date": "' || pub_date ||
             '", "title": "' || title || '"}') AS fingerprint,
           'arXiv' AS platform, paper_id AS identifier,
           'arxiv_crawling,text_cleaning,quality_scoring,provenance_tracking'
             AS steps,
           1::BIGINT AS version, 4::BIGINT AS n_allowed,
           'Data sourced from arXiv paper ' || paper_id ||
             ', processed via AI Research Pipeline' AS attribution,
           false AS attribution_satisfied
         FROM f ORDER BY doc_id"""
    }),

    Query("c5_pii_findings", (s, dir) => {
      // T14/C3 — the reference's PII findings map with MASKED samples
      // (provenance_compliance.py:219-243: map<pii_type, struct(count,
      // sample_matches)>), flattened to (doc, type) rows — map values
      // hash unstably across engines. Only types that fired emit a row;
      // the first match masks via maskPii (first 2 + "***" + last 2).
      val d = t(s, dir, "documents")
      val types = TF.piiPatterns.keys.toSeq.sorted
      d.select(col("doc_id"), dirtyPii.as("dirty"))
        // one select boundary: every detector regex runs exactly once,
        // then the explode fans the materialized matches into rows.
        .select(col("doc_id"), explode(array(types.map(k =>
          struct(lit(k).as("pii_type"),
            TF.piiMatches(col("dirty"), k).as("ms"))): _*)).as("f"))
        .select(col("doc_id"),
          col("f").getField("pii_type").as("pii_type"),
          size(col("f").getField("ms")).cast("long").as("n_matches"),
          // try_element_at: rows with zero matches are filtered AFTER
          // this projection evaluates — ANSI element_at would throw.
          TF.maskPii(try_element_at(col("f").getField("ms"), lit(1)))
            .as("sample_masked"))
        .filter(col("n_matches") > 0)
        .orderBy(col("doc_id"), col("pii_type"))
    }, {
      val pats = TF.piiPatterns
      val vals = pats.keys.toSeq.sorted
        .map(k => s"('$k', '${pats(k).replace("'", "''")}')").mkString(", ")
      s"""WITH d AS ($sqlDirtyPii),
         f AS (
           SELECT doc_id, t.pii_type,
             regexp_extract_all(dirty, t.pattern) AS ms
           FROM d, (VALUES $vals) t(pii_type, pattern))
         SELECT doc_id, pii_type, len(ms)::BIGINT AS n_matches,
           CASE WHEN length(ms[1]) > 4
             THEN substr(ms[1], 1, 2) || '***' ||
               substr(ms[1], length(ms[1]) - 1, 2)
             ELSE '***' END AS sample_masked
         FROM f WHERE len(ms) > 0
         ORDER BY doc_id, pii_type"""
    }),

    Query("c6_copyright", (s, dir) => {
      // C4 — copyright heuristics (provenance_compliance.py:267-293):
      // platform flag from the url, journal_reference found/not_found
      // from the comments. Inputs derive deterministically: every third
      // doc a non-arXiv url, every fifth a journal mention appended to
      // the text prefix (the prefix itself may also mention one — fine,
      // both engines see identical strings).
      val d = t(s, dir, "documents")
      val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://example.com/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("https://arxiv.org/abs/"), col("doc_id").cast("string")))
      val comments = concat(substring(col("text"), 1, 60),
        when(col("doc_id") % 5 === 0, lit(" Accepted, Journal of Data."))
          .otherwise(lit("")))
      d.select(col("doc_id"),
        Compliance.isArxivUrl(url).as("is_arxiv"),
        when(Compliance.mentionsJournal(comments), "found")
          .otherwise("not_found").as("journal_reference"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN 'https://example.com/' || doc_id::VARCHAR
               ELSE 'https://arxiv.org/abs/' || doc_id::VARCHAR END AS url,
             substring(text, 1, 60) ||
               (CASE WHEN doc_id % 5 = 0
                 THEN ' Accepted, Journal of Data.' ELSE '' END) AS comments
           FROM documents)
         SELECT doc_id, contains(url, 'arxiv.org') AS is_arxiv,
           CASE WHEN contains(lower(comments), 'journal')
             THEN 'found' ELSE 'not_found' END AS journal_reference
         FROM t ORDER BY doc_id"""),

    Query("c7_k_anonymity", (s, dir) => {
      // C7 — k-anonymity census + one generalization step (beyond the
      // reference; the privacy gate a training corpus passes before
      // release): customers whose quasi-identifier class
      // (nation, segment, 1000-unit balance band) has fewer than k=5
      // members are re-identifiable; generalizing the band to NULL for
      // exactly those rows coarsens them onto (nation, segment) and the
      // census re-measures. Both stages are plain groupBy counts —
      // linear, shuffle-on-QI, no row blowup at any scale. Determinism:
      // the band comes from exact integer cents (floor(x·100+½), then a
      // +100000 shift so `div` and DuckDB `//` agree — both args
      // non-negative).
      val c = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 100000)" +
          " div 100000").as("band"))
      val cls = c.groupBy(col("c_nationkey"), col("c_mktsegment"),
          col("band"))
        .agg(count(lit(1)).as("class_n"))
      def census(classes: DataFrame, stage: String) =
        classes.agg(
          lit(stage).as("stage"),
          count(lit(1)).as("n_classes"),
          sum(when(col("class_n") < 5, 1L).otherwise(0L))
            .as("n_small_classes"),
          sum(when(col("class_n") < 5, col("class_n")).otherwise(0L))
            .as("n_rows_at_risk"),
          min(col("class_n")).as("min_class"))
      val gen = c.join(cls, Seq("c_nationkey", "c_mktsegment", "band"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          when(col("class_n") < 5, lit(null).cast("long"))
            .otherwise(col("band")).as("band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
        .agg(count(lit(1)).as("class_n"))
      census(cls, "raw").unionAll(census(gen, "generalized"))
        .select(col("stage"), col("n_classes"), col("n_small_classes"),
          col("n_rows_at_risk"), col("min_class"))
        .orderBy(col("stage"))
    },
      """WITH c AS (
           SELECT c_custkey, c_nationkey, c_mktsegment,
             (floor(c_acctbal * 100 + 0.5)::BIGINT + 100000) // 100000
               AS band
           FROM customer),
         cls AS (
           SELECT c_nationkey, c_mktsegment, band,
             count(*)::BIGINT AS class_n
           FROM c GROUP BY 1, 2, 3),
         gen AS (
           SELECT x.c_nationkey, x.c_mktsegment,
             CASE WHEN l.class_n < 5 THEN NULL ELSE x.band END AS band
           FROM c x JOIN cls l
             ON x.c_nationkey = l.c_nationkey
             AND x.c_mktsegment = l.c_mktsegment AND x.band = l.band),
         gcls AS (
           SELECT c_nationkey, c_mktsegment, band,
             count(*)::BIGINT AS class_n
           FROM gen GROUP BY 1, 2, 3),
         cen AS (
           SELECT 'raw' AS stage, count(*)::BIGINT AS n_classes,
             sum(CASE WHEN class_n < 5 THEN 1 ELSE 0 END)::BIGINT
               AS n_small_classes,
             sum(CASE WHEN class_n < 5 THEN class_n ELSE 0 END)::BIGINT
               AS n_rows_at_risk,
             min(class_n)::BIGINT AS min_class
           FROM cls
           UNION ALL
           SELECT 'generalized' AS stage, count(*)::BIGINT,
             sum(CASE WHEN class_n < 5 THEN 1 ELSE 0 END)::BIGINT,
             sum(CASE WHEN class_n < 5 THEN class_n ELSE 0 END)::BIGINT,
             min(class_n)::BIGINT
           FROM gcls)
         SELECT stage, n_classes, n_small_classes, n_rows_at_risk,
           min_class
         FROM cen ORDER BY stage"""),

    Query("c8_license_rollup", (s, dir) => {
      // C8 — license propagation through sequence packing (beyond the
      // reference): a packed training sequence inherits the MOST
      // RESTRICTIVE license among the documents that start in it
      // (max over the shared Compliance.licenseLadder ranks), and
      // bins touching cc-by-nc or proprietary get flagged — the
      // release gate between g2's packed corpus and a commercial
      // training run. Same bucketed two-pass packing as ta6 (no
      // per-language whole-corpus sorts); per-doc licenses derive
      // from doc_id so the oracle replays ground truth.
      val ladder = Compliance.licenseLadder
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TA.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packedStartsBucketed(d, col("lang"), col("doc_id"),
          col("n_tok"), bucketWidth = 4096L)
        .withColumn("bin", expr("start_tok div 2048"))
        .withColumn("lrank", (col("doc_id") % ladder.size).cast("int"))
        .groupBy(col("lang"), col("bin")).agg(
          count(lit(1)).as("n_docs"),
          max(col("lrank")).as("_eff"))
        .select(col("lang"), col("bin"), col("n_docs"),
          col("_eff").cast("long").as("eff_rank"),
          element_at(array(ladder.map(lit): _*), col("_eff") + 1)
            .as("effective_license"),
          (col("_eff") >= 5).as("restricted"))
        .orderBy(col("lang"), col("bin"))
    }, {
      val toks = sqlTokens("text")
      val lad = operators.Compliance.licenseLadder
      s"""WITH t AS (
           SELECT doc_id, lang, len($toks)::BIGINT AS n_tok FROM documents),
         s AS (
           SELECT doc_id, lang, n_tok,
             (sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               - n_tok AS start_tok
           FROM t),
         b AS (SELECT lang, start_tok // 2048 AS bin,
             doc_id % ${lad.size} AS lrank FROM s)
         SELECT lang, bin, count(*)::BIGINT AS n_docs,
           max(lrank)::BIGINT AS eff_rank,
           ${sqlList(lad)}[max(lrank)::INT + 1] AS effective_license,
           max(lrank) >= 5 AS restricted
         FROM b GROUP BY lang, bin ORDER BY lang, bin"""
    }),

    Query("c9_takedown_closure", (s, dir) => {
      // C9 — takedown propagation through near-dup clusters (beyond
      // the reference): a DMCA/opt-out notice names ONE copy, but
      // removing only that row leaves its near-duplicates serving the
      // same content — so the removal unit is the d14 CLUSTER, not the
      // doc. Every cluster containing ≥1 noticed doc is removed whole:
      // status 'direct' (named in a notice), 'closure' (removed as a
      // near-copy of a noticed doc), 'kept'. Notices sample
      // deterministically by keyHash (the salt-split discipline) so
      // both engines see the identical notice list. Scale shape: the
      // closure is the banded d6 pair graph + large-star/small-star
      // rounds (no all-pairs, no chain-length iteration); the hit
      // bit is one max over cluster_id — a fine-grained key whose
      // group size is cluster size, never corpus size.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val labeled = Dedup.dupClusters(docs, col("doc_id"), col("text"),
          threshold = 0.5)
        .withColumn("direct",
          Sampling.keyHash(col("doc_id"), "dmca") <
            Sampling.threshold(0.1))
      labeled
        .withColumn("hit", max(when(col("direct"), 1L).otherwise(0L))
          .over(Window.partitionBy(col("cluster_id"))))
        .select(col("doc_id"), col("cluster_id"),
          when(col("direct"), "direct")
            .when(col("hit") === 1L, "closure")
            .otherwise("kept").as("status"))
        .orderBy(col("doc_id"))
    },
      // the d14 closure chain + the deterministic notice sample; a
      // cluster with any noticed member is removed whole
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
             ${Sampling.sqlKeyHash("d.doc_id::VARCHAR", "dmca")} <
               ${Sampling.threshold(0.1)} AS direct
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         hit AS (SELECT cluster_id,
             max(CASE WHEN direct THEN 1 ELSE 0 END) AS h
           FROM lab GROUP BY cluster_id)
         SELECT l.doc_id, l.cluster_id,
           CASE WHEN l.direct THEN 'direct'
                WHEN h.h = 1 THEN 'closure'
                ELSE 'kept' END AS status
         FROM lab l JOIN hit h USING (cluster_id)
         ORDER BY doc_id"""),

    Query("c10_k_anonymity", (s, dir) => {
      // C10 — k-anonymity equivalence-class audit (Sweeney 2002;
      // beyond the reference): before releasing a per-user activity
      // extract, census the quasi-identifier classes — here the
      // generalized tuple (first-active day, most-frequent event type)
      // — and flag every class smaller than k = 5, whose members a
      // linker could re-identify. The dominant type breaks ties by
      // (count desc, type asc NULLS LAST — pinned explicitly on both
      // engines: Spark's asc default is nulls-first, DuckDB's is
      // nulls-last, so a null event_type tied on count would silently
      // diverge under engine defaults). Scale shape: two user-keyed
      // aggregates + one
      // per-user top-1 window (partition = one user's ≤5 type rows),
      // then a bounded (days × types) class census — user rows never
      // shuffle more than twice, output bounded regardless of corpus.
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"),
        col("event_type"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("day_us")).as("cohort_us"))
      val top = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("c").desc, col("event_type").asc_nulls_last)))
        .filter(col("_rk") === 1)
        .select(col("user_id"), col("event_type").as("top_type"))
      first.join(top, "user_id")
        .groupBy(col("cohort_us"), col("top_type"))
        .agg(count(lit(1)).as("n_users"))
        .withColumn("at_risk", col("n_users") < lit(5L))
        .orderBy(col("cohort_us"), col("top_type").asc_nulls_last)
    },
      // same deterministic top-1 tie rule (NULLS LAST pinned — DuckDB's
      // asc default, Spark's is not); bounded class census
      """WITH ev AS (SELECT user_id,
             epoch_us(date_trunc('day', ts::TIMESTAMP)) AS day_us,
             event_type
           FROM events),
         fi AS (SELECT user_id, min(day_us) AS cohort_us
           FROM ev GROUP BY 1),
         ct AS (SELECT user_id, event_type, count(*)::BIGINT AS c
           FROM ev GROUP BY 1, 2),
         tp AS (SELECT user_id, event_type AS top_type FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY c DESC, event_type NULLS LAST) AS rk FROM ct)
           WHERE rk = 1)
         SELECT f.cohort_us, t.top_type, count(*)::BIGINT AS n_users,
           count(*) < 5 AS at_risk
         FROM fi f JOIN tp t USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2 NULLS LAST"""),

    Query("p1_align_defaults", (s, dir) => {
      // P1 — fixed-schema projection with defaults: missing column
      // materializes, nulls coalesce, extras drop.
      val d = t(s, dir, "documents")
        .withColumn("lang", nullif(col("lang"), lit("en")))
      Align.alignTo(d, Seq(
        "doc_id" -> lit(-1L),
        "lang" -> lit("und"),
        "license" -> lit("unknown"),
        "n_chars" -> lit(0L)))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
         coalesce(nullif(lang, 'en'), 'und') AS lang,
         'unknown' AS license, n_chars
         FROM documents ORDER BY doc_id"""),

    Query("p3_quality_gate", (s, dir) => {
      // P3 — quality gate with independent drop-reason accounting in one
      // aggregate pass (no row ever leaves the executor).
      val d = t(s, dir, "documents")
      Align.gateReasons(d, Seq(
        "too_short" -> (col("n_chars") >= 120),
        "few_tokens" -> (TA.tokenCount(col("text")) >= 20),
        "bad_source" -> (col("source") =!= "src0")))
    }, {
      val ntok = s"len(${sqlTokens("text")})"
      // ::BIGINT — DuckDB integer sum() yields HUGEINT, Spark BIGINT;
      // the driver hash is type-sensitive.
      s"""SELECT count(*) AS n_total,
         sum(CASE WHEN n_chars >= 120 AND $ntok >= 20 AND source <> 'src0'
           THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         sum(CASE WHEN NOT (n_chars >= 120) THEN 1 ELSE 0 END)::BIGINT AS drop_too_short,
         sum(CASE WHEN NOT ($ntok >= 20) THEN 1 ELSE 0 END)::BIGINT AS drop_few_tokens,
         sum(CASE WHEN NOT (source <> 'src0') THEN 1 ELSE 0 END)::BIGINT AS drop_bad_source
         FROM documents"""
    }),

    Query("r1_ruler_scores", (s, dir) => {
      // R1-R10 — heuristic quality scoring with injected as-of date.
      val d = t(s, dir, "documents")
      val title = trim(substring(col("text"), 1, 40))
      val abstractC = col("text")
      val authorCount = col("doc_id") % 5
      val optionals = col("doc_id") % 3
      val techTerms = col("doc_id") % 10
      val asOf = lit("2026-08-12").cast("date")
      val pubDate = date_sub(asOf, (col("doc_id") % 1000).cast("int"))
      val isDup = col("doc_id") % 50 === 0
      // categories derived deterministically so the cs.* branch fires on
      // a strict subset of rows (doc_id % 3 or % 7).
      val categories = array(
        when(col("doc_id") % 3 === 0, lit("cs.DB")).otherwise(lit("stat.ME")),
        when(col("doc_id") % 7 === 0, lit("cs.LG")).otherwise(lit("math.ST")))
      // sub-scores materialize at a select boundary: comp feeds three
      // outputs and every keyword-scan score feeds two (its own column
      // + the weighted total) — attribute reads instead of re-splicing
      // each scan tree.
      val scored = d.select(col("doc_id"), col("text"),
        Ruler.completenessScore(title, abstractC, authorCount, optionals)
          .as("comp"),
        Ruler.recencyScore(pubDate, asOf).as("rec"),
        Ruler.substanceScore(abstractC, techTerms).as("subst"),
        Ruler.rigorScore(abstractC).as("rigor"),
        Ruler.impactScore(abstractC).as("impact"),
        Ruler.relevanceScore(title, abstractC, categories).as("rel"),
        Ruler.penalty(title, abstractC, isDup).as("pen"))
      val total = Ruler.totalScore(col("comp"), col("rec"), col("subst"),
        col("rigor"), col("impact"), col("rel"), col("pen"))
      scored.select(
        col("doc_id"),
        fround(col("comp"), 6).as("completeness"),
        fround(col("rec"), 6).as("recency"),
        fround(col("subst"), 6).as("substance"),
        fround(col("rigor"), 6).as("rigor"),
        fround(col("impact"), 6).as("impact"),
        fround(col("rel"), 6).as("relevance"),
        fround(col("pen"), 6).as("penalty"),
        total.as("total_score"),
        Ruler.tierOf(total).as("tier"),
        Ruler.confidence(col("comp"), col("text"), techTerms).as("confidence"))
        .orderBy(col("doc_id"))
    }, {
      val innov = sqlKwHits("text", Ruler.innovationWords)
      val ev = sqlKwHits("text", Ruler.evaluationWords)
      val theory = sqlKwHits("text", Ruler.theoryWords)
      val meth = sqlKwHits("text", Ruler.methodWords)
      val metr = sqlKwHits("text", Ruler.metricWords)
      val app = sqlKwHits("text", Ruler.applicationWords)
      val titleSql = "trim(substring(text, 1, 40))"
      val tmatch = sqlKwHits(s"$titleSql || ' ' || text", Ruler.topicTerms)
      val ttitle = sqlKwHits(titleSql, Ruler.topicTerms)
      val nTopic = Ruler.topicTerms.size
      s"""WITH base AS (
           SELECT doc_id, text,
             $titleSql AS title,
             doc_id % 5 AS n_auth, doc_id % 3 AS n_opt,
             doc_id % 10 AS n_terms, doc_id % 1000 AS days,
             doc_id % 50 = 0 AS is_dup,
             $innov AS innov, $ev AS ev, $theory AS theory,
             $meth AS meth, $metr AS metr, $app AS app,
             $tmatch AS tmatch, $ttitle AS ttitle,
             len(list_filter(
               [CASE WHEN doc_id % 3 = 0 THEN 'cs.DB' ELSE 'stat.ME' END,
                CASE WHEN doc_id % 7 = 0 THEN 'cs.LG' ELSE 'math.ST' END],
               c -> contains(lower(c), 'cs.'))) > 0 AS has_cs
           FROM documents),
         scores AS (
           SELECT doc_id, text, title, n_terms,
             CASE WHEN title = '' OR text = '' OR n_auth <= 0 THEN 0.0
               ELSE least(1.0,
                 (CASE WHEN len(text) > 100 THEN 0.3 ELSE 0.0 END) +
                 (CASE WHEN len(title) > 10 THEN 0.25 ELSE 0.0 END) +
                 0.25 + n_opt * 0.05) END AS comp,
             CASE WHEN days <= 7 THEN 1.0 WHEN days <= 30 THEN 0.9
               WHEN days <= 90 THEN 0.8 WHEN days <= 180 THEN 0.7
               WHEN days <= 365 THEN 0.5
               ELSE greatest(0.1, 1.0 - days / 3650.0) END AS rec,
             least(1.0,
               (CASE WHEN n_terms >= 8 THEN 0.4 WHEN n_terms >= 5 THEN 0.3
                 WHEN n_terms >= 3 THEN 0.2 WHEN n_terms >= 1 THEN 0.1
                 ELSE 0.0 END) +
               (CASE WHEN innov >= 3 THEN 0.3 WHEN innov >= 2 THEN 0.2
                 WHEN innov >= 1 THEN 0.1 ELSE 0.0 END) +
               (CASE WHEN ev >= 2 THEN 0.2 WHEN ev >= 1 THEN 0.1 ELSE 0.0 END) +
               (CASE WHEN theory >= 1 THEN 0.1 ELSE 0.0 END)) AS subst,
             least(1.0,
               (CASE WHEN meth >= 3 THEN 0.5 WHEN meth >= 2 THEN 0.35
                 WHEN meth >= 1 THEN 0.2 ELSE 0.0 END) +
               (CASE WHEN metr >= 3 THEN 0.5 WHEN metr >= 2 THEN 0.35
                 WHEN metr >= 1 THEN 0.2 ELSE 0.0 END)) AS rigor,
             least(1.0,
               (CASE WHEN app >= 3 THEN 0.6 WHEN app >= 2 THEN 0.4
                 WHEN app >= 1 THEN 0.2 ELSE 0.0 END) +
               (CASE WHEN len(text) > 500 THEN 0.2 ELSE 0.1 END)) AS impact,
             least(1.0,
               (CAST(tmatch AS DOUBLE) / $nTopic) * 0.5 +
               (CASE WHEN has_cs THEN 0.3 ELSE 0.1 END) +
               least(0.2, CAST(ttitle AS DOUBLE) * 0.1)) AS rel,
             least(0.5,
               (CASE WHEN len(text) < 100 THEN 0.2 ELSE 0.0 END) +
               (CASE WHEN len(title) < 10 THEN 0.1 ELSE 0.0 END) +
               (CASE WHEN regexp_matches(text, '(?i)(lorem ipsum|xxx+|\\btodo\\b)')
                 THEN 0.15 ELSE 0.0 END) +
               (CASE WHEN is_dup THEN 0.3 ELSE 0.0 END)) AS pen
           FROM base),
         tot AS (
           SELECT *,
             floor(greatest(0.0,
               comp * 0.15 + rec * 0.20 + subst * 0.30 + rigor * 0.25 +
               impact * 0.10 + rel * 0.15 - pen) * 1000.0 + 0.5) / 1000.0
               AS total_score
           FROM scores)
         SELECT doc_id,
           floor((comp) * 1e6 + 0.5) / 1e6 AS completeness, floor((rec) * 1e6 + 0.5) / 1e6 AS recency,
           floor((subst) * 1e6 + 0.5) / 1e6 AS substance, floor((rigor) * 1e6 + 0.5) / 1e6 AS rigor,
           floor((impact) * 1e6 + 0.5) / 1e6 AS impact, floor((rel) * 1e6 + 0.5) / 1e6 AS relevance,
           floor((pen) * 1e6 + 0.5) / 1e6 AS penalty,
           total_score,
           CASE WHEN total_score >= 0.8 THEN 'Excellent'
             WHEN total_score >= 0.6 THEN 'Good'
             WHEN total_score >= 0.4 THEN 'Moderate'
             ELSE 'Low' END AS tier,
           floor(((least(1.0, comp / 0.15) +
             (CASE WHEN len(text) > 300 THEN 1.0 WHEN len(text) > 100 THEN 0.7
               ELSE 0.3 END) +
             (CASE WHEN n_terms >= 5 THEN 1.0 WHEN n_terms >= 2 THEN 0.7
               ELSE 0.3 END)) / 3.0) * 1000.0 + 0.5) / 1000.0 AS confidence
         FROM tot ORDER BY doc_id"""
    })
  )
}
