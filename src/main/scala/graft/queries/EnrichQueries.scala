package graft
package queries

import graft.functions.{TextAnalysis => TA}
import graft.operators.{Enrich, Rag, Sampling, Similarity}
import graft.queries.Common._
import org.apache.spark.sql.functions._

/** Family l: the LLM enrichment harness over the deterministic mock
  * client (fields, keywords, scores, summaries, RAG pipeline).
  */
object EnrichQueries {

  val all: Seq[Query] = Seq(
    Query("l1_mock_fields", (s, dir) => {
      // L1 — fields-of-study enrichment: the mock client answers in
      // three shapes (strict JSON array / chatty quoted reply / bare
      // comma text), so the validator's parse-vs-rescue dispatch and
      // both rescue tiers are oracle-covered.
      val enriched = Enrich.enrichColumn(
        t(s, dir, "documents"),
        concat(lit("Extract fields: "), col("text")), "raw_fields",
        new Enrich.MockFieldsClient)
      val fields = Enrich.validateFields(col("raw_fields"))
      enriched.select(col("doc_id"),
        array_join(fields, ",").as("fields"),
        size(fields).cast("long").as("n_fields"))
        .orderBy(col("doc_id"))
    }, {
      // raw responses reconstructed from the same md5-keyed three-shape
      // rule as MockFieldsClient, then the same validation chain.
      s"""WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
               x -> len(x) > 3) AS tk,
             ('0x' || substr(md5(text), 1, 1))::INT % 3 AS h
           FROM documents),
         raw AS (
           SELECT doc_id,
             CASE WHEN h = 0 THEN '[' || array_to_string(list_transform(
                 list_slice(tk, 1, 8), x -> '"' || x || '"'), ', ') || ']'
               WHEN h = 1 THEN 'Sure! The fields are: ' ||
                 array_to_string(list_transform(list_slice(tk, 1, 5),
                   x -> '"' || x || '"'), ', ') || '. Hope this helps.'
               ELSE array_to_string(list_slice(tk, 1, 5), ', ') || '.'
             END AS r
           FROM toks),
         v AS (
           SELECT doc_id,
             regexp_extract_all(r, '"([^"]+)"', 1) AS quoted,
             regexp_extract_all(r, '([\\w\\s]+)(?:,|\\.|$$)', 1) AS runs,
             CASE WHEN len(quoted) > 0 THEN quoted ELSE runs END AS cand,
             list_filter(list_transform(cand, x -> trim(x)),
               x -> len(x) > 3 AND len(x) < 50) AS cleaned,
             CASE WHEN json_valid(r) THEN
               list_slice(list_filter(list_transform(
                 from_json(r, '["VARCHAR"]'), x -> trim(x)),
                 x -> x IS NOT NULL AND x <> '' AND len(x) < 100), 1, 6)
             ELSE
               list_slice(list_filter(cleaned,
                 (x, i) -> list_position(cleaned, x) = i), 1, 6)
             END AS fields
           FROM raw)
         SELECT doc_id, array_to_string(fields, ',') AS fields,
           len(fields)::BIGINT AS n_fields
         FROM v ORDER BY doc_id"""
    }),

    Query("l2_mock_keywords", (s, dir) => {
      // L2 — the full enrichment shape: prompt-build → mapPartitions call
      // through the (mock) LlmClient → declarative post-validation
      // (stop-list, length bounds, order-preserving dedup, cap 8).
      val enriched = Enrich.enrichColumn(
        t(s, dir, "documents"),
        concat(lit("Extract keywords: "), col("text")), "raw_kw",
        new Enrich.MockKeywordClient(12))
      enriched.select(col("doc_id"),
        array_join(Enrich.validateKeywords(col("raw_kw")), ",").as("keywords"))
        .orderBy(col("doc_id"))
    }, {
      // mock: lowercase whitespace tokens with len>3, first 12, ','-joined;
      // then the L2 validation chain on the SAME reconstructed raw string.
      val stop = sqlList(Enrich.keywordStopList)
      s"""WITH raw AS (
           SELECT doc_id, array_to_string(list_slice(
             list_filter(string_split_regex(lower(text), '\\s+'),
               x -> len(x) > 3), 1, 12), ',') AS raw_kw
           FROM documents),
         v AS (
           SELECT doc_id,
             list_filter(
               list_transform(string_split(raw_kw, ','), x -> trim(x)),
               x -> x <> '' AND len(x) >= 3 AND len(x) <= 50
                 AND NOT list_contains($stop, x)) AS ks
           FROM raw)
         SELECT doc_id, array_to_string(list_slice(
           list_filter(ks, (x, i) -> list_position(ks, x) = i), 1, 8), ',')
           AS keywords
         FROM v ORDER BY doc_id"""
    }),

    Query("l3_mock_scores", (s, dir) => {
      // L3 — score enrichment: mock client returns md5(prompt); hex
      // digits become pseudo-scores, then the reference's validation
      // (clamp 0-10, derived half-up overall, default confidence).
      val enriched = Enrich.enrichColumn(
        t(s, dir, "documents"),
        concat(lit("Score: "), col("text")), "resp",
        new Enrich.MockScoreClient)
      def hv(i: Int) =
        conv(substring(col("resp"), i, 1), 16, 10).cast("int")
      enriched
        .withColumn("s", Enrich.validatedScores(hv(1), hv(2), hv(3), hv(4)))
        .select(col("doc_id"), col("s.novelty").as("novelty"),
          col("s.technical_depth").as("technical_depth"),
          col("s.clarity").as("clarity"),
          col("s.impact_potential").as("impact_potential"),
          col("s.overall_score").as("overall_score"),
          col("s.confidence").as("confidence"))
        .orderBy(col("doc_id"))
    },
      """WITH h AS (
           SELECT doc_id, md5('Score: ' || text) AS resp FROM documents),
         sc AS (
           SELECT doc_id,
             least(greatest(('0x' || substr(resp, 1, 1))::INT, 0), 10) AS novelty,
             least(greatest(('0x' || substr(resp, 2, 1))::INT, 0), 10) AS technical_depth,
             least(greatest(('0x' || substr(resp, 3, 1))::INT, 0), 10) AS clarity,
             least(greatest(('0x' || substr(resp, 4, 1))::INT, 0), 10) AS impact_potential
           FROM h)
         SELECT doc_id, novelty, technical_depth, clarity, impact_potential,
           floor((novelty + technical_depth + clarity + impact_potential)
             / 4.0 * 10.0 + 0.5) / 10.0 AS overall_score,
           0.5::DOUBLE AS confidence
         FROM sc ORDER BY doc_id"""),

    Query("l4_summary_validate", (s, dir) => {
      // L4 — contribution-summary validation: long problem text
      // truncates at 500 chars with ellipsis, list items trim/compact
      // (padded + empty entries injected to exercise both), cap 10.
      // tokens materialize at a select boundary: splicing the tokenizer
      // into the two lambda chains below re-tokenizes per element.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TA.tokens(col("text")).as("toks"))
      val contributions = concat(
        array(lit(""), lit("  ")),
        transform(slice(col("toks"), 1, 12),
          x => concat(lit("  "), x, lit(" "))))
      val scenarios = slice(col("toks"), 5, 4)
      val v = Enrich.validatedSummary(
        col("text"), trim(substring(col("text"), 1, 80)),
        contributions, scenarios)
      d.select(col("doc_id"),
        v.getField("problem").as("problem"),
        v.getField("method").as("method"),
        array_join(v.getField("key_contributions"), ",").as("contributions"),
        size(v.getField("key_contributions")).cast("long").as("n_contrib"),
        array_join(v.getField("application_scenarios"), ",").as("scenarios"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH t AS (
           SELECT doc_id, text, trim(text) AS problem0,
             trim(substring(text, 1, 80)) AS method0,
             $toks AS tk
           FROM documents),
         c AS (
           SELECT doc_id, problem0, method0,
             list_concat(['', '  '], list_transform(list_slice(tk, 1, 12),
               x -> '  ' || x || ' ')) AS contrib0,
             list_slice(tk, 5, 8) AS scen0
           FROM t),
         v AS (
           SELECT doc_id,
             CASE WHEN len(problem0) > 500
               THEN substring(problem0, 1, 500) || '...' ELSE problem0
             END AS problem,
             CASE WHEN len(method0) > 500
               THEN substring(method0, 1, 500) || '...' ELSE method0
             END AS method,
             list_slice(list_filter(list_transform(contrib0, x -> trim(x)),
               x -> x <> ''), 1, 10) AS contrib,
             list_slice(list_filter(list_transform(scen0, x -> trim(x)),
               x -> x <> ''), 1, 10) AS scen
           FROM c)
         SELECT doc_id, problem, method,
           array_to_string(contrib, ',') AS contributions,
           len(contrib)::BIGINT AS n_contrib,
           array_to_string(scen, ',') AS scenarios
         FROM v ORDER BY doc_id"""
    }),

    Query("l5_judge_normalize", (s, dir) => {
      // L5 — judge-score normalization over three response classes
      // (clean JSON / JSON buried in chatter with missing keys / no
      // JSON): missing keys default 0, normalized = round(ov/30*10, 2).
      val enriched = Enrich.enrichColumn(
        t(s, dir, "documents"),
        concat(lit("Judge: "), col("text")), "resp",
        new Enrich.MockJudgeClient)
      val v = Enrich.normalizedJudgeScores(col("resp"))
      enriched.select(
        col("doc_id") +:
          Enrich.judgeDimensions.map(n => v.getField(n).as(n)) :+
          v.getField("overall_score").as("overall_score") :+
          v.getField("overall_score_normalized")
            .as("overall_score_normalized"): _*)
        .orderBy(col("doc_id"))
    }, {
      // same md5-digit scores + three-shape variant rule as
      // MockJudgeClient; missing keys contribute 0.
      def dg(i: Int) = s"('0x' || substr(md5(text), $i, 1))::INT % 6"
      val dims = Enrich.judgeDimensions
      val dimSql = dims.zipWithIndex.map { case (n, i) =>
        val v = dg(i + 1)
        s"""CASE WHEN h = 0 THEN $v
            WHEN h = 1 AND '$n' IN ('metadata_completeness', 'semantic_clarity')
              THEN $v
            ELSE 0 END::DOUBLE AS $n"""
      }.mkString(",\n             ")
      s"""WITH v AS (
           SELECT doc_id, ('0x' || substr(md5(text), 7, 1))::INT % 3 AS h,
             $dimSql
           FROM documents),
         o AS (
           SELECT doc_id,
             ${dims.mkString(", ")},
             (${dims.mkString(" + ")}) AS overall_score
           FROM v)
         SELECT doc_id, ${dims.mkString(", ")}, overall_score,
           floor(overall_score / 30.0 * 10.0 * 100.0 + 0.5) / 100.0
             AS overall_score_normalized
         FROM o ORDER BY doc_id"""
    }),

    Query("l6t_rate_trace", (s, dir) => {
      // L6 driven into the ORACLE GATE (closing the last spec-only §2
      // cell): the AdaptiveRateLimiter's full decision trace —
      // ×1.5-on-failure capped, ×0.9-on-success floored when the
      // last-10 window clears 90% — over a deterministic 200-step
      // outcome sequence (keyed hash, ~80% success), jitter pinned to
      // 0. The oracle replays the scalar delay recurrence as a
      // recursive CTE over the same outcome table: the windowed
      // success check is the integer succ10 > 9 (count == 10), and
      // the delay chain is fixed-order IEEE ×1.5/×0.9 from 100.0 —
      // bit-identical on both engines, 6dp-floored only at the
      // output. Rate limiting is driver-side by nature (it paces the
      // API client); 200 steps is the l1-l5 mock scale.
      val outcomes = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          (Sampling.keyHash(col("doc_id"), "l6") <
            Sampling.threshold(0.8)).as("ok"))
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1)))
      val limiter = new Enrich.AdaptiveRateLimiter(100.0, 2000.0, () => 0.0)
      val trace = outcomes.map { case (step, ok) =>
        val d = limiter.delayMs
        if (ok) limiter.success() else limiter.failure()
        (step, ok, d)
      }
      import s.implicits._
      trace.toSeq.toDF("step", "ok", "_d")
        .select(col("step"), col("ok"), fround(col("_d"), 6).as("delay_ms"))
        .orderBy(col("step"))
    }, {
      // the limiter's delay recurrence as a recursive CTE over the
      // precomputed outcome sequence: succ10 is an integer window
      // count (> 9 ⇔ the 90% check), the delay chain is fixed-order
      // IEEE ×1.5::DOUBLE / ×0.9::DOUBLE from 100.0, and only the
      // emitted delay rounds
      val ok = s"('0x' || substr(md5('l6:' || doc_id::VARCHAR), 1, 7))" +
        s"::BIGINT < ${Sampling.threshold(0.8)}"
      s"""WITH RECURSIVE o AS (
           SELECT doc_id AS step, $ok AS ok FROM documents
           WHERE doc_id < 200),
         s10 AS MATERIALIZED (SELECT step, ok,
             sum(CASE WHEN ok THEN 1 ELSE 0 END) OVER (ORDER BY step
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS succ10
           FROM o),
         rec(step, d) AS (
           SELECT 0::BIGINT, 100.0::DOUBLE
           UNION ALL
           SELECT r.step + 1,
             CASE WHEN NOT s.ok
                 THEN least(2000.0::DOUBLE, r.d * 1.5::DOUBLE)
               WHEN s.step >= 9 AND s.succ10 > 9 AND r.d > 100.0::DOUBLE
                 THEN greatest(100.0::DOUBLE, r.d * 0.9::DOUBLE)
               ELSE r.d END
           FROM rec r JOIN s10 s ON s.step = r.step
           WHERE r.step < 199)
         SELECT r.step, s.ok,
           floor(greatest(100.0::DOUBLE, r.d) * 1e6 + 0.5) / 1e6
             AS delay_ms
         FROM rec r JOIN s10 s USING (step) ORDER BY step"""
    }),

    Query("l7_rag_pipeline", (s, dir) => {
      // L7 — end-to-end RAG orchestration (rag.ipynb answer_question):
      // store build → top-3 cosine retrieval per question → DISTRIBUTED
      // context assembly (collect_list per query, never a driver loop) →
      // mock answer through the enrichment harness → V5 auto metrics.
      // Similarity is embedded in the context as integer per-mille
      // (floor(cos·1000 + 0.5)) because float→string formatting is
      // engine-specific; the information content matches rag.ipynb:725.
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val store = docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), trim(substring(col("text"), 1, 40)).as("title"),
          col("text").as("doc_text"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 5)
        .join(docs, col("vec_id") === col("doc_id"))
        .select(col("vec_id").as("query_id"),
          concat(lit("What does the corpus say about: "),
            array_join(slice(TA.tokens(col("text")), 1, 6), " "))
            .as("question"),
          col("embedding").as("qv"))
      val top = Similarity.topKPerQuery(
        store, col("doc_id"), col("embedding"),
        queries, col("query_id"), col("qv"), 3)
      val ctx = top.join(store.drop("embedding"), "doc_id")
        .join(queries.select(col("query_id"), col("question")), "query_id")
        .groupBy(col("query_id"), col("question"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rank"), col("title"),
            col("doc_text"), col("cosine")))),
          e => concat(lit("["), e.getField("rank"), lit("] (sim "),
            floor(e.getField("cosine") * 1000 + 0.5).cast("int"), lit("m) "),
            e.getField("title"), lit("\n"), e.getField("doc_text"))),
          "\n\n").as("context"))
      val answered = Enrich.enrichColumn(ctx,
        concat(lit("Answer: "), col("question"), lit(" | Context: "),
          col("context")),
        "answer", new Enrich.MockKeywordClient(12))
      answered
        .select(col("query_id"), col("question"), col("answer"),
          length(col("context")).as("context_chars"),
          Rag.autoMetrics(col("question"), col("answer")).as("m"))
        .select(col("query_id"), col("question"), col("answer"),
          col("context_chars"),
          col("m.answer_words").as("answer_words"),
          col("m.keyword_overlap").as("keyword_overlap"),
          col("m.n_citations").as("n_citations"),
          col("m.auto_score").as("auto_score"))
        .orderBy(col("query_id"))
    }, {
      val cos = sqlCosine64("s.embedding", "q.qv")
      s"""WITH store AS (
           SELECT d.doc_id, trim(substr(d.text, 1, 40)) AS title,
             d.text AS doc_text, e.embedding
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         q AS (
           SELECT e.vec_id AS query_id,
             'What does the corpus say about: ' ||
               array_to_string(list_slice(${sqlTokens("d.text")}, 1, 6), ' ')
               AS question,
             e.embedding AS qv
           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
           WHERE e.vec_id < 5),
         sims AS (
           SELECT q.query_id, q.question, s.doc_id, s.title, s.doc_text,
             $cos AS cosine
           FROM q CROSS JOIN store s),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank
           FROM sims),
         ctx AS (
           SELECT query_id, question,
             string_agg('[' || rank || '] (sim ' ||
               floor(cosine * 1000 + 0.5)::INT || 'm) ' || title ||
               chr(10) || doc_text, chr(10) || chr(10) ORDER BY rank)
               AS context
           FROM ranked WHERE rank <= 3 GROUP BY query_id, question),
         ans AS (
           SELECT query_id, question, len(context)::INT AS context_chars,
             array_to_string(list_slice(list_filter(
               string_split_regex(
                 lower(question || ' | Context: ' || context), '\\s+'),
               x -> len(x) > 3), 1, 12), ',') AS answer
           FROM ctx),
         m AS (
           SELECT query_id, question, answer, context_chars,
             len(regexp_extract_all(answer, '\\w+')) AS answer_words,
             len(list_filter(list_distinct(${sqlTokens("question")}),
               x -> list_contains(list_distinct(${sqlTokens("answer")}), x)))
               AS keyword_overlap,
             len(regexp_extract_all(answer, '\\[[^\\]]*\\d+[^\\]]*\\]'))
               AS n_citations
           FROM ans)
         SELECT query_id, question, answer, context_chars,
           answer_words, keyword_overlap, n_citations,
           floor((least(1.0, answer_words / 50.0) * 0.3
             + least(1.0, keyword_overlap / 5.0) * 0.4
             + (CASE WHEN n_citations > 0 THEN 1.0 ELSE 0.5 END) * 0.3)
             * 10000.0 + 0.5) / 10000.0 AS auto_score
         FROM m ORDER BY query_id"""
    }),

    Query("l8_summary_fast", (s, dir) => {
      // L4 fast profile (enhance_summary.py:209-242): 300-char plain
      // string truncation (no ellipsis), 200-char item truncation, list
      // cap 8. Items are padded past 200 chars (rpad) so the item-level
      // cap actually fires; 2 empty + 10 padded entries exercise
      // compaction and the cap together.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TA.tokens(col("text")).as("toks"))
      val contributions = concat(
        array(lit(""), lit(" ")),
        transform(slice(col("toks"), 1, 10),
          x => rpad(concat(lit("  "), x), 210, "y")))
      val scenarios = slice(col("toks"), 5, 4)
      val v = Enrich.validatedSummaryFast(
        col("text"), trim(substring(col("text"), 1, 80)),
        contributions, scenarios)
      d.select(col("doc_id"),
        v.getField("problem").as("problem"),
        v.getField("method").as("method"),
        array_join(v.getField("key_contributions"), ",").as("contributions"),
        size(v.getField("key_contributions")).cast("long").as("n_contrib"),
        array_join(v.getField("application_scenarios"), ",").as("scenarios"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH t AS (
           SELECT doc_id, text, trim(text) AS problem0,
             trim(substring(text, 1, 80)) AS method0,
             $toks AS tk
           FROM documents),
         c AS (
           SELECT doc_id, problem0, method0,
             list_concat(['', ' '], list_transform(list_slice(tk, 1, 10),
               x -> rpad('  ' || x, 210, 'y'))) AS contrib0,
             list_slice(tk, 5, 8) AS scen0
           FROM t),
         v AS (
           SELECT doc_id,
             substring(problem0, 1, 300) AS problem,
             substring(method0, 1, 300) AS method,
             list_slice(list_filter(list_transform(contrib0,
               x -> substring(trim(x), 1, 200)), x -> x <> ''), 1, 8) AS contrib,
             list_slice(list_filter(list_transform(scen0,
               x -> substring(trim(x), 1, 200)), x -> x <> ''), 1, 8) AS scen
           FROM c)
         SELECT doc_id, problem, method,
           array_to_string(contrib, ',') AS contributions,
           len(contrib)::BIGINT AS n_contrib,
           array_to_string(scen, ',') AS scenarios
         FROM v ORDER BY doc_id"""
    })
  )
}
