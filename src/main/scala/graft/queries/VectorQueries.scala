package graft
package queries

import graft.functions.{TextAnalysis => TA, VectorFunctions => VF}
import graft.operators.{Embed, Rag, Similarity}
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Family v: vector and lexical retrieval (exact and ANN top-k, IVF,
  * PQ, BM25, hybrid fusion, reranking, retrieval metrics).
  */
object VectorQueries {

  /** v21's nDCG@10 discounts 1/log2(i+1), i = 1..10, QUANTIZED to the
    * dyadic 2⁻²⁰ grid so the per-query rel·disc sums are IEEE-exact in
    * any order (the s17/DSIR trick). The one libm log2 runs here,
    * driver-side, once — both engines consume identical literals.
    */
  private val ndcgDiscounts: Seq[Double] = (1 to 10).map { i =>
    math.floor(1.0 / (math.log(i + 1.0) / math.log(2.0)) * 1048576.0 +
      0.5) / 1048576.0
  }

  /** Ideal DCG of v21's gold list (graded rel 5..1 at ranks 1..5) —
    * an exact dyadic sum, one shared literal. */
  private val ndcgIdcg5: Double =
    (1 to 5).map(i => (6 - i) * ndcgDiscounts(i - 1)).sum

  /** v18 PQ constants shared by the query and its oracle: m subspaces
    * × subDim dims (m·subDim = the 64-dim embedding), k centroids per
    * codebook, Lloyd iterations, ADC rerank depth.
    */
  private val pqM = 4
  private val pqSubDim = 16
  private val pqK = 8
  private val pqIters = 2
  private val pqRerank = 20

  private def sqlDot64(a: String, b: String): String = sqlDot(a, b, 64)

  /** Shared v18/v20 PQ-ANN oracle chain: four per-subspace k-means
    * chains (sliced sources, prefixed CTEs), codes via the final
    * assignments, centroid-norm tables, per-query ADC LUTs, the
    * fixed-order 4-lookup score, then the approx and exact rank
    * windows — every fold written in the Spark expression's operation
    * order. `extraCtes` (v20) prepends the coarse-router CTEs and
    * `candRestrict` (v20) narrows the scored pairs to the probed
    * inverted lists.
    */
  private def sqlPqTopK(docFilter: String, queryFilter: String, k: Int,
                        extraCtes: String = "",
                        candRestrict: String = ""): String = {
    val sd = pqSubDim
    val srcs = (0 until pqM).map { s =>
      s"""pqsrc$s AS (SELECT vec_id,
           list_slice(embedding, ${s * sd + 1}, ${(s + 1) * sd})
             AS embedding
         FROM embeddings WHERE $docFilter)"""
    }.mkString(",\n")
    val kms = (0 until pqM).map { s =>
      sqlKmeansCtes(pqK, pqIters, s"pqsrc$s", s"pq${s}_", sd)
    }.mkString(",\n")
    val norms = (0 until pqM).map { s =>
      s"""pqn$s AS (SELECT cid,
           list_reduce(list_transform(cv, x -> x * x),
             (acc, x) -> acc + x) AS nn
         FROM pq${s}_cents$pqIters)"""
    }.mkString(",\n")
    val luts = (0 until pqM).map { s =>
      s"""pql$s AS (SELECT q.query_id, c.cid,
           list_reduce(list_transform(generate_series(1, $sd),
             i -> CAST(q.qe[${s * sd} + i] AS DOUBLE) * c.cv[i]),
             (acc, x) -> acc + x) AS d
         FROM pqq q CROSS JOIN pq${s}_cents$pqIters c)"""
    }.mkString(",\n")
    val extra = if (extraCtes.isEmpty) "" else s"$extraCtes,\n"
    s"""WITH $extra$srcs,
       $kms,
       pqcodes AS (
         SELECT a0.vec_id, a0.cid AS c0, a1.cid AS c1,
           a2.cid AS c2, a3.cid AS c3
         FROM pq0_final_assign a0
         JOIN pq1_final_assign a1 USING (vec_id)
         JOIN pq2_final_assign a2 USING (vec_id)
         JOIN pq3_final_assign a3 USING (vec_id)),
       $norms,
       pqrn AS (
         SELECT c.vec_id, c.c0, c.c1, c.c2, c.c3,
           sqrt(((n0.nn + n1.nn) + n2.nn) + n3.nn) AS rnorm
         FROM pqcodes c
         JOIN pqn0 n0 ON n0.cid = c.c0
         JOIN pqn1 n1 ON n1.cid = c.c1
         JOIN pqn2 n2 ON n2.cid = c.c2
         JOIN pqn3 n3 ON n3.cid = c.c3),
       pqq AS (SELECT vec_id AS query_id, embedding AS qe,
           sqrt(${sqlDot64("embedding", "embedding")}) AS qnorm
         FROM embeddings WHERE $queryFilter),
       $luts,
       pqsc AS (
         SELECT q.query_id, r.vec_id AS doc_id,
           CASE WHEN r.rnorm * q.qnorm > 0
             THEN (((l0.d + l1.d) + l2.d) + l3.d) / (r.rnorm * q.qnorm)
           END AS approx_cosine
         FROM pqrn r CROSS JOIN pqq q
         JOIN pql0 l0 ON l0.query_id = q.query_id AND l0.cid = r.c0
         JOIN pql1 l1 ON l1.query_id = q.query_id AND l1.cid = r.c1
         JOIN pql2 l2 ON l2.query_id = q.query_id AND l2.cid = r.c2
         JOIN pql3 l3 ON l3.query_id = q.query_id AND l3.cid = r.c3
         $candRestrict),
       pqa AS (SELECT query_id, doc_id, approx_cosine,
           row_number() OVER (PARTITION BY query_id
             ORDER BY approx_cosine DESC, doc_id) AS arank
         FROM pqsc),
       pqex AS (SELECT c.query_id, c.doc_id, c.approx_cosine,
           ${sqlCosine64("de.embedding", "qe.embedding")} AS cosine
         FROM pqa c
         JOIN embeddings de ON de.vec_id = c.doc_id
         JOIN embeddings qe ON qe.vec_id = c.query_id
         WHERE c.arank <= $pqRerank),
       pqrk AS (SELECT query_id, doc_id, cosine, approx_cosine,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, doc_id) AS rank
         FROM pqex)
       SELECT query_id, doc_id, ${sqlFround("cosine", 6)} AS cosine,
         ${sqlFround("approx_cosine", 6)} AS approx_cosine, rank
       FROM pqrk WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** v8: [[sqlKmeansCtes]] + the cluster-size/cohesion rollup. */
  private def sqlKmeansRollup(k: Int, iters: Int): String =
    s"""WITH ${sqlKmeansCtes(k, iters)}
       SELECT cid, count(*) AS n_vecs, ${sqlFround("avg(cos)", 6)} AS cohesion
       FROM final_assign GROUP BY cid ORDER BY cid"""

  val all: Seq[Query] = Seq(
    Query("v1_cosine_topk", (s, dir) => {
      // V3 — brute-force cosine top-k against a query vector
      // (RAG/rag.ipynb:488-530). Query vec broadcast; one scan, global
      // TakeOrderedAndProject for the k survivors.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          fround(VF.cosine(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         sims AS (
           SELECT e.vec_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS s
           FROM embeddings e, q WHERE e.vec_id <> 0)
         SELECT vec_id, floor((s) * 1e6 + 0.5) / 1e6 AS sim FROM sims
         ORDER BY sim DESC, vec_id LIMIT 10"""),

    Query("v2_ann_topk_batch", (s, dir) => {
      // Batch ANN baseline: 5 query vectors broadcast against the corpus,
      // brute-force cosine, ranked top-5 per query in one corpus scan.
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      val docs = e.filter(col("vec_id") >= 5)
      Similarity.topKPerQuery(
          docs, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 5)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 5),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine FROM d, q),
         r AS (SELECT query_id, doc_id, cosine, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank FROM s)
         SELECT query_id, doc_id, floor((cosine) * 1e6 + 0.5) / 1e6 AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),

    Query("v3_neardup_lsh", (s, dir) => {
      // Embedding-cosine near-dup pairs via hyperplane LSH banding +
      // exact cosine confirm — the scale path for pairwise similarity
      // (bucket-local candidates instead of n² pairs).
      Similarity.nearDupPairsLsh(
          t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
          threshold = 0.3, dim = 64)
        .select(col("id_a"), col("id_b"), fround(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }, {
      val planes = Similarity.hyperplanes(16, 64)
      val planesLit = planes.map(_.mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
      // band code = band·16 + Σ sign-bit·2^j over the band's 4 planes;
      // identical to Similarity.lshBandKeys(struct(band, key)) pair-wise.
      s"""WITH pl AS (SELECT $planesLit AS p),
         keyed AS (
           SELECT vec_id, unnest(list_transform(generate_series(0, 3), b ->
             b * 16 + list_reduce(list_transform(generate_series(0, 3), j ->
               CASE WHEN list_reduce(list_transform(generate_series(1, 64),
                   i -> CAST(embedding[i] AS DOUBLE) * p[(b * 4 + j + 1)::INT][i::INT]),
                   (acc, x) -> acc + x) >= 0
               THEN (1 << j::INT) ELSE 0 END), (acc, x) -> acc + x))) AS bk
           FROM embeddings, pl),
         cands AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM keyed a JOIN keyed b ON a.bk = b.bk AND a.vec_id < b.vec_id),
         sim AS (
           SELECT c.id_a, c.id_b,
             ${sqlCosine64("ea.embedding", "eb.embedding")} AS cosine
           FROM cands c
           JOIN embeddings ea ON c.id_a = ea.vec_id
           JOIN embeddings eb ON c.id_b = eb.vec_id)
         SELECT id_a, id_b, floor((cosine) * 1e6 + 0.5) / 1e6 AS cosine
         FROM sim WHERE cosine >= 0.3 ORDER BY id_a, id_b"""
    }),

    Query("v4_tf_embedding", (s, dir) => {
      // V1 — deterministic TF (bag-of-words) embedding over the global
      // top-16 vocabulary, L2-normalized (RAG/rag.ipynb:413-436
      // fallback embedding path). Vocabulary ranking is frequency-desc
      // with token tie-break; the vector assembles via map lookup so
      // zero-count dimensions materialize.
      val d = t(s, dir, "documents")
      // ONE tokenize: the (doc_id, tok, n) aggregate — far smaller than
      // the raw exploded tokens — lazily checkpoints, and both the
      // vocab build and the vectorize read the stored blocks (the d23
      // discipline; exchange reuse can't do it because column pruning
      // gives the two consumers different schemas). r16 A/B at sf0.1
      // vs the two-scan form: median tied (2.18/2.19 s), min 2.08→1.99,
      // cold first-run 6.0→3.1 s — adopted for the halved tokenize
      // under driver CPU contention (the r15 v4 regression class).
      val dtok = d.select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      // Global top-16 via orderBy+limit (TakeOrderedAndProject: partial
      // per-partition top-k, tiny driver merge) — the rank window then
      // only ever sees 16 rows, never the whole vocabulary.
      val vocab = dtok.groupBy(col("tok")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(16)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
        .select(col("tok"), col("rank"))
      val counts = dtok.join(broadcast(vocab), "tok")
        .select(col("doc_id"), col("rank"), col("n"))
      val vecs = counts.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("rank"), col("n")))).as("m"))
      val tf = transform(sequence(lit(1), lit(16)),
        r => coalesce(element_at(col("m"), r), lit(0L)))
      d.join(vecs, Seq("doc_id"), "left")
        .select(col("doc_id"), VF.normalize(tf).as("v"))
        .select(col("doc_id"),
          fround(element_at(col("v"), 1), 6).as("c1"),
          fround(element_at(col("v"), 2), 6).as("c2"),
          fround(element_at(col("v"), 3), 6).as("c3"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      def nr(r: Int) = s"sum(CASE WHEN rank = $r THEN n ELSE 0 END)"
      s"""WITH ex AS (
           SELECT doc_id, unnest($toks) AS tok FROM documents),
         vocab AS (
           SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rank
           FROM ex GROUP BY tok QUALIFY rank <= 16),
         counts AS (
           SELECT doc_id, rank, count(*) AS n
           FROM ex JOIN vocab USING (tok) GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, ${(1 to 16).map(r => s"${nr(r)} AS n$r").mkString(", ")},
             sum(n * n) AS ss
           FROM counts GROUP BY doc_id)
         SELECT d.doc_id,
           floor((CASE WHEN ss > 0 THEN n1 / sqrt(ss) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS c1,
           floor((CASE WHEN ss > 0 THEN n2 / sqrt(ss) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS c2,
           floor((CASE WHEN ss > 0 THEN n3 / sqrt(ss) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS c3
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id"""
    }),

    Query("v5_auto_metrics", (s, dir) => {
      // V5 — automatic answer metrics (rag.ipynb:770-880): the
      // "question" is the doc's 8-token prefix, the "answer" its full
      // text; metrics + weighted auto score as one codegen'd projection.
      val d = t(s, dir, "documents")
      val question = array_join(slice(TA.tokens(col("text")), 1, 8), " ")
      d.select(col("doc_id"), Rag.autoMetrics(question, col("text")).as("m"))
        .select(col("doc_id"),
          col("m.answer_chars").as("answer_chars"),
          col("m.answer_words").as("answer_words"),
          col("m.keyword_overlap").as("keyword_overlap"),
          col("m.n_citations").as("n_citations"),
          col("m.auto_score").as("auto_score"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH q AS (
           SELECT doc_id, text,
             array_to_string(list_slice($toks, 1, 8), ' ') AS question
           FROM documents),
         m AS (
           SELECT doc_id,
             len(text) AS answer_chars,
             len(regexp_extract_all(text, '\\w+')) AS answer_words,
             len(list_filter(list_distinct(${sqlTokens("question")}),
               x -> list_contains(list_distinct(${sqlTokens("text")}), x)))
               AS keyword_overlap,
             len(regexp_extract_all(text, '\\[[^\\]]*\\d+[^\\]]*\\]'))
               AS n_citations
           FROM q)
         SELECT doc_id, answer_chars, answer_words, keyword_overlap, n_citations,
           floor((least(1.0, answer_words / 50.0) * 0.3
             + least(1.0, keyword_overlap / 5.0) * 0.4
             + (CASE WHEN n_citations > 0 THEN 1.0 ELSE 0.5 END) * 0.3)
             * 10000.0 + 0.5) / 10000.0 AS auto_score
         FROM m ORDER BY doc_id"""
    }),

    Query("v6_ann_topk_planned", (s, dir) => {
      // The custom whole-operator tier: grouped top-k planned through
      // the TopKPerKey logical node → TopKPerKeyStrategy → two-phase
      // TopKPerKeyExec (partial bounded heaps, one hash exchange, final
      // exact). The row_number ≤ 5 window trims map-side too
      // (WindowGroupLimit), but sorts each partition where this keeps
      // heaps: 0.81× its wall at sf0.1 (TopKPerKey's Scaladoc).
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val sims = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("doc_id"), col("embedding").as("dv"))
        .crossJoin(broadcast(queries))
        .select(col("query_id"), col("doc_id"),
          graft.expressions.CosineSim(col("dv"), col("qv")).as("cosine"))
      graft.plans.TopKPerKey(sims, col("query_id"), col("cosine"), 5)
        .select(col("query_id"), col("doc_id"), fround(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("doc_id"))
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 5),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine FROM d, q),
         r AS (SELECT query_id, doc_id, cosine, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank FROM s)
         SELECT query_id, doc_id, floor((cosine) * 1e6 + 0.5) / 1e6 AS cosine
         FROM r WHERE rank <= 5 ORDER BY query_id, cosine DESC, doc_id"""),

    Query("v7_ivf_topk", (s, dir) => {
      // IVF-partitioned ANN: 8 centroid vectors, nprobe=2 — each query
      // scans ~1/4 of the corpus instead of all of it. Deterministic
      // (argmax ties by centroid id), so exactly oracle-checkable even
      // though recall < 1 by design.
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
          e.filter(col("vec_id") >= 13), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") >= 8 && col("vec_id") < 13),
          col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 8), col("vec_id"), col("embedding"),
          k = 5, nprobe = 2)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id < 8),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 13),
         q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id >= 8 AND vec_id < 13),
         assign AS (
           SELECT doc_id, dv, cid FROM (
             SELECT doc_id, dv, cid, row_number() OVER (
               PARTITION BY doc_id
               ORDER BY ${sqlCosine64("dv", "cv")} DESC, cid) AS rn
             FROM d, c) WHERE rn = 1),
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT query_id, qv, cid, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("qv", "cv")} DESC, cid) AS rn
             FROM q, c) WHERE rn <= 2),
         ranked AS (
           SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
           FROM probes JOIN assign USING (cid))
         SELECT query_id, doc_id, floor((cosine) * 1e6 + 0.5) / 1e6 AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    Query("v8_kmeans_ivf", (s, dir) => {
      // V3'/IVF training path — deterministic Lloyd k-means (cosine
      // argmax assignment, per-dim means, floor-stable 6-decimal
      // centroid rounding each step so the oracle replicates bit-for-
      // bit) followed by the cluster rollup: list sizes + mean cosine
      // to the owning centroid (cohesion).
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(
        emb, col("vec_id"), col("embedding"), 4, 2)
      val best = Similarity.centroidArgmax(col("embedding"), cents)
      emb.select(col("vec_id"),
          (-best.getField("ncid")).cast("long").as("cid"),
          best.getField("cos").as("cos"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          fround(avg(col("cos")), 6).as("cohesion"))
        .orderBy(col("cid"))
    }, sqlKmeansRollup(4, 2)),

    Query("v9_store_build", (s, dir) => {
      // T20/V2 — embedding_text template + vector-store build + parquet
      // round-trip (rag.ipynb:134-154, 446-486): deterministic
      // title/authors/abstract derive from the text (same recipe family
      // as s6/c4), buildStore projects the store row, the store writes
      // to parquet (the store IS a columnar table here) and reads back.
      // The oracle recomputes doc_text from scratch, so equality proves
      // the template and the store hop.
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val toks = TA.tokens(col("text"))
      val authors = transform(slice(toks, 1, 3),
        tk => concat(lit("dr. "), tk))
      val store = Rag.buildStore(
        d.join(e, col("doc_id") === col("vec_id")),
        col("doc_id"), trim(substring(col("text"), 1, 40)), authors,
        col("text"), col("embedding"))
      val out = scratchDir("graft_v9")
      store.write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(col("paper_id"),
          length(col("doc_text")).cast("long").as("doc_chars"),
          md5(col("doc_text")).as("doc_md5"),
          col("title"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("paper_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents),
         s AS (
           SELECT doc_id AS paper_id,
             'Paper Title: ' || trim(substring(text, 1, 40)) || chr(10) ||
             'Authors: ' || array_to_string(
               list_transform(list_slice(tk, 1, 3), x -> 'dr. ' || x), ', ')
               || chr(10) ||
             'Abstract: ' || substring(text, 1, 500) AS doc_text,
             trim(substring(text, 1, 40)) AS title
           FROM t)
         SELECT s.paper_id, length(doc_text)::BIGINT AS doc_chars,
           md5(doc_text) AS doc_md5, s.title,
           len(e.embedding)::BIGINT AS dim
         FROM s JOIN embeddings e ON e.vec_id = s.paper_id
         ORDER BY s.paper_id"""
    }),

    Query("v10_quantized_ann", (s, dir) => {
      // Int8 scalar-quantized ANN + exact rerank (beyond the reference;
      // the memory-bandwidth scale path): 3-query batch broadcast,
      // candidate scoring over int8 codes (scales cancel in cosine),
      // top-20 per query rerank with exact float cosine, final top-5.
      val e = t(s, dir, "embeddings")
      Similarity.quantizedTopK(
          e.filter(col("vec_id") >= 3), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
          k = 5, rerank = 20)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"),
          fround(col("approx_cosine"), 6).as("approx_cosine"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, {
      def codes(src: String) =
        s"""CASE WHEN sc > 0
            THEN list_transform($src, x -> (floor(CAST(x AS DOUBLE) / sc + 0.5))::BIGINT)
            ELSE list_transform($src, x -> 0::BIGINT) END"""
      def isum(e: String) = s"list_reduce($e, (x, y) -> x + y)"
      def sq(code: String) = s"sqrt(${isum(s"list_transform($code, x -> x * x)")}::DOUBLE)"
      s"""WITH dq AS (
           SELECT vec_id, embedding,
             list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
               (a, b) -> greatest(a, b)) / 127.0 AS sc
           FROM embeddings WHERE vec_id >= 3),
         d AS (
           SELECT vec_id AS doc_id, embedding AS dv,
             ${codes("embedding")} AS code FROM dq),
         qq AS (
           SELECT vec_id, embedding,
             list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
               (a, b) -> greatest(a, b)) / 127.0 AS sc
           FROM embeddings WHERE vec_id < 3),
         q AS (
           SELECT vec_id AS query_id, embedding AS qv,
             ${codes("embedding")} AS qcode FROM qq),
         ap AS (
           SELECT q.query_id, d.doc_id, d.dv, q.qv,
             CASE WHEN ${sq("d.code")} * ${sq("q.qcode")} > 0
               THEN ${isum("list_transform(generate_series(1, 64), i -> d.code[i] * q.qcode[i])")}::DOUBLE
                 / (${sq("d.code")} * ${sq("q.qcode")})
             END AS approx_cosine
           FROM d CROSS JOIN q),
         cand AS (
           SELECT * FROM (
             SELECT query_id, doc_id, dv, qv, approx_cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY approx_cosine DESC, doc_id) AS arank
             FROM ap) WHERE arank <= 20),
         ex AS (
           SELECT query_id, doc_id, ${sqlCosine64("dv", "qv")} AS cosine,
             approx_cosine FROM cand),
         rk AS (
           SELECT query_id, doc_id, cosine, approx_cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, doc_id) AS rank
           FROM ex)
         SELECT query_id, doc_id, ${sqlFround("cosine", 6)} AS cosine,
           ${sqlFround("approx_cosine", 6)} AS approx_cosine, rank
         FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""
    }),

    Query("v11_ivf_persisted", (s, dir) => {
      // The IVF build-once/probe-many lifecycle (the bloom save/load
      // pattern, for ANN): index persists as centroids + hive-
      // partitioned inverted lists (via the size-targeted sink), then
      // the probe reads ONLY its nprobe list directories — partition
      // pruning makes query IO ∝ nprobe/C of the corpus, with zero
      // assignment work at serve time.
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      // full lifecycle under ONE membership oracle (the d15 pattern):
      // base build over the even half, committed append of the odd
      // half, compaction folding both into one merged generation, probe
      val idx = scratchDir("graft_v11") + "/ivf"
      if (verifyScale(e, s"$dir#embeddings")) {
        Similarity.saveIvfIndex(
          e.filter(col("vec_id") >= 13 && col("vec_id") % 2 === 0),
          col("vec_id"), col("embedding"),
          cents, idx, targetRows = 10000L, spread = 2)
        Similarity.appendIvfIndex(s, idx,
          e.filter(col("vec_id") >= 13 && col("vec_id") % 2 =!= 0),
          col("vec_id"), col("embedding"),
          targetRows = 10000L, spread = 2, batchId = Some(0L)): Unit
        Similarity.compactIvfIndex(s, idx, upTo = 0L,
          targetRows = 10000L, spread = 2): Unit
      } else
        Similarity.saveIvfIndex(
          e.filter(col("vec_id") >= 13), col("vec_id"), col("embedding"),
          cents, idx, targetRows = 10000L, spread = 2)
      Similarity.ivfTopKIndexed(s, idx,
          e.filter(col("vec_id") >= 8 && col("vec_id") < 13),
          col("vec_id").as("query_id"), col("embedding"),
          k = 4, nprobe = 3)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id < 8),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 13),
         q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id >= 8 AND vec_id < 13),
         assign AS (
           SELECT doc_id, dv, cid FROM (
             SELECT doc_id, dv, cid, row_number() OVER (
               PARTITION BY doc_id
               ORDER BY ${sqlCosine64("dv", "cv")} DESC, cid) AS rn
             FROM d, c) WHERE rn = 1),
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT query_id, qv, cid, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("qv", "cv")} DESC, cid) AS rn
             FROM q, c) WHERE rn <= 3),
         ranked AS (
           SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
           FROM probes JOIN assign USING (cid))
         SELECT query_id, doc_id, floor((cosine) * 1e6 + 0.5) / 1e6 AS cosine, rank
         FROM ranked WHERE rank <= 4 ORDER BY query_id, rank"""),

    Query("v12_embed_topk", (s, dir) => {
      // Engine-side embedding inference (the reference's batch-32
      // sentence-transformer encode, rag.ipynb:359-374): documents
      // embed through Embed.embedColumn — ONE client call per
      // mapPartitions batch behind the EmbeddingClient trait (the
      // deterministic mock here; HttpEmbeddingClient is the live
      // drop-in) — and the fresh array<float> column feeds the
      // existing brute top-k path unchanged.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = Embed.embedColumn(docs, col("text"), "emb",
        new Embed.MockHashEmbeddingClient(dim = 8), batchSize = 32)
      val queries = emb.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("emb").as("qv"))
      Similarity.topKPerQuery(
          emb.filter(col("doc_id") >= 5), col("doc_id"), col("emb"),
          queries, col("qid"), col("qv"), k = 5)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH emb AS (SELECT doc_id,
             ${sqlMockEmbedding("text", 8)} AS v FROM documents),
         q AS (SELECT doc_id AS query_id, v AS qv FROM emb WHERE doc_id < 5),
         d AS (SELECT doc_id, v AS dv FROM emb WHERE doc_id >= 5),
         s AS (SELECT query_id, doc_id,
             ${sqlCosine("dv", "qv", 8)} AS cosine FROM d, q),
         r AS (SELECT query_id, doc_id, cosine, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank FROM s)
         SELECT query_id, doc_id, floor((cosine) * 1e6 + 0.5) / 1e6 AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),

    Query("v13_ivf_recall", (s, dir) => {
      // Recall drift of the frozen-centroid append path (v11's
      // maintenance cousin): base corpus indexes against the v11
      // centroids, a second batch APPENDS with centroids frozen, and
      // recall@5 of the probe vs exact brute cosine over the full
      // corpus is the re-center signal — the number that says when
      // appendIvfIndex's freeze has drifted too far. Deterministic
      // end to end (same argmax/tie rules as v7/v11), so the whole
      // measurement is oracle-checked, not just the exact side.
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val idx = scratchDir("graft_v13") + "/ivf"
      Similarity.saveIvfIndex(
        e.filter(col("vec_id") >= 13 && col("vec_id") < 40),
        col("vec_id"), col("embedding"), cents, idx,
        targetRows = 10000L, spread = 2)
      Similarity.appendIvfIndex(s, idx,
        e.filter(col("vec_id") >= 40), col("vec_id"), col("embedding"),
        targetRows = 10000L, spread = 2)
      val queries = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
      val approx = Similarity.ivfTopKIndexed(s, idx,
        queries, col("vec_id").as("query_id"), col("embedding"),
        k = 5, nprobe = 2)
      val exact = Similarity.topKPerQuery(
        e.filter(col("vec_id") >= 13), col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 5)
      Similarity.recallAtK(approx, exact, k = 5)
        .select(col("query_id"), col("n_exact"), col("n_hit"),
          fround(col("recall"), 6).as("recall"))
        .orderBy(col("query_id"))
    },
      // append freezes the saved centroids, so assigning the full
      // corpus (base ∪ appended) against them in one pass replays the
      // save-then-append index state exactly
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id < 8),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 13),
         q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id >= 8 AND vec_id < 13),
         assign AS (
           SELECT doc_id, dv, cid FROM (
             SELECT doc_id, dv, cid, row_number() OVER (
               PARTITION BY doc_id
               ORDER BY ${sqlCosine64("dv", "cv")} DESC, cid) AS rn
             FROM d, c) WHERE rn = 1),
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT query_id, qv, cid, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("qv", "cv")} DESC, cid) AS rn
             FROM q, c) WHERE rn <= 2),
         approx AS (
           SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
             FROM probes JOIN assign USING (cid)) WHERE rank <= 5),
         exact AS (
           SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
             FROM d, q) WHERE rank <= 5)
         SELECT e.query_id, count(*)::BIGINT AS n_exact,
           count(a.doc_id)::BIGINT AS n_hit,
           ${sqlFround("count(a.doc_id)::DOUBLE / count(*)", 6)} AS recall
         FROM exact e LEFT JOIN approx a USING (query_id, doc_id)
         GROUP BY e.query_id ORDER BY e.query_id"""),

    Query("v14_ivf_recenter", (s, dir) => {
      // The complete IVF maintenance loop, measured end to end: build
      // (v11) → frozen-centroid append (v13) → RE-CENTER
      // (Similarity.recenterIvfIndex: re-train k-means over the
      // indexed vectors, rebuild once) → probe both indexes and score
      // recall@5 against exact brute cosine. One row per query with
      // frozen vs re-centered recall side by side — the before/after
      // of the re-center decision v13's number triggers. Deterministic
      // k-means (v8's rules) keeps the WHOLE lifecycle oracle-checked.
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val idx = scratchDir("graft_v14") + "/ivf"
      Similarity.saveIvfIndex(
        e.filter(col("vec_id") >= 13 && col("vec_id") < 40),
        col("vec_id"), col("embedding"), cents, idx,
        targetRows = 10000L, spread = 2)
      Similarity.appendIvfIndex(s, idx,
        e.filter(col("vec_id") >= 40), col("vec_id"), col("embedding"),
        targetRows = 10000L, spread = 2)
      val out = scratchDir("graft_v14r") + "/ivf"
      Similarity.recenterIvfIndex(s, idx, out, k = 4, iters = 2,
        targetRows = 10000L, spread = 2)
      val queries = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
      val exact = Similarity.topKPerQuery(
        e.filter(col("vec_id") >= 13), col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 5)
      def rec(path: String) = Similarity.recallAtK(
        Similarity.ivfTopKIndexed(s, path,
          queries, col("vec_id").as("query_id"), col("embedding"),
          k = 5, nprobe = 2),
        exact, k = 5)
      rec(idx)
        .select(col("query_id"), col("n_exact"),
          col("n_hit").as("n_hit_frozen"),
          fround(col("recall"), 6).as("recall_frozen"))
        .join(rec(out)
          .select(col("query_id"), col("n_hit").as("n_hit_recentered"),
            fround(col("recall"), 6).as("recall_recentered")),
          Seq("query_id"))
        .orderBy(col("query_id"))
    }, {
      // frozen branch = the v13 CTEs; re-centered branch = k-means
      // retrained over the SAME index subset (srcidx), then assignment
      // + probe + rank against the new centroids
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id < 8),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 13),
         q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id >= 8 AND vec_id < 13),
         srcidx AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id >= 13),
         ${sqlKmeansCtes(4, 2, "srcidx")},
         assignF AS (
           SELECT doc_id, dv, cid FROM (
             SELECT doc_id, dv, cid, row_number() OVER (
               PARTITION BY doc_id
               ORDER BY ${sqlCosine64("dv", "cv")} DESC, cid) AS rn
             FROM d, c) WHERE rn = 1),
         probesF AS (
           SELECT query_id, qv, cid FROM (
             SELECT query_id, qv, cid, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("qv", "cv")} DESC, cid) AS rn
             FROM q, c) WHERE rn <= 2),
         approxF AS (
           SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
             FROM probesF JOIN assignF USING (cid)) WHERE rank <= 5),
         probesR AS (
           SELECT query_id, qv, cid FROM (
             SELECT query_id, qv, cid, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("qv", "cv")} DESC, cid) AS rn
             FROM q, cents2) WHERE rn <= 2),
         approxR AS (
           SELECT query_id, vec_id AS doc_id FROM (
             SELECT p.query_id, fa.vec_id, row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY ${sqlCosine64("fa.embedding", "p.qv")} DESC,
                 fa.vec_id) AS rank
             FROM probesR p JOIN final_assign fa USING (cid))
           WHERE rank <= 5),
         exact AS (
           SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
             FROM d, q) WHERE rank <= 5)
         SELECT e.query_id, count(*)::BIGINT AS n_exact,
           count(f.doc_id)::BIGINT AS n_hit_frozen,
           ${sqlFround("count(f.doc_id)::DOUBLE / count(*)", 6)}
             AS recall_frozen,
           count(r.doc_id)::BIGINT AS n_hit_recentered,
           ${sqlFround("count(r.doc_id)::DOUBLE / count(*)", 6)}
             AS recall_recentered
         FROM exact e
         LEFT JOIN approxF f USING (query_id, doc_id)
         LEFT JOIN approxR r USING (query_id, doc_id)
         GROUP BY e.query_id ORDER BY e.query_id"""
    }),

    Query("v15_bm25_topk", (s, dir) => {
      // Okapi BM25 lexical top-10 per keyword query — the sparse
      // retrieval leg (Rag.bm25; only postings matching the literal
      // query vocabulary ever shuffle). Scores round to 6 before
      // ranking so rank ties are cross-engine deterministic.
      val d = t(s, dir, "documents")
      Rag.bm25(d, col("doc_id"), col("text"), bm25Queries, bm25K1, bm25B)
        .select(col("query_id"), col("doc_id"),
          fround(col("score"), 6).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rank") <= 10)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH ${sqlBm25("true")}
         SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         FROM lexsc QUALIFY rank <= 10 ORDER BY query_id, rank"""),

    Query("v16_hybrid_rrf", (s, dir) => {
      // Hybrid retrieval: the BM25 lexical leg fused with the dense
      // cosine leg by reciprocal-rank fusion (Rag.rrfFuse, k=60).
      // Corpus pairing is doc_id = vec_id (the synthetic store); query
      // q's dense vector is embeddings row q, and rows 0..2 are
      // excluded from BOTH candidate sets so neither leg retrieves a
      // query's own vector. Each leg contributes its top-20; fusion
      // cost is (queries × 40) rows regardless of corpus size.
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val nq = bm25Queries.size
      val lex = Rag.bm25(
          d.filter(col("doc_id") >= nq), col("doc_id"), col("text"),
          bm25Queries, bm25K1, bm25B)
        .select(col("query_id"), col("doc_id"),
          fround(col("score"), 6).as("s"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("s").desc, col("doc_id"))))
        .filter(col("rank") <= 20)
      val dense = Similarity.topKPerQuery(
        e.filter(col("vec_id") >= nq), col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < nq),
        col("vec_id"), col("embedding"), k = 20)
      Rag.rrfFuse(Seq(lex, dense), rrfK)
        .select(col("query_id"), col("doc_id"),
          fround(col("rrf"), 6).as("rrf"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rank") <= 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // Both legs replayed end to end: the BM25 chain over doc_id >= nq,
      // the dense cosine ranked on the RAW cosine (topKPerQuery ranks
      // unrounded), then the RRF union-sum, 6-rounded before the final
      // deterministic rank.
      s"""WITH ${sqlBm25(s"doc_id >= ${bm25Queries.size}")},
         lex AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM lexsc QUALIFY rank <= 20),
         dq AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < ${bm25Queries.size}),
         dd AS (SELECT vec_id AS doc_id, embedding AS dv
           FROM embeddings WHERE vec_id >= ${bm25Queries.size}),
         dsim AS (SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine FROM dd, dq),
         dense AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank
           FROM dsim QUALIFY rank <= 20),
         fused AS (SELECT query_id, doc_id,
             ${sqlFround(s"sum(1.0 / ($rrfK + rank))", 6)} AS rrf
           FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
           GROUP BY 1, 2)
         SELECT query_id, doc_id, rrf, row_number() OVER (
             PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
         FROM fused QUALIFY rank <= 10 ORDER BY query_id, rank"""),

    Query("v17_bm25_indexed", (s, dir) => {
      // The persisted-inverted-index lifecycle for lexical retrieval:
      // build once (postings + df hive-bucketed by term, 1-row stats),
      // then the probe prunes BOTH reads to the query vocabulary's
      // buckets — corpus text is never re-scanned at serve time. The
      // scoring tail is the exact v15 expression tree, so the oracle is
      // v15's SQL chain verbatim (the index round trip is lossless).
      // full lifecycle under the ONE v15 oracle (the d15/v11 pattern):
      // base build over the even half, committed append of the odd
      // half, compaction folding both (postings deduped, df recomputed,
      // stats provenance-deduped), then the pruned probe
      val d = t(s, dir, "documents")
      val idx = scratchDir("graft_v17") + "/bm25"
      if (verifyScale(d, s"$dir#documents")) {
        Rag.saveBm25Index(d.filter(col("doc_id") % 2 === 0),
          col("doc_id"), col("text"), idx,
          buckets = 16, targetRows = 100000L, spread = 2)
        Rag.appendBm25Index(d.filter(col("doc_id") % 2 =!= 0),
          col("doc_id"), col("text"), idx,
          targetRows = 100000L, spread = 2, batchId = Some(1L)): Unit
        Rag.compactBm25Index(s, idx, upTo = 1L,
          targetRows = 100000L, spread = 2): Unit
      } else
        Rag.saveBm25Index(d, col("doc_id"), col("text"), idx,
          buckets = 16, targetRows = 100000L, spread = 2)
      Rag.bm25Indexed(s, idx, bm25Queries, bm25K1, bm25B)
        .select(col("query_id"), col("doc_id"),
          fround(col("score"), 6).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rank") <= 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // identical to v15 by design: the persisted index must reproduce
      // the direct scan-path scores bit-for-bit
      s"""WITH ${sqlBm25("true")}
         SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         FROM lexsc QUALIFY rank <= 10 ORDER BY query_id, rank"""),

    Query("v18_pq_topk", (s, dir) => {
      // Product-quantization ANN + exact rerank (beyond the reference;
      // the cache-resident memory path past v10's int8 codes): 4×16-dim
      // codebooks trained per subspace with the shared deterministic
      // k-means, docs carry 4 codes + a reconstruction norm, each
      // broadcast query precomputes its 32-entry ADC lookup table at a
      // select boundary, candidates score with 4 array lookups per
      // pair, top-20 rerank with exact cosine, final top-5. The oracle
      // replays all four codebooks, the codes, the LUTs, and both
      // rank windows.
      val e = t(s, dir, "embeddings")
      val docs = e.filter(col("vec_id") >= 3)
      val books = Similarity.pqCodebooks(docs, col("vec_id"),
        col("embedding"), pqM, pqSubDim, pqK, pqIters)
      Similarity.pqTopK(docs, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
          books, pqSubDim, k = 5, rerank = pqRerank)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"),
          fround(col("approx_cosine"), 6).as("approx_cosine"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // the full PQ replay lives in sqlPqTopK (shared with v20, which
      // adds the coarse IVF router on top)
      sqlPqTopK("vec_id >= 3", "vec_id < 3", k = 5)),

    Query("v19_rerank", (s, dir) => {
      // Two-stage serving stack (beyond the reference): BM25 retrieves
      // top-10 candidates per query, an injectable cross-encoder
      // reranks them, top-5 survive on (ce, bm25, doc_id). The scorer
      // runs on queries×10 rows through a batched mapPartitions client
      // — at 100 TB the cross-encoder cost is independent of corpus
      // size, which is the entire bi-encoder→cross-encoder economics.
      // The deterministic overlap mock stands in for the model (the
      // Embed harness precedent); the oracle replays it from the
      // shared tokenizer constant.
      val d = t(s, dir, "documents")
      val ranked = Rag.bm25(d, col("doc_id"), col("text"), bm25Queries,
          bm25K1, bm25B)
        .select(col("query_id"), col("doc_id"),
          fround(col("score"), 6).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rank") <= 10)
      val qtext = s.createDataFrame(
          bm25Queries.map { case (q, ts) => (q, ts.mkString(" ")) })
        .toDF("query_id", "qtext")
      // candidate hydration: the bounded candidate list broadcasts onto
      // the corpus scan — text is fetched for 30 rows, never shuffled
      val cands = d.select(col("doc_id"), col("text"))
        .join(broadcast(ranked.join(broadcast(qtext), "query_id")),
          "doc_id")
      Rag.rerank(cands, col("qtext"), col("text"),
          new Rag.OverlapRerankClient, batchSize = 16)
        .select(col("query_id"), col("doc_id"), col("score"),
          fround(col("ce_score"), 6).as("ce"))
        .withColumn("rr", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("ce").desc, col("score").desc, col("doc_id"))))
        .filter(col("rr") <= 5)
        .orderBy(col("query_id"), col("rr"))
    }, {
      val qvals = bm25Queries.map { case (q, ts) =>
        s"($q, [${ts.map(t => s"'$t'").mkString(", ")}])"
      }.mkString(", ")
      s"""WITH ${sqlBm25("true")},
         rk AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM lexsc),
         cand AS (SELECT query_id, doc_id, score FROM rk WHERE rank <= 10),
         qt(query_id, qterms) AS (VALUES $qvals),
         dt AS (SELECT doc_id, ${sqlTokens("text")} AS toks
           FROM documents),
         ce AS (SELECT c.query_id, c.doc_id, c.score,
             ${sqlFround(
               "len(list_filter(qterms, t -> list_contains(toks, t)))::DOUBLE" +
                 " / len(qterms)", 6)} AS ce
           FROM cand c JOIN qt ON c.query_id = qt.query_id
           JOIN dt ON c.doc_id = dt.doc_id)
         SELECT query_id, doc_id, score, ce, row_number() OVER (
             PARTITION BY query_id ORDER BY ce DESC, score DESC, doc_id) AS rr
         FROM ce QUALIFY rr <= 5 ORDER BY query_id, rr"""
    }),

    Query("v20_ivfpq_indexed", (s, dir) => {
      // IVF-PQ persisted index (beyond the reference; the FAISS IVFPQ
      // composition): coarse centroids route docs into hive-partitioned
      // inverted lists that store the 4-code + reconstruction norm
      // INSTEAD of the raw vector — a probe reads nprobe/C of the
      // corpus (partition pruning) and each row it reads is 4 longs,
      // not 64 floats. ADC scores the pruned candidates, the top-20
      // hydrate raw vectors via a broadcast onto the corpus scan, and
      // the final 5 rank on exact cosine. Oracle = the v18 PQ chain
      // with the v11 coarse-router CTEs restricting the scored pairs.
      val e = t(s, dir, "embeddings")
      val docs = e.filter(col("vec_id") >= 13)
      // NOT overlapped (r19 §2.6 A/B — the r18 deferred item, measured
      // and REVERTED): the centroid collect and the codebook train are
      // independent (vec_id < 8 vs >= 13), but the paired ABBA read
      // overlap a wash quiet (med 6.53 vs 6.45 sequential) and a
      // CONSISTENT loss under 16-spinner load (med 8.02 vs 7.27,
      // 4 runs/arm) — both chains are embeddings-scan CPU, so
      // concurrency only adds contention (the g11 precedent).
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val books = Similarity.pqCodebooks(docs, col("vec_id"),
        col("embedding"), pqM, pqSubDim, pqK, pqIters)
      val idx = scratchDir("graft_v20") + "/ivfpq"
      Similarity.saveIvfPqIndex(docs, col("vec_id"), col("embedding"),
        cents, books, pqSubDim, idx, targetRows = 10000L, spread = 2)
      Similarity.ivfPqTopK(s, idx, docs, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") >= 8 && col("vec_id") < 13),
          col("vec_id"), col("embedding"),
          k = 5, nprobe = 2, rerank = pqRerank)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"),
          fround(col("approx_cosine"), 6).as("approx_cosine"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, {
      // v18's PQ chain + the v11 coarse-router shape: fixed coarse
      // centroids route docs (rn = 1) and queries (rn <= 2 = nprobe);
      // scored pairs restrict to candidates whose list one of the
      // query's probes reads — everything downstream is the shared
      // PQ chain verbatim (the persisted index round trip is lossless)
      val coarse =
        s"""coarse AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id < 8),
           cassign AS (SELECT doc_id, cid FROM (
               SELECT d.vec_id AS doc_id, c.cid, row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ${sqlCosine64("d.embedding", "c.cv")} DESC, c.cid)
                 AS rn
               FROM embeddings d CROSS JOIN coarse c
               WHERE d.vec_id >= 13) WHERE rn = 1),
           cprobes AS (SELECT query_id, cid FROM (
               SELECT q.vec_id AS query_id, c.cid, row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ${sqlCosine64("q.embedding", "c.cv")} DESC, c.cid)
                 AS rn
               FROM embeddings q CROSS JOIN coarse c
               WHERE q.vec_id >= 8 AND q.vec_id < 13) WHERE rn <= 2)"""
      sqlPqTopK("vec_id >= 13", "vec_id >= 8 AND vec_id < 13", k = 5,
        extraCtes = coarse,
        candRestrict =
          """JOIN cassign ca ON ca.doc_id = r.vec_id
             JOIN cprobes pb ON pb.query_id = q.query_id
               AND pb.cid = ca.cid""")
    }),

    Query("v21_retrieval_eval", (s, dir) => {
      // V21 — the retrieval EVALUATION harness (beyond the reference):
      // judge the engine's three retrieval legs — BM25 lexical, dense
      // cosine, RRF hybrid — with the standard IR metrics recall@10,
      // MRR@10, nDCG@10 against a gold ranking. Gold = the exact
      // brute-cosine top-5 per query with graded relevance 5..1, so
      // the dense row scores 1.0 BY CONSTRUCTION (the harness sanity
      // row) and the bm25/rrf rows measure lexical/hybrid agreement
      // with the semantic gold — the eval loop a retrieval stack runs
      // after every index/codebook/weight change. Determinism: ranks
      // come from 6dp-rounded scores with doc_id tiebreaks, the nDCG
      // discounts are shared dyadic-grid literals (per-query DCG sums
      // exactly in any order), and the cross-query rollup is ORDER-
      // EXACT: hit counts and reciprocal ranks accumulate as integers
      // (rr scales by 2520 = lcm(1..10), so 2520/rank is exact),
      // per-query DCGs are exact dyadics summing exactly in any
      // order, and each metric is ONE final IEEE divide.
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val nq = bm25Queries.size
      val lex20 = Rag.bm25(d.filter(col("doc_id") >= nq), col("doc_id"),
          col("text"), bm25Queries, bm25K1, bm25B)
        .select(col("query_id"), col("doc_id"),
          fround(col("score"), 6).as("s"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("s").desc, col("doc_id"))))
        .filter(col("rank") <= 20).drop("s")
      val dense20 = Similarity.topKPerQuery(
          e.filter(col("vec_id") >= nq), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < nq), col("vec_id"), col("embedding"),
          k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val hyb10 = Rag.rrfFuse(Seq(lex20, dense20), rrfK)
        .select(col("query_id"), col("doc_id"),
          fround(col("rrf"), 6).as("r"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("r").desc, col("doc_id"))))
        .filter(col("rank") <= 10).drop("r")
      val gold = dense20.filter(col("rank") <= 5)
        .select(col("query_id"), col("doc_id"),
          (lit(6) - col("rank")).cast("long").as("rel"))
      def sys(name: String, df: DataFrame) =
        df.filter(col("rank") <= 10).select(lit(name).as("method"),
          col("query_id"), col("doc_id"), col("rank"))
      val runs = sys("bm25", lex20)
        .unionByName(sys("dense", dense20))
        .unionByName(sys("rrf", hyb10))
      runs.join(broadcast(gold), Seq("query_id", "doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("disc", element_at(typedLit(ndcgDiscounts), col("rank")))
        .groupBy(col("method"), col("query_id"))
        .agg(sum(col("rel").cast("double") * col("disc")).as("dcg"),
          sum(when(col("rel") > 0, 1L).otherwise(0L)).as("hits"),
          max(when(col("rel") > 0, expr("2520 div rank"))
            .otherwise(lit(0L))).as("rr2520"))
        .groupBy(col("method"))
        .agg(
          fround(sum(col("hits")).cast("double") /
            (lit(5L) * count(lit(1))).cast("double"), 6).as("recall_at_10"),
          fround(sum(col("rr2520")).cast("double") /
            (lit(2520L) * count(lit(1))).cast("double"), 6).as("mrr_at_10"),
          fround(sum(col("dcg")) /
            (lit(ndcgIdcg5) * count(lit(1)).cast("double")), 6)
            .as("ndcg_at_10"))
        .orderBy(col("method"))
    }, {
      // the v16 two-leg replay + RRF, then gold (dense top-5, graded),
      // run unions, metric rollup; nDCG discounts / IDCG are the SAME
      // driver-side dyadic literals as the Spark side
      val discVals = (1 to 10)
        .map(i => s"($i, ${ndcgDiscounts(i - 1)})").mkString(", ")
      s"""WITH ${sqlBm25(s"doc_id >= ${bm25Queries.size}")},
         lex AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM lexsc QUALIFY rank <= 20),
         dq AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < ${bm25Queries.size}),
         dd AS (SELECT vec_id AS doc_id, embedding AS dv
           FROM embeddings WHERE vec_id >= ${bm25Queries.size}),
         dsim AS (SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine FROM dd, dq),
         dense AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank
           FROM dsim QUALIFY rank <= 20),
         fused AS (SELECT query_id, doc_id,
             ${sqlFround(s"sum(1.0 / ($rrfK + rank))", 6)} AS rrf
           FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
           GROUP BY 1, 2),
         hyb AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
           FROM fused QUALIFY rank <= 10),
         gold AS (SELECT query_id, doc_id, (6 - rank)::BIGINT AS rel
           FROM dense WHERE rank <= 5),
         runs AS (
           SELECT 'bm25' AS method, query_id, doc_id, rank
           FROM lex WHERE rank <= 10
           UNION ALL SELECT 'dense', query_id, doc_id, rank
           FROM dense WHERE rank <= 10
           UNION ALL SELECT 'rrf', query_id, doc_id, rank FROM hyb),
         disc(rank, disc) AS (VALUES $discVals),
         perq AS (SELECT method, r.query_id,
             sum(coalesce(g.rel, 0)::DOUBLE * d.disc) AS dcg,
             sum(CASE WHEN g.rel IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS hits,
             max(CASE WHEN g.rel IS NOT NULL THEN 2520 // r.rank
               ELSE 0 END)::BIGINT AS rr2520
           FROM runs r JOIN disc d USING (rank)
           LEFT JOIN gold g
             ON g.query_id = r.query_id AND g.doc_id = r.doc_id
           GROUP BY 1, 2)
         SELECT method,
           ${sqlFround("sum(hits)::DOUBLE / (5 * count(*))::DOUBLE", 6)}
             AS recall_at_10,
           ${sqlFround("sum(rr2520)::DOUBLE / (2520 * count(*))::DOUBLE", 6)}
             AS mrr_at_10,
           ${sqlFround(s"sum(dcg) / ($ndcgIdcg5::DOUBLE * count(*)::DOUBLE)",
             6)} AS ndcg_at_10
         FROM perq GROUP BY method ORDER BY method"""
    }),

    Query("v22_filtered_ann", (s, dir) => {
      // V22 — FILTERED ANN over the persisted IVF index (beyond the
      // reference; the vector-store filtered-query shape): a metadata
      // predicate on the doc table (lang = 'en', doc_id = vec_id
      // pairing) becomes a doc_id allow-set that PRE-filters the
      // pruned inverted lists via semi-join before ranking — candidate
      // volume shrinks with predicate selectivity, where post-
      // filtering a top-k under-fills and re-probes. Same persisted
      // geometry as v11 (centroids = rows 0-7, corpus = rows ≥ 13,
      // queries = rows 8-12, nprobe 3); the oracle replays assignment,
      // probe, filter, and rank relationally.
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val idx = scratchDir("graft_v22") + "/ivf"
      Similarity.saveIvfIndex(
        e.filter(col("vec_id") >= 13), col("vec_id"), col("embedding"),
        cents, idx, targetRows = 10000L, spread = 2)
      val allowed = t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"))
      Similarity.ivfTopKIndexed(s, idx,
          e.filter(col("vec_id") >= 8 && col("vec_id") < 13),
          col("vec_id").as("query_id"), col("embedding"),
          k = 4, nprobe = 3, allowed = Some(allowed))
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // v11's assignment/probe replay + the allow-set filter composed
      // BEFORE the rank (pre-filter semantics)
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id < 8),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 13),
         q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id >= 8 AND vec_id < 13),
         allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         assign AS (
           SELECT doc_id, dv, cid FROM (
             SELECT doc_id, dv, cid, row_number() OVER (
               PARTITION BY doc_id
               ORDER BY ${sqlCosine64("dv", "cv")} DESC, cid) AS rn
             FROM d, c) WHERE rn = 1),
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT query_id, qv, cid, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ${sqlCosine64("qv", "cv")} DESC, cid) AS rn
             FROM q, c) WHERE rn <= 3),
         ranked AS (
           SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
           FROM probes JOIN assign USING (cid) JOIN allowed USING (doc_id))
         SELECT query_id, doc_id, floor((cosine) * 1e6 + 0.5) / 1e6 AS cosine,
           rank
         FROM ranked WHERE rank <= 4 ORDER BY query_id, rank"""),

    Query("v23_mmr_rerank", (s, dir) => {
      // V23 — maximal-marginal-relevance diversified serving re-rank
      // (Carbonell & Goldstein 1998; beyond the reference): from each
      // query's brute-cosine top-10, greedily pick 5 maximizing
      // 7·sim(q,d) − 3·max_{s∈picked} sim(d,s) (λ=0.7 as integer
      // weights) — the standard redundancy-penalized final stage of a
      // retrieval stack (RAG context assembly that doesn't quote the
      // same near-duplicate three times). All sims quantize to 1e-6
      // micro-units BEFORE the greedy, so every pick is an integer
      // argmax with doc_id tie-breaks; the oracle unrolls the same 4
      // selection steps relationally. Candidate and pair tables STAGE
      // to scratch (the x5 discipline — the unrolled steps consume
      // each multiple times; at 100 TB they're bounded serve-side
      // artifacts, kCand/kCand² rows per query).
      val e = t(s, dir, "embeddings")
      val docs = e.filter(col("vec_id") >= 5)
      val base = scratchDir("graft_v23")
      Similarity.mmrCandidateSims(docs, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
          kCand = 10)
        .write.mode("overwrite").parquet(s"$base/cands")
      val cands = s.read.parquet(s"$base/cands")
      Similarity.mmrPairSims(cands, docs, col("vec_id"),
          col("embedding"))
        .write.mode("overwrite").parquet(s"$base/pairs")
      Similarity.mmrTopK(cands, s.read.parquet(s"$base/pairs"),
          kOut = 5, wRel = 7L, wDiv = 3L, stageDir = s"$base/sel")
        .orderBy(col("query_id"), col("mmr_rank"))
    }, {
      // the same unrolled greedy, relationally: candidates and pair
      // sims via the v2 cosine replay (then 1e-6 micro-unit floors),
      // then 4 argmax steps — each an anti-filter vs the selected set,
      // a max-over-selected pair join, and one row_number pick, every
      // comparison integer. MATERIALIZED is load-bearing on the
      // chained CTEs (plain CTEs inline exponentially down the chain).
      val steps = (2 to 5).map { i =>
        val prev = s"selu${i - 1}"
        s"""sel$i AS MATERIALIZED (
           SELECT query_id, doc_id, squ, $i AS mmr_rank, mmr_score
           FROM (
             SELECT g.query_id, g.doc_id, g.squ,
               (7 * g.squ - 3 * g.mp)::BIGINT AS mmr_score,
               row_number() OVER (PARTITION BY g.query_id
                 ORDER BY (7 * g.squ - 3 * g.mp) DESC, g.doc_id) AS rn
             FROM (
               SELECT c.query_id, c.doc_id, c.squ, max(p.pu) AS mp
               FROM cands c
               JOIN pairs p ON p.query_id = c.query_id
                 AND p.ia = c.doc_id
               JOIN $prev sp ON sp.query_id = p.query_id
                 AND sp.doc_id = p.ib
               WHERE NOT EXISTS (SELECT 1 FROM $prev x
                 WHERE x.query_id = c.query_id
                   AND x.doc_id = c.doc_id)
               GROUP BY 1, 2, 3) g)
           WHERE rn = 1),
           selu$i AS MATERIALIZED (
             SELECT query_id, doc_id FROM selu${i - 1}
             UNION ALL SELECT query_id, doc_id FROM sel$i)"""
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 5),
         d AS (SELECT vec_id AS doc_id, embedding AS dv
             FROM embeddings WHERE vec_id >= 5),
         r0 AS (SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
           FROM d, q),
         cands AS MATERIALIZED (SELECT query_id, doc_id,
             floor(cosine * 1e6 + 0.5)::BIGINT AS squ
           FROM r0 WHERE rank <= 10),
         ce AS (SELECT c.query_id, c.doc_id, d.dv
           FROM cands c JOIN d USING (doc_id)),
         pairs AS MATERIALIZED (SELECT a.query_id, a.doc_id AS ia,
             b.doc_id AS ib,
             floor(${sqlCosine64("a.dv", "b.dv")} * 1e6 + 0.5)::BIGINT
               AS pu
           FROM ce a JOIN ce b ON a.query_id = b.query_id
             AND a.doc_id <> b.doc_id),
         sel1 AS MATERIALIZED (SELECT query_id, doc_id, squ,
             1 AS mmr_rank, (7 * squ)::BIGINT AS mmr_score
           FROM (SELECT query_id, doc_id, squ, row_number() OVER (
               PARTITION BY query_id ORDER BY squ DESC, doc_id) AS rn
             FROM cands)
           WHERE rn = 1),
         selu1 AS MATERIALIZED (SELECT query_id, doc_id FROM sel1),
         $steps
         SELECT query_id, doc_id, squ, mmr_rank, mmr_score FROM (
           SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
           UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
           UNION ALL SELECT * FROM sel5)
         ORDER BY query_id, mmr_rank"""
    }),

    Query("v24_context_assembly", (s, dir) => {
      // V4's distributed twin — the RAG context string assembled as a
      // grouped COLUMN (rag.ipynb:720-733 builds it driver-side over
      // one query's k rows; at serving scale you assemble millions of
      // contexts in one query_id shuffle): the v9 store (title + T20
      // doc_text) supplies candidates, the first five embeddings are
      // the query batch, brute top-4 cosine ranks per query, and each
      // query's context is the rank-sorted
      // "[rank] (sim s.mmm) title\ndoc_text" block join. Sim digits
      // render from integer milli-units so the string is
      // byte-identical cross-engine; the oracle rebuilds the full
      // context with string_agg ORDER BY rank and compares md5 +
      // length. The store stages to scratch — top-k scan and the
      // title/text hydration join both consume it (v9 precedent).
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val toks = TA.tokens(col("text"))
      val authors = transform(slice(toks, 1, 3),
        tk => concat(lit("dr. "), tk))
      val out = scratchDir("graft_v24")
      Rag.buildStore(
          d.join(e, col("doc_id") === col("vec_id"))
            .filter(col("doc_id") >= 5),
          col("doc_id"), trim(substring(col("text"), 1, 40)), authors,
          col("text"), col("embedding"))
        .write.mode("overwrite").parquet(out)
      val store = s.read.parquet(out)
      val topk = Similarity.topKPerQuery(store, col("paper_id"),
          col("embedding"), e.filter(col("vec_id") < 5),
          col("vec_id"), col("embedding"), k = 4)
        .join(store.select(col("paper_id").as("doc_id"), col("title"),
          col("doc_text")), "doc_id")
      Rag.assembleContexts(topk)
        .select(col("query_id"), col("n_ctx"),
          length(col("context")).cast("long").as("ctx_chars"),
          md5(col("context")).as("ctx_md5"))
        .orderBy(col("query_id"))
    }, {
      // rebuilds the v9 store text, replays the top-4 cosine rank, and
      // re-assembles the exact context string: sim digits from integer
      // milli-units (sign + intpart + lpad millis — Spark renders the
      // same from the same BIGINT), entries joined by blank lines in
      // rank order via string_agg ORDER BY.
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents
             WHERE doc_id >= 5),
         st AS (SELECT doc_id AS paper_id,
             'Paper Title: ' || trim(substring(text, 1, 40)) || chr(10) ||
             'Authors: ' || array_to_string(
               list_transform(list_slice(tk, 1, 3), x -> 'dr. ' || x), ', ')
               || chr(10) ||
             'Abstract: ' || substring(text, 1, 500) AS doc_text,
             trim(substring(text, 1, 40)) AS title
           FROM t),
         d AS (SELECT s.paper_id AS doc_id, s.title, s.doc_text,
             e.embedding AS dv
           FROM st s JOIN embeddings e ON e.vec_id = s.paper_id),
         q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
         r AS (SELECT query_id, doc_id, title, doc_text,
             ${sqlCosine64("dv", "qv")} AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
           FROM d, q),
         k AS (SELECT query_id, rank, title, doc_text,
             floor(cosine * 1e3 + 0.5)::BIGINT AS smu
           FROM r WHERE rank <= 4),
         f AS (SELECT query_id, rank,
             '[' || rank::VARCHAR || '] (sim ' ||
             (CASE WHEN smu < 0 THEN '-' ELSE '' END) ||
             (abs(smu) // 1000)::VARCHAR || '.' ||
             lpad((abs(smu) % 1000)::VARCHAR, 3, '0') || ') ' ||
             title || chr(10) || doc_text AS entry
           FROM k),
         c AS (SELECT query_id, count(*)::BIGINT AS n_ctx,
             string_agg(entry, chr(10) || chr(10) ORDER BY rank) AS ctx
           FROM f GROUP BY query_id)
         SELECT query_id, n_ctx, length(ctx)::BIGINT AS ctx_chars,
           md5(ctx) AS ctx_md5
         FROM c ORDER BY query_id"""
    }),

    Query("v25_binary_ann", (s, dir) => {
      // Binary (1-bit sign) quantized ANN + exact rerank (beyond the
      // reference; the 32×-compression memory path): candidates rank by
      // Hamming distance over packed sign-bit words (xor + popcount),
      // top-20 per query rerank with exact float cosine, final top-5.
      // The oracle recomputes Hamming per-DIMENSION from the raw floats
      // ((a>0) <> (b>0) counts), so the word packing and popcount walk
      // are checked against an unpacked independent ground truth.
      val e = t(s, dir, "embeddings")
      Similarity.binaryTopK(
          e.filter(col("vec_id") >= 3), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
          k = 5, rerank = 20)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"),
          col("hamming"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // Hamming ground truth is UNPACKED: count dims whose sign class
      // (>0 vs not) differs — the Spark side must reproduce it through
      // the 32-bit word packing + xor + popcount walk
      s"""WITH d AS (
           SELECT vec_id AS doc_id, embedding AS dv
           FROM embeddings WHERE vec_id >= 3),
         q AS (
           SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 3),
         hp AS (
           SELECT q.query_id, d.doc_id, d.dv, q.qv,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CASE WHEN (d.dv[i] > 0) <> (q.qv[i] > 0)
                 THEN 1 ELSE 0 END), (x, y) -> x + y)::BIGINT AS hamming
           FROM d CROSS JOIN q),
         cand AS (
           SELECT * FROM (
             SELECT query_id, doc_id, dv, qv, hamming,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY hamming, doc_id) AS arank
             FROM hp) WHERE arank <= 20),
         rk AS (
           SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine, hamming,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
           FROM cand)
         SELECT query_id, doc_id, ${sqlFround("cosine", 6)} AS cosine,
           hamming, rank
         FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""),

    Query("v26_matryoshka_ann", (s, dir) => {
      // Matryoshka two-stage ANN (beyond the reference; Kusupati et
      // al. 2022): candidate generation scores cosine over only the
      // FIRST 16 of 64 dimensions (MRL embeddings front-load meaning),
      // top-20 per query rerank with the full vector, final top-5 —
      // the dimension-sliced member of the v10/v25 quantized-candidate
      // family. At 100 TB the prefix is its own stored column, so
      // candidate scoring streams a quarter of the bytes.
      val e = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(
          e.filter(col("vec_id") >= 3), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
          k = 5, rerank = 20, prefixDim = 16)
        .select(col("query_id"), col("doc_id"),
          fround(col("cosine"), 6).as("cosine"),
          fround(col("approx_cosine"), 6).as("approx_cosine"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // prefix cosine over dims 1..16 (sqlCosine's fixed-order fold —
      // the same op order as CosineSim on the sliced array), full-dim
      // rerank; both rank windows replayed
      s"""WITH d AS (
           SELECT vec_id AS doc_id, embedding AS dv
           FROM embeddings WHERE vec_id >= 3),
         q AS (
           SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 3),
         ap AS (
           SELECT q.query_id, d.doc_id, d.dv, q.qv,
             ${sqlCosine("d.dv", "q.qv", 16)} AS approx_cosine
           FROM d CROSS JOIN q),
         cand AS (
           SELECT * FROM (
             SELECT query_id, doc_id, dv, qv, approx_cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY approx_cosine DESC, doc_id) AS arank
             FROM ap) WHERE arank <= 20),
         rk AS (
           SELECT query_id, doc_id,
             ${sqlCosine64("dv", "qv")} AS cosine, approx_cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${sqlCosine64("dv", "qv")} DESC, doc_id) AS rank
           FROM cand)
         SELECT query_id, doc_id, ${sqlFround("cosine", 6)} AS cosine,
           ${sqlFround("approx_cosine", 6)} AS approx_cosine, rank
         FROM rk WHERE rank <= 5 ORDER BY query_id, rank""")
  )
}
