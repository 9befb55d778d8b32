package graft
package queries

import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
import graft.operators.{Dedup, MergeLog, Sampling, Similarity}
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Family d: exact, fuzzy, MinHash/SimHash and containment
  * deduplication, plus the dedup index lifecycle.
  */
object DedupQueries {

  /** DuckDB twin of SimHash64 over `e` — the 64-bit sibling of
    * [[sqlSimhash]]: bit b votes with bit (3 − b%4) of hex char
    * (b/4 + 1) of each token's md5; the fingerprint assembles as a
    * signed-64 sum (bit 63 contributes Long.MIN_VALUE; every other
    * power of two is double-exact).
    */
  private def sqlSimhash64(e: String): String = {
    val dtoks = s"list_distinct(${sqlTokens(e)})"
    s"""(list_sum(list_transform(generate_series(0, 63), b ->
       CASE WHEN list_sum(list_transform($dtoks, tk ->
         (((('0x' || substr(md5(tk), (b // 4)::INT + 1, 1))::INT
            // (2 ** (3 - b % 4))::INT) % 2) * 2 - 1))) > 0
       THEN (CASE WHEN b = 63 THEN -9223372036854775807 - 1
             ELSE (2 ** b)::BIGINT END)
       ELSE 0 END)))::BIGINT"""
  }

  val all: Seq[Query] = Seq(
    Query("d1_union_dedup", (s, dir) => {
      // D1 — merge-union dedup across two "files": union preserving an
      // explicit ingest order, keep first per content key
      // (merge_jsonl.py:4-25; first-wins needs the order column, SURVEY
      // §4.2 — dropDuplicates alone is arbitrary-wins).
      val d = t(s, dir, "documents")
      val fileA = d.filter(col("doc_id") % 2 === 0).withColumn("file_idx", lit(0L))
      val fileB = d.withColumn("file_idx", lit(1L))
      val key = md5(lower(trim(substring(col("text"), 1, 20))))
      Dedup.dedupFirstWins(
          fileA.unionByName(fileB),
          key, col("file_idx") * 1000000L + col("doc_id"))
        .select(col("doc_id"), col("file_idx"))
        .orderBy(col("doc_id"), col("file_idx"))
    },
      """WITH u AS (
           SELECT doc_id, 0 AS file_idx, text FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, 1 AS file_idx, text FROM documents),
         r AS (
           SELECT doc_id, file_idx, row_number() OVER (
             PARTITION BY md5(lower(trim(substring(text, 1, 20))))
             ORDER BY file_idx * 1000000 + doc_id) AS rn
           FROM u)
         SELECT doc_id, file_idx FROM r WHERE rn = 1
         ORDER BY doc_id, file_idx"""),

    Query("d2_exact_dedup_nullkey", (s, dir) => {
      // D2 — exact-key dedup where NULL keys pass through untouched
      // (strict_deduplication.py:21-32). Key: lang with 'en' nulled out.
      val docs = t(s, dir, "documents")
      Dedup.dedupFirstWins(docs, nullif(col("lang"), lit("en")), col("doc_id"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 1
                  ELSE row_number() OVER (PARTITION BY nullif(lang, 'en') ORDER BY doc_id)
             END AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id"""),

    Query("d3_content_hash_dedup", (s, dir) => {
      // D3 — md5 content-hash dedup, first-wins by ingest order
      // (strict_deduplication.py:35-45); keyed on a 20-char prefix so the
      // synthetic corpus actually collides.
      val docs = t(s, dir, "documents")
      Dedup.dedupFirstWins(docs,
          md5(lower(trim(substring(col("text"), 1, 20)))), col("doc_id"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (
             PARTITION BY md5(lower(trim(substring(text, 1, 20))))
             ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id"""),

    Query("d4_jaccard_pairs", (s, dir) => {
      // D4 — fuzzy near-duplicate pairs by token-set Jaccard ≥ 0.9
      // (strict_deduplication.py:48-76) via token-blocking join, not O(n²).
      Dedup.jaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"), 0.9)
        .select(col("id_a"), col("id_b"), fround(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH toks AS (
           SELECT doc_id, unnest(list_distinct(${sqlTokens("text")})) AS tok
           FROM documents),
         sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT ia AS id_a, ib AS id_b,
           floor((inter * 1.0 / (sa.n + sb.n - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
         FROM pairs
         JOIN sizes sa ON ia = sa.doc_id
         JOIN sizes sb ON ib = sb.doc_id
         WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.9
         ORDER BY id_a, id_b"""),

    Query("d5_array_dedup", (s, dir) => {
      // D5 — order-preserving in-array dedup + cap; D6 — set-style
      // title-cased distinct (sorted for determinism).
      val toks = TA.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        array_join(slice(array_distinct(toks), 1, 5), ",").as("top5_tokens"),
        array_join(
          array_sort(array_distinct(transform(toks, x => initcap(x)))),
          ",").as("fields_clean"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
         SELECT doc_id,
           array_to_string(list_slice(
             list_filter(toks, (x, i) -> list_position(toks, x) = i), 1, 5),
             ',') AS top5_tokens,
           array_to_string(list_sort(list_distinct(list_transform(toks,
             x -> upper(x[1]) || substring(x, 2)))), ',') AS fields_clean
         FROM t ORDER BY doc_id"""
    }),

    Query("d6_minhash_lsh", (s, dir) => {
      // MinHash+LSH near-dup candidates (shingle→minhash→band→bucket
      // join) with signature-agreement Jaccard estimate — the 100 TB
      // dedup path (candidates only form inside buckets).
      Dedup.minhashPairs(t(s, dir, "documents"), col("doc_id"), col("text"))
        .select(col("id_a"), col("id_b"),
          fround(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $sqlMinhashPairCtes
         SELECT id_a, id_b,
           floor((est_jaccard) * 1e6 + 0.5) / 1e6 AS est_jaccard
         FROM mh_pairs ORDER BY id_a, id_b"""),

    Query("d7_simhash", (s, dir) => {
      // SimHash 16-bit fingerprints (md5-derived bit votes) — near-dup
      // texts land at small Hamming distance; deterministic across
      // engines. Native expression: one md5 per token (the declarative
      // twin pays 16; parity pinned in SimHash16Spec).
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.SimHash16(col("text")).cast("long").as("sh"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, ${sqlSimhash("text")} AS sh
         FROM documents ORDER BY doc_id"""),

    Query("d8_stratified_sample", (s, dir) => {
      // Deterministic per-language corpus rebalancing (beyond the
      // reference; standard curation need): md5-hash sampling keeps the
      // same rows regardless of run, partitioning, or cluster size —
      // en downsamples to 50%, zh to 25%, the tail languages keep 80%.
      // The filter is a pure scan-fused predicate; the oracle replays
      // the identical hash arithmetic.
      Sampling.stratifiedSample(
          t(s, dir, "documents"),
          col("lang"), col("doc_id"),
          Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.8, salt = "s42")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, {
      val rateCases = Map("en" -> 0.5, "zh" -> 0.25).toSeq.sortBy(_._1)
        .map { case (l, r) => s"WHEN lang = '$l' THEN ${Sampling.threshold(r)}" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5('s42:' || doc_id::VARCHAR), 1, 7))::BIGINT <
           (CASE $rateCases ELSE ${Sampling.threshold(0.8)} END)
         ORDER BY doc_id"""
    }),

    Query("d9_incremental_dedup", (s, dir) => {
      // Incremental new-batch-vs-corpus dedup (beyond the reference):
      // the corpus key set folds ONCE into a Bloom filter (treeAggregate,
      // no shuffle), the batch scan probes it per row inside codegen, and
      // only the "maybe seen" sliver takes the exact anti-join — the
      // daily-crawl-vs-100 TB-corpus shape. Result is exactly
      // batch ANTI JOIN corpus for any fpp (bloom has no false
      // negatives; positives re-check exactly), which is what the
      // oracle replays.
      val docs = t(s, dir, "documents")
      val corpus = Sampling.hashSample(docs, col("doc_id"), 0.6, "corp")
      val batch = Sampling.hashSample(docs, col("doc_id"), 0.5, "newb")
        .select(col("doc_id"), col("lang"))
      Dedup.incrementalDedup(batch, corpus, "doc_id",
          expectedItems = 100000, fpp = 0.01)
        .orderBy(col("doc_id"))
    }, {
      def keep(salt: String, rate: Double) =
        s"('0x' || substr(md5('$salt:' || doc_id::VARCHAR), 1, 7))::BIGINT" +
          s" < ${Sampling.threshold(rate)}"
      s"""WITH corpus AS (SELECT doc_id FROM documents WHERE ${keep("corp", 0.6)}),
           batch AS (SELECT doc_id, lang FROM documents WHERE ${keep("newb", 0.5)})
         SELECT doc_id, lang FROM batch b
         WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.doc_id = b.doc_id)
         ORDER BY doc_id"""
    }),

    Query("d10_semantic_dedup", (s, dir) => {
      // Embedding-space near-dup pairs, SemDeDup shape: deterministic
      // k-means clusters the corpus, exact cosine pairs form ONLY
      // within a cluster (Σ|cluster|² work instead of n²; cross-cluster
      // near-dups are the accepted recall trade). Same k-means as v8,
      // so the oracle replays clustering + pairing bit-for-bit.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(
        emb, col("vec_id"), col("embedding"), 4, 2)
      Similarity.semanticDupPairs(emb, col("vec_id"), col("embedding"),
          cents, threshold = 0.3)
        .select(col("cid"), col("id_a"), col("id_b"),
          fround(col("cosine"), 6).as("cosine"))
        .orderBy(col("cid"), col("id_a"), col("id_b"))
    },
      s"""WITH ${sqlKmeansCtes(4, 2)},
         pairs AS (
           SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
             ${sqlCosine64("a.embedding", "b.embedding")} AS cos
           FROM final_assign a JOIN final_assign b
             ON a.cid = b.cid AND a.vec_id < b.vec_id)
         SELECT cid, id_a, id_b, ${sqlFround("cos", 6)} AS cosine
         FROM pairs WHERE cos >= 0.3
         ORDER BY cid, id_a, id_b"""),

    Query("d11_merge_upsert", (s, dir) => {
      // CDC merge (beyond the reference; the corpus-maintenance twin of
      // d9): snapshot = documents; the change batch carries two upsert
      // versions of every doc_id % 7 row (the later wins) and
      // tombstones every doc_id % 11 row — rows hit by both (% 77)
      // resolve to the tombstone. The snapshot's only touch is an
      // anti-join against the delta's key set (broadcast under AQE at
      // real delta/corpus ratios); competing delta versions window-
      // resolve over the DELTA alone. See Dedup.mergeUpsert.
      val snap = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      def ver(rows: org.apache.spark.sql.DataFrame, bump: Long, v: Long,
              dead: Boolean) =
        rows.select(col("doc_id"), col("lang"),
          (col("n_chars") + bump).as("n_chars"),
          lit(v).as("version"), lit(dead).as("deleted"))
      val touched = snap.filter(col("doc_id") % 7 === 0)
      val delta = ver(touched, 1000L, 1L, dead = false)
        .unionByName(ver(touched, 2000L, 2L, dead = false))
        .unionByName(ver(snap.filter(col("doc_id") % 11 === 0), 0L, 3L,
          dead = true))
      Dedup.mergeUpsert(snap, delta, "doc_id")
        .orderBy(col("doc_id"))
    },
      """WITH snap AS (SELECT doc_id, lang, n_chars FROM documents),
         delta AS (
           SELECT doc_id, lang, n_chars + 1000 AS n_chars,
                  1 AS version, false AS deleted FROM snap WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id, lang, n_chars + 2000, 2, false
           FROM snap WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id, lang, n_chars, 3, true
           FROM snap WHERE doc_id % 11 = 0),
         latest AS (
           SELECT doc_id, lang, n_chars, deleted FROM (
             SELECT *, row_number() OVER
               (PARTITION BY doc_id ORDER BY version DESC) AS rn
             FROM delta) WHERE rn = 1)
         SELECT doc_id, lang, n_chars FROM snap s
         WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.doc_id = s.doc_id)
         UNION ALL
         SELECT doc_id, lang, n_chars FROM latest WHERE NOT deleted
         ORDER BY doc_id"""),

    Query("d12_repeated_grams", (s, dir) => {
      // Cross-doc repeated 8-gram stats (beyond the reference): the
      // exact-substring-dedup signal over hashed grams — one map-side-
      // combined gram count, only the repeated sliver rejoins, bare
      // (id, hash) pairs on the wire.
      Dedup.repeatedGramStats(
          t(s, dir, "documents"), col("doc_id"), col("text"), n = 8)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_shared"),
          fround(col("shared_frac"), 6).as("shared_frac"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH g AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len($toks) - 7),
             i -> array_to_string(list_slice($toks, i, i + 7), ' ')))) AS gram
           FROM documents),
         c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         m AS (SELECT g.doc_id, count(*) AS n_grams, count(c.gram) AS n_shared
               FROM g LEFT JOIN c ON g.gram = c.gram GROUP BY g.doc_id)
         SELECT d.doc_id, coalesce(m.n_grams, 0) AS n_grams,
           coalesce(m.n_shared, 0) AS n_shared,
           floor((CASE WHEN coalesce(m.n_grams, 0) > 0
             THEN coalesce(m.n_shared, 0) * 1.0 / m.n_grams
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS shared_frac
         FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         ORDER BY d.doc_id"""
    }),

    Query("d13_line_dedup", (s, dir) => {
      // C4/RefinedWeb-style boilerplate line removal (beyond the
      // reference; line-level is the dedup granularity doc-level D1-D4
      // misses): lines recurring across ≥50 docs are detected from a
      // hash-only count (strings never shuffle), capped + collected
      // (the tc1 eval-gram contract), and stripped by a scan-fused
      // per-row filter. The corpus has no newlines, so lined text
      // synthesizes from doc_id identically on both sides (the c1/ta7
      // injection precedent): a unique head, universal + modular
      // boilerplate, a per-parity tail, and a trailing empty line that
      // must survive verbatim.
      val lined = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("all rights reserved"),
          concat(lit("footer "), pmod(col("doc_id"), lit(3)).cast("string")),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("subscribe to our newsletter"))
            .otherwise(concat(lit("unique tail "), col("doc_id").cast("string"))),
          lit("")).as("text"))
      val bp = Dedup.boilerplateLineHashes(
        lined, col("text"), minDocs = 50L, maxLines = 100)
      lined
        .select(col("doc_id"),
          size(split(col("text"), "\n")).as("n_lines"),
          Dedup.stripLines(col("text"), bp).as("_clean"))
        .select(col("doc_id"), col("n_lines"),
          (col("n_lines") - size(split(col("_clean"), "\n"))).as("n_removed"),
          md5(col("_clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, {
      // same doc_id-synthesized lined text; bp detection counts
      // per-doc-distinct non-blank lines, strips by exact line match
      s"""WITH lined AS (
           SELECT doc_id,
             substr(text, 1, 40) || chr(10) || 'all rights reserved'
             || chr(10) || 'footer ' || (doc_id % 3)::VARCHAR || chr(10)
             || CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter'
                  ELSE 'unique tail ' || doc_id::VARCHAR END || chr(10)
             AS text
           FROM documents),
         per AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, chr(10))))
             AS line
           FROM lined),
         bp AS (
           SELECT line FROM per WHERE trim(line) <> ''
           GROUP BY line HAVING count(*) >= 50
           ORDER BY count(*) DESC, line LIMIT 100),
         bpl AS (SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS bls
           FROM bp),
         kept AS (
           SELECT doc_id,
             len(string_split(text, chr(10)))::INT AS n_lines,
             list_filter(string_split(text, chr(10)),
               l -> NOT list_contains(bls, l)) AS ks
           FROM lined, bpl)
         SELECT doc_id, n_lines, (n_lines - len(ks))::INT AS n_removed,
           md5(coalesce(array_to_string(ks, chr(10)), '')) AS clean_md5
         FROM kept ORDER BY doc_id"""
    }),

    Query("d14_dup_clusters", (s, dir) => {
      // Pairs → CLUSTERS (beyond the reference): near-dup similarity is
      // not transitive, so keep-one survivorship needs the connected-
      // components closure over the d6 pair graph — alternating
      // large-star/small-star rounds (O(log²) worst case, never
      // O(chain-length)), edges-only iteration, corpus text never
      // shuffles. Every doc gets a cluster label (singletons label
      // themselves); `kept` marks the one canonical row per cluster —
      // the SlimPajama/RefinedWeb keep-one-per-cluster dedup step.
      Dedup.dupClusters(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"), col("text"), threshold = 0.5)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("kept"))
        .orderBy(col("doc_id"))
    },
      // closure of the d6 pair graph: transitive reachability via a
      // recursive CTE (the oracle-side stand-in for large-star/small-
      // star), component label = min reachable id, singletons label
      // themselves
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
           FROM lab GROUP BY cluster_id)
         SELECT l.doc_id, l.cluster_id, s.cluster_size,
           (l.doc_id = l.cluster_id) AS kept
         FROM lab l JOIN sz s USING (cluster_id)
         ORDER BY doc_id"""),

    Query("d15_lsh_index_probe", (s, dir) => {
      // Persisted LSH band index + incremental probe (beyond the
      // reference): the batch-vs-corpus NEAR-dup production shape — d9's
      // bloom lifecycle for exact keys, done for near-duplicates. The
      // corpus's band rows persist once (hive-partitioned by an
      // md5-derived bucket of the band key); each incoming batch
      // broadcasts its own band rows, prunes the index read to the
      // buckets it touches, and the TB-sized index streams map-side
      // through the join — no corpus shuffle, no corpus text re-scan.
      // The full lifecycle runs under ONE oracle: base build over the
      // even half, a committed streaming append of the odd half, a
      // COMPACTION folding both into one merged generation, then the
      // probe — the oracle replays index MEMBERSHIP over the union, so
      // it verifies that append and compaction are layout-only.
      val docs = t(s, dir, "documents")
      val corp = Sampling.hashSample(docs, col("doc_id"), 0.6, "corp")
      val idx = scratchDir("graft_d15") + "/lsh"
      if (verifyScale(docs, s"$dir#documents")) {
        Dedup.saveLshBandIndex(
          corp.filter(col("doc_id") % 2 === 0),
          col("doc_id"), col("text"), idx,
          targetRows = 100000L, spread = 2)
        Dedup.appendLshBandIndex(
          corp.filter(col("doc_id") % 2 =!= 0),
          col("doc_id"), col("text"), idx,
          targetRows = 100000L, spread = 2, srcBatch = 0L): Unit
        Dedup.compactLshBandIndex(s, idx, upTo = 0L,
          targetRows = 100000L, spread = 2): Unit
      } else
        Dedup.saveLshBandIndex(corp, col("doc_id"), col("text"), idx,
          targetRows = 100000L, spread = 2)
      Dedup.probeLshBandIndex(s, idx,
          Sampling.hashSample(docs, col("doc_id"), 0.5, "newb"),
          col("doc_id"), col("text"))
        .select(col("id_batch"), col("id_corpus"),
          fround(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy(col("id_batch"), col("id_corpus"))
    }, {
      def keep(salt: String, rate: Double) =
        s"('0x' || substr(md5('$salt:' || doc_id::VARCHAR), 1, 7))::BIGINT" +
          s" < ${Sampling.threshold(rate)}"
      s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE ${keep("corp", 0.6)}),
         newb AS (SELECT doc_id, text FROM documents WHERE ${keep("newb", 0.5)}),
         ${sqlMinhashBandCtes("corp", "c_")},
         ${sqlMinhashBandCtes("newb", "b_")},
         cand AS (
           SELECT DISTINCT b.doc_id AS id_batch, c.doc_id AS id_corpus,
             b.sig AS bs, c.sig AS cs
           FROM b_bucketed b JOIN c_bucketed c
             ON b.bk = c.bk AND b.doc_id != c.doc_id)
         SELECT id_batch, id_corpus,
           floor((list_sum(list_transform(generate_series(1, 16),
             i -> CASE WHEN bs[i] = cs[i] THEN 1 ELSE 0 END)) / 16.0) * 1e6 + 0.5) / 1e6
             AS est_jaccard
         FROM cand ORDER BY id_batch, id_corpus"""
    }),

    Query("d16_substring_scrub", (s, dir) => {
      // Exact-substring span REMOVAL (beyond the reference; Lee et al.
      // dedup — d12 is the detection signal, this is the rewrite):
      // cross-doc repeated 8-grams keep one canonical copy (smallest
      // doc id), every other covering span is cut from the text.
      // Hashed grams with positions, keeper resolved in the same
      // partial-aggregated pass as the doc frequency, hot/cold rejoin,
      // scan-fused HOF span mask.
      Dedup.scrubRepeatedSpans(
          t(s, dir, "documents"), col("doc_id"), col("text"), n = 8)
        .select(col("id").as("doc_id"), col("n_tok"), col("n_removed"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      // pos is 0-based on both sides; Spark joins xxhash64 gram hashes,
      // the oracle joins gram strings — equal up to the documented
      // 2⁻⁶⁴ collision bound
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         gi AS (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 7)) AS i
           FROM t),
         gp AS (SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
           FROM gi),
         df AS (SELECT gram, count(DISTINCT doc_id) AS ndocs,
             min(doc_id) AS keeper
           FROM gp GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         hit AS (SELECT gp.doc_id, gp.pos FROM gp JOIN df USING (gram)
           WHERE gp.doc_id <> df.keeper),
         h AS (SELECT doc_id, list_sort(list(pos)) AS hits
           FROM hit GROUP BY doc_id),
         o AS (SELECT t.doc_id, t.toks,
             coalesce(h.hits, CAST([] AS BIGINT[])) AS hits
           FROM t LEFT JOIN h USING (doc_id)),
         sc AS (SELECT doc_id, len(toks) AS n_tok,
             list_filter(list_transform(generate_series(1, len(toks)),
               j -> CASE WHEN len(list_filter(hits,
                 p -> p <= j - 1 AND j - 1 < p + 8)) = 0
                 THEN toks[j] END), x -> x IS NOT NULL) AS kept
           FROM o)
         SELECT doc_id, n_tok::BIGINT AS n_tok,
           (n_tok - len(kept))::BIGINT AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS scrub_md5
         FROM sc ORDER BY doc_id"""
    }),

    Query("d17_simhash_pairs", (s, dir) => {
      // SimHash pair generation (beyond the reference; completes d7's
      // fingerprint path): pigeonhole 4-band blocking — distance ≤ 3
      // implies one whole nibble band agrees — then exact
      // bit_count(xor) verify. At 16 bits (the d7 contract size) the
      // space is small, so bucket collisions are common; the operator
      // shape is band-count-generic and a production 64-bit fingerprint
      // makes the same plan selective.
      Dedup.simhashPairs(
          t(s, dir, "documents"), col("doc_id"), col("text"), maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH sh AS (SELECT doc_id, ${sqlSimhash64("text")} AS sh
             FROM documents),
         bx AS (SELECT doc_id, sh, unnest(generate_series(0, 3)) AS band
             FROM sh),
         bb AS (SELECT doc_id, sh, band,
             (sh >> (band * 16)::INT) & 65535 AS v FROM bx),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
             x.sh AS sa, y.sh AS sb
           FROM bb x JOIN bb y
             ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id)
         SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS dist
         FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         ORDER BY id_a, id_b"""),

    Query("d18_neardup_ingest", (s, dir) => {
      // The one-batch near-dup ingest decision, oracle-gated end to
      // end (the streaming nearDupSink runs exactly this per micro-
      // batch): probe the persisted band index for corpus near-dups,
      // drop them, then collapse intra-batch near-dups to the
      // canonical (min-id) survivor via the component closure.
      val docs = t(s, dir, "documents")
      val idx = scratchDir("graft_d18") + "/lsh"
      Dedup.saveLshBandIndex(
        Sampling.hashSample(docs, col("doc_id"), 0.6, "corp"),
        col("doc_id"), col("text"), idx,
        targetRows = 100000L, spread = 2)
      Dedup.nearDupIngest(s, idx,
          Sampling.hashSample(docs, col("doc_id"), 0.5, "newb")
            .select(col("doc_id"), col("lang"), col("text")),
          col("doc_id"), col("text"), threshold = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, {
      // corpus-vs-batch pairs from the d15 band chains; intra-batch
      // pairs restricted to fresh survivors (band keys are per-doc, so
      // subset pairs == full pairs with both endpoints fresh); closure
      // via the d14 recursive CTE; kept = component-canonical fresh
      def keep(salt: String, rate: Double) =
        s"('0x' || substr(md5('$salt:' || doc_id::VARCHAR), 1, 7))::BIGINT" +
          s" < ${Sampling.threshold(rate)}"
      def est(sa: String, sb: String) =
        s"""list_sum(list_transform(generate_series(1, 16),
           i -> CASE WHEN $sa[i] = $sb[i] THEN 1 ELSE 0 END)) / 16.0"""
      s"""WITH RECURSIVE
         corp AS (SELECT doc_id, text FROM documents WHERE ${keep("corp", 0.6)}),
         newb AS (SELECT doc_id, lang, text FROM documents
           WHERE ${keep("newb", 0.5)}),
         ${sqlMinhashBandCtes("corp", "c_")},
         ${sqlMinhashBandCtes("newb", "b_")},
         dupb AS (
           SELECT DISTINCT b.doc_id FROM b_bucketed b
           JOIN c_bucketed c ON b.bk = c.bk AND b.doc_id <> c.doc_id
           WHERE ${est("b.sig", "c.sig")} >= 0.5),
         fresh AS (SELECT doc_id, lang FROM newb
           WHERE doc_id NOT IN (SELECT doc_id FROM dupb)),
         fedges AS (
           SELECT DISTINCT x.doc_id AS ea, y.doc_id AS eb
           FROM b_bucketed x JOIN b_bucketed y
             ON x.bk = y.bk AND x.doc_id < y.doc_id
           JOIN fresh fx ON fx.doc_id = x.doc_id
           JOIN fresh fy ON fy.doc_id = y.doc_id
           WHERE ${est("x.sig", "y.sig")} >= 0.5),
         fsym AS (SELECT ea, eb FROM fedges
           UNION SELECT eb AS ea, ea AS eb FROM fedges),
         freach(id, r) AS (
           SELECT ea, eb FROM fsym
           UNION
           SELECT t.id, s2.eb FROM freach t JOIN fsym s2 ON t.r = s2.ea),
         fcomp AS (SELECT id, min(r) AS mr FROM freach GROUP BY id)
         SELECT f.doc_id, f.lang FROM fresh f
         LEFT JOIN fcomp c ON f.doc_id = c.id
         WHERE least(coalesce(c.mr, f.doc_id), f.doc_id) = f.doc_id
         ORDER BY f.doc_id"""
    }),

    Query("d19_snapshot_diff", (s, dir) => {
      // Row-level diff between two corpus versions (beyond the
      // reference; the "what changed since yesterday" audit over the
      // merge-on-read log): init = documents; d=0 updates every %7 row
      // (+1000 n_chars) and REWRITES every %13∧¬%7 row to its same
      // value (must not appear); d=1 tombstones every %11 row and
      // inserts fresh %17 ids. diff(-1, 1) answers from the delta
      // segments alone — the touched-key set broadcasts as a semi-join
      // prune, the snapshot never shuffles (MergeLog.diff). Deletes
      // carry the old row, inserts/updates the new one.
      val snap = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val log = scratchDir("graft_d19") + "/log"
      MergeLog.init(snap, log)
      def d(rows: DataFrame, v: Long, dead: Boolean) =
        rows.select(col("doc_id"), col("lang"), col("n_chars"),
          lit(v).as("version"), lit(dead).as("deleted"))
      val upd = snap.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val rew = snap.filter(col("doc_id") % 13 === 0 && col("doc_id") % 7 =!= 0)
      MergeLog.appendDelta(
        d(upd, 1L, dead = false).unionByName(d(rew, 1L, dead = false)),
        log, Some(0L))
      val del = snap.filter(col("doc_id") % 11 === 0)
      val ins = snap.filter(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      MergeLog.appendDelta(
        d(del, 2L, dead = true).unionByName(d(ins, 2L, dead = false)),
        log, Some(1L))
      MergeLog.diff(s, log, "doc_id", from = -1L, to = 1L)
        .orderBy(col("doc_id"))
    },
      """WITH snap AS (SELECT doc_id, lang, n_chars FROM documents),
         delta AS (
           SELECT doc_id, lang, n_chars + 1000 AS n_chars,
                  1 AS version, false AS deleted FROM snap WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id, lang, n_chars, 1, false
           FROM snap WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id, lang, n_chars, 2, true
           FROM snap WHERE doc_id % 11 = 0
           UNION ALL
           SELECT doc_id + 1000000, lang, n_chars, 2, false
           FROM snap WHERE doc_id % 17 = 0),
         latest AS (
           SELECT doc_id, lang, n_chars, deleted FROM (
             SELECT *, row_number() OVER
               (PARTITION BY doc_id ORDER BY version DESC) AS rn
             FROM delta) WHERE rn = 1),
         newstate AS (
           SELECT doc_id, lang, n_chars FROM snap s
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.doc_id = s.doc_id)
           UNION ALL
           SELECT doc_id, lang, n_chars FROM latest WHERE NOT deleted)
         SELECT * FROM (
           SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
             CASE WHEN n.doc_id IS NULL THEN o.lang ELSE n.lang END AS lang,
             CASE WHEN n.doc_id IS NULL THEN o.n_chars ELSE n.n_chars END
               AS n_chars,
             CASE WHEN o.doc_id IS NULL THEN 'insert'
                  WHEN n.doc_id IS NULL THEN 'delete'
                  WHEN o.lang <> n.lang OR o.n_chars <> n.n_chars
                    THEN 'update' END AS change
           FROM snap o FULL OUTER JOIN newstate n ON o.doc_id = n.doc_id)
         WHERE change IS NOT NULL ORDER BY doc_id"""),

    Query("d20_editdist_pairs", (s, dir) => {
      // Edit-distance near-dup pairs over the title field (the
      // metadata-typo dedup flavor beside Jaccard/MinHash/SimHash body
      // dedup): prefix-blocked, length-prefiltered, exact levenshtein
      // verify. Titles synthesize from doc_id with zero-padded bases
      // (so a block is one base) and three suffix variants at edit
      // distance 0/2/2-from-each-other and 3 from base-to-qz — the
      // dist ≤ 2 cut excludes exactly the ''↔' qz' pairs, which the
      // oracle replays.
      val title = concat(lit("title "),
        lpad(pmod(col("doc_id"), lit(40)).cast("string"), 2, "0"),
        when(expr("(doc_id div 40) % 3") === 1, lit(" x"))
          .when(expr("(doc_id div 40) % 3") === 2, lit(" qz"))
          .otherwise(lit("")))
      Dedup.editDistancePairs(
          t(s, dir, "documents").select(col("doc_id"), title.as("title")),
          col("doc_id"), col("title"), maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH t AS (
           SELECT doc_id AS id,
             lower(trim('title ' || lpad((doc_id % 40)::VARCHAR, 2, '0')
               || CASE (doc_id // 40) % 3 WHEN 1 THEN ' x'
                    WHEN 2 THEN ' qz' ELSE '' END)) AS tt
           FROM documents),
         b AS (SELECT id, tt, substr(tt, 1, 8) AS bk FROM t)
         SELECT x.id AS id_a, y.id AS id_b,
           levenshtein(x.tt, y.tt)::INT AS dist
         FROM b x JOIN b y ON x.bk = y.bk AND x.id < y.id
           AND abs(len(x.tt) - len(y.tt)) <= 2
         WHERE levenshtein(x.tt, y.tt) <= 2
         ORDER BY id_a, id_b"""),

    Query("d21_url_dedup", (s, dir) => {
      // URL-canonicalization dedup (beyond the reference; the literal
      // FIRST dedup pass of RefinedWeb/CCNet crawl curation): crawls
      // re-reach the same page through tracking params, fragments,
      // case-variant hosts and trailing slashes — canonicalize
      // (TF.urlNormalize, the ta12 chain) and keep the first ingest
      // per canonical URL. The corpus has no URL column, so URLs
      // synthesize from doc_id identically on both engines (the ta12
      // precedent): doc_id-div-3 cohorts collide onto ONE canonical
      // form through three different raw variants. Audit-shaped
      // output (the d3 family, plus accounting): every doc keeps its
      // canonical URL, first-wins kept flag, and cohort size.
      // Scale shape: normalization is scan-fused regex; both windows
      // partition by the fine-grained canonical key — group sizes are
      // bounded by crawl duplication, never corpus size.
      val v = pmod(col("doc_id"), lit(3))
      val url = concat(
        when(v === 0, lit("HTTPS://Example.org/a/"))
          .when(v === 1, lit("https://EXAMPLE.ORG/a/"))
          .otherwise(lit("https://example.org/a/")),
        expr("doc_id div 3").cast("string"),
        when(v === 0, lit("?utm_source=feed"))
          .when(v === 1, lit("/"))
          .otherwise(lit("#frag")))
      val byUrl = Window.partitionBy(col("norm_url"))
      t(s, dir, "documents")
        .select(col("doc_id"), TF.urlNormalize(url).as("norm_url"))
        .withColumn("kept",
          row_number().over(byUrl.orderBy(col("doc_id"))) === 1)
        .withColumn("n_group", count(lit(1)).over(byUrl))
        .orderBy(col("doc_id"))
    }, {
      // the ta12 synthesis pattern with div-3 collision cohorts; the
      // shared sqlUrlNorm chain; first-wins + cohort size per
      // canonical URL
      val parts = "^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]+)(.*)$"
      s"""WITH u AS (SELECT doc_id,
           (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://Example.org/a/'
             WHEN doc_id % 3 = 1 THEN 'https://EXAMPLE.ORG/a/'
             ELSE 'https://example.org/a/' END) ||
           (doc_id // 3)::VARCHAR ||
           (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed'
             WHEN doc_id % 3 = 1 THEN '/' ELSE '#frag' END) AS url
         FROM documents),
         p AS (SELECT doc_id,
           lower(regexp_extract(url, '$parts', 1)) ||
             lower(regexp_extract(url, '$parts', 2)) ||
             regexp_extract(url, '$parts', 3) AS rebuilt
         FROM u),
         n AS (SELECT doc_id, ${sqlUrlNorm("rebuilt")} AS norm_url
         FROM p)
         SELECT doc_id, norm_url,
           row_number() OVER (PARTITION BY norm_url ORDER BY doc_id) = 1
             AS kept,
           count(*) OVER (PARTITION BY norm_url)::BIGINT AS n_group
         FROM n ORDER BY doc_id"""
    }),

    Query("d22_containment_pairs", (s, dir) => {
      // Asymmetric containment dedup (beyond the reference): partial
      // copies — an excerpt quoted inside a much larger page — score
      // J ≈ |A|/|B| ≈ 0 under d4's symmetric Jaccard but containment
      // |A∩B|/|A| = 1; RefinedWeb-style curation runs this check
      // beside the symmetric one. The corpus has no verbatim excerpts,
      // so every doc_id % 5 == 0 doc contributes one (first 30 tokens,
      // id + 10⁶) — built from the SAME token chain on both engines.
      // Scale shape (Dedup.containmentPairs): prefix × full-index
      // candidates — join keys are only the contained side's globally
      // RAREST tokens, so common tokens never form blocks and the
      // container side streams linearly; exact integer position filter;
      // one merge-walk intersect per surviving candidate.
      // Run as the BATCH-vs-corpus probe (Dedup.containmentProbe, the
      // d15/d9 production shape): the day's suspect batch — here one
      // 30-token excerpt per doc_id % 5 doc — asks which standing
      // documents substantially contain it. The symmetric corpus-wide
      // form (Dedup.containmentPairs) is the spec'd generic; on THIS
      // synthetic corpus its pair set is adversarially dense (one
      // shared vocabulary ⇒ ~84k pairs at sf0.01) where real crawl
      // text is Zipf-sparse, so the probe is both the realistic and
      // the scale-priced query. Output is the bounded audit: each
      // batch doc's best container (max shared tokens — the integer
      // twin of max containment — then largest, then smallest-id).
      // On this one-vocabulary corpus the qualifying pair set is dense
      // (1.7M pairs at sf0.1 for ~600 best rows), so the query runs the
      // BEST-container reduction (Dedup.containmentBest): the same
      // probe front, one map-side-combinable struct-max per id_a in
      // place of materializing every pair and windowing it — staged
      // output is O(batch), not O(batch × corpus).
      val d = t(s, dir, "documents")
      val exc = d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          array_join(slice(TA.tokens(col("text")), 1, 30), " ").as("text"))
      Dedup.containmentBest(exc, d.select(col("doc_id"), col("text")),
          col("doc_id"), col("text"), threshold = 0.9)
        .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
          col("size_a"), col("size_b"),
          fround(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"))
    }, {
      // brute-force batch-vs-corpus containment (the d4 oracle
      // pattern, asymmetric formula): excerpt side × document side
      // only, the integer size prune, best container by (inter desc,
      // size desc, id); the ratio comparison is the same
      // exact-integer IEEE divide as the Spark side
      val toks = sqlTokens("text")
      s"""WITH bat AS (
           SELECT doc_id + 1000000 AS doc_id,
             array_to_string(list_slice($toks, 1, 30), ' ') AS text
           FROM documents WHERE doc_id % 5 = 0),
         btoks AS (
           SELECT doc_id, unnest(list_distinct($toks)) AS tok FROM bat),
         ctoks AS (
           SELECT doc_id, unnest(list_distinct($toks)) AS tok
           FROM documents),
         bsizes AS (SELECT doc_id, count(*) AS n FROM btoks GROUP BY doc_id),
         csizes AS (SELECT doc_id, count(*) AS n FROM ctoks GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
           FROM btoks a JOIN ctoks b ON a.tok = b.tok
           GROUP BY 1, 2),
         sel AS (
           SELECT ia, ib, inter, sa.n AS na, sb.n AS nb
           FROM pairs
           JOIN bsizes sa ON ia = sa.doc_id
           JOIN csizes sb ON ib = sb.doc_id
           WHERE inter * 1.0 / sa.n >= 0.9),
         best AS (
           SELECT ia, ib, inter, na, nb, row_number() OVER (
             PARTITION BY ia ORDER BY inter DESC, nb DESC, ib) AS rk
           FROM sel)
         SELECT ia AS id_a, ib AS id_b, inter::BIGINT AS inter,
           na::BIGINT AS size_a, nb::BIGINT AS size_b,
           floor((inter * 1.0 / na) * 1e6 + 0.5) / 1e6 AS containment
         FROM best WHERE rk = 1 ORDER BY id_a"""
    }),

    Query("d23_containment_est", (s, dir) => {
      // MinHash containment ESTIMATE — the sketch/scale twin of d22
      // (the d6-to-d4 relationship, done for the asymmetric signal):
      // banded candidates only, then pure algebra converts the
      // signature-agreement Jaccard estimate to containment of the
      // smaller shingle set, |A∩B| = J·(|A|+|B|)/(1+J) ⇒
      // C = J·(na+nb)/((1+J)·min(na,nb)), clamped at 1. No token
      // arrays ride any shuffle: the only non-integer inputs are the
      // dyadic est_jaccard (k/16) and two exact BIGINT sizes, and both
      // engines run the identical fixed-order IEEE chain. Scale shape:
      // d6's banded candidate generation + one (doc_id, count) side
      // table joined twice — LAZILY CHECKPOINTED so the shingle pass
      // over the corpus runs once, not once per join side.
      val d = t(s, dir, "documents")
      val sz = d.select(col("doc_id"), TA.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          size(Dedup.shinglesFromTokens(col("_toks"), 3)).cast("long")
            .as("nsh"))
        .localCheckpoint(eager = false)
      Dedup.minhashPairs(d, col("doc_id"), col("text"))
        .join(sz.select(col("doc_id").as("id_a"), col("nsh").as("n_a")),
          "id_a")
        .join(sz.select(col("doc_id").as("id_b"), col("nsh").as("n_b")),
          "id_b")
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .withColumn("est_containment", least(lit(1.0),
          col("est_jaccard") * (col("n_a") + col("n_b")).cast("double") /
            ((lit(1.0) + col("est_jaccard")) *
              least(col("n_a"), col("n_b")).cast("double"))))
        .filter(col("est_containment") >= 0.8)
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
          fround(col("est_jaccard"), 6).as("est_jaccard"),
          fround(col("est_containment"), 6).as("est_containment"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // the d6 band chain, shingle-set sizes from the same sh CTE, and
      // the identical fixed-order IEEE algebra J(na+nb)/((1+J)·min) —
      // 1.0::DOUBLE dodging the decimal-literal trap
      s"""WITH $sqlMinhashPairCtes,
         sz AS (SELECT doc_id, len(shingles)::BIGINT AS nsh FROM sh),
         j AS (SELECT id_a, id_b, est_jaccard,
             sa.nsh AS n_a, sb.nsh AS n_b
           FROM mh_pairs
           JOIN sz sa ON id_a = sa.doc_id
           JOIN sz sb ON id_b = sb.doc_id
           WHERE sa.nsh > 0 AND sb.nsh > 0),
         c AS (SELECT id_a, id_b, n_a, n_b, est_jaccard,
             least(1.0::DOUBLE,
               est_jaccard * (n_a + n_b)::DOUBLE /
                 ((1.0::DOUBLE + est_jaccard) *
                   least(n_a, n_b)::DOUBLE)) AS est_containment
           FROM j)
         SELECT id_a, id_b, n_a, n_b,
           floor(est_jaccard * 1e6 + 0.5) / 1e6 AS est_jaccard,
           floor(est_containment * 1e6 + 0.5) / 1e6 AS est_containment
         FROM c WHERE est_containment >= 0.8
         ORDER BY id_a, id_b"""),

    Query("d24_est_calibration", (s, dir) => {
      // D24 — MinHash estimator CALIBRATION harness (the v21 eval move
      // applied to dedup; beyond the reference): every banded
      // candidate pair gets the EXACT shingle-set Jaccard next to its
      // k/16 signature estimate, and the census buckets pairs by the
      // estimate's integer grid value — the measured
      // false-positive/false-negative account you run before
      // committing band parameters at 100 TB. Determinism: exact
      // Jaccard is an integer rational ((ni·10⁶) div nu), the bucket
      // key est16 = k exactly (est_jaccard is dyadic k/16), and the
      // per-bucket mean is one integer divide of exact BIGINT sums.
      // Scale shape: shingle hashes explode ONCE (staged), pairs are
      // banded candidates only, intersections count as bare
      // (id, id, hash) longs — no arrays on any shuffle (2⁻²⁸ hash
      // collisions are the d16-documented bound, identical on both
      // engines by construction).
      val d = t(s, dir, "documents")
      val exa = d.select(col("doc_id"), TA.tokens(col("text")).as("_tk"))
        .select(col("doc_id"),
          Dedup.shinglesFromTokens(col("_tk"), 3).as("_sh"))
        .select(col("doc_id"),
          explode(Dedup.shingleValues(col("_sh"))).as("h"))
        .distinct()
        .localCheckpoint(eager = false)
      val sz = exa.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      val cand = Dedup.minhashPairs(d, col("doc_id"), col("text"))
        .select(col("id_a"), col("id_b"), col("est_jaccard"))
        .localCheckpoint(eager = false)
      val ni = cand.select(col("id_a"), col("id_b"))
        .join(exa.select(col("doc_id").as("id_a"), col("h")), Seq("id_a"))
        .join(exa.select(col("doc_id").as("id_b"), col("h")),
          Seq("id_b", "h"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
      cand.join(ni, Seq("id_a", "id_b"), "left")
        .join(sz.select(col("doc_id").as("id_a"), col("nsh").as("n_a")),
          Seq("id_a"))
        .join(sz.select(col("doc_id").as("id_b"), col("nsh").as("n_b")),
          Seq("id_b"))
        .withColumn("ni", coalesce(col("ni"), lit(0L)))
        .withColumn("jac_micro",
          expr("(ni * 1000000) div (n_a + n_b - ni)"))
        .withColumn("est16",
          floor(col("est_jaccard") * lit(16.0) + lit(0.5)).cast("long"))
        .groupBy(col("est16"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jac_micro")).as("_sj"),
          sum(when(col("jac_micro") >= 500000L, 1L).otherwise(0L))
            .as("n_exact_pass"))
        .select(col("est16"), col("n_pairs"),
          expr("_sj div n_pairs").as("mean_exact_micro"),
          col("n_exact_pass"), (col("est16") >= 8L).as("est_pass"))
        .orderBy(col("est16"))
    },
      // exact shingle-set Jaccard from the SAME vs chain (hash sets,
      // 2⁻²⁸ collision bound identical by construction), bucketed on
      // the integer estimate grid; means are integer divides
      s"""WITH $sqlMinhashPairCtes,
         ex AS (SELECT DISTINCT doc_id, h FROM
           (SELECT doc_id, unnest(vs) AS h FROM vs)),
         szc AS (SELECT doc_id, count(*)::BIGINT AS nsh FROM ex
           GROUP BY doc_id),
         nic AS (SELECT p.id_a, p.id_b, count(*)::BIGINT AS ni
           FROM mh_pairs p
           JOIN ex ea ON ea.doc_id = p.id_a
           JOIN ex eb ON eb.doc_id = p.id_b AND eb.h = ea.h
           GROUP BY p.id_a, p.id_b),
         rw AS (SELECT p.id_a, p.id_b, coalesce(n.ni, 0) AS ni,
             sa.nsh AS n_a, sb.nsh AS n_b,
             floor(p.est_jaccard * 16.0 + 0.5)::BIGINT AS est16
           FROM mh_pairs p
           LEFT JOIN nic n ON n.id_a = p.id_a AND n.id_b = p.id_b
           JOIN szc sa ON sa.doc_id = p.id_a
           JOIN szc sb ON sb.doc_id = p.id_b),
         jm AS (SELECT est16,
             (ni * 1000000) // (n_a + n_b - ni) AS jac_micro FROM rw)
         SELECT est16, count(*)::BIGINT AS n_pairs,
           (sum(jac_micro) // count(*))::BIGINT AS mean_exact_micro,
           sum(CASE WHEN jac_micro >= 500000 THEN 1 ELSE 0 END)::BIGINT
             AS n_exact_pass,
           est16 >= 8 AS est_pass
         FROM jm GROUP BY est16 ORDER BY est16"""),

    Query("d25_keep_best", (s, dir) => {
      // D25 — QUALITY-AWARE survivorship over the near-dup closure
      // (beyond the reference; the SlimPajama longest-wins rule): d14
      // keeps the min-id member per cluster — arbitrary; production
      // dedup keeps the BEST copy. Survivor = argmax by
      // (n_chars desc, doc_id asc) inside each cluster — one
      // row_number window partitioned by cluster_id (group size =
      // cluster size, never corpus size), pure integer ordering, both
      // tie levels pinned. This closes the survivorship-policy seam
      // the streaming cluster-label registry deliberately leaves to
      // downstream.
      val d = t(s, dir, "documents")
      Dedup.dupClusters(d.select(col("doc_id"), col("text")),
          col("doc_id"), col("text"), threshold = 0.5)
        .select(col("doc_id"), col("cluster_id"))
        .join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .withColumn("kept", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("n_chars").desc, col("doc_id"))) === 1)
        .select(col("doc_id"), col("cluster_id"), col("n_chars"),
          col("kept"))
        .orderBy(col("doc_id"))
    },
      // the d14 closure + the longest-wins survivor window, both tie
      // levels (n_chars desc, doc_id asc) replayed
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
             d.n_chars
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         SELECT doc_id, cluster_id, n_chars,
           row_number() OVER (PARTITION BY cluster_id
             ORDER BY n_chars DESC, doc_id) = 1 AS kept
         FROM lab ORDER BY doc_id""")
  )
}
