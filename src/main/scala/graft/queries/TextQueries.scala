package graft
package queries

import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
import graft.operators.{Classify, Packing}
import graft.queries.Common._
import org.apache.spark.sql.functions._

/** Families t/ta: text functions and text analysis (cleaning, language
  * id, n-grams, BPE, readability, chunking).
  */
object TextQueries {

  /** 16 common CJK ideographs (all inside TA.cjkRange) for deterministic
    * Chinese-text injection: the corpus is pure ASCII, so ta7 and its
    * oracle synthesize CJK text from doc_id IDENTICALLY on both sides
    * (the sqlDirtyPii precedent).
    */
  private val cjkAlpha: String =
    "的一是不了人我在" +
    "有他这中大来上国"

  /** ta15 chunk window: sized so the sf documents (10-99 tokens) really
    * split 1-4 ways; shared by the query and its oracle SQL.
    */
  private val ChunkMax = 32
  private val ChunkStride = 24

  /** Shared (word, freq) base for the ta9/ta10 BPE oracles. */
  private def sqlBpeBase: String =
    s"""tok AS (SELECT unnest(${sqlTokens("text")}) AS word FROM documents),
       wf AS (SELECT word, count(*)::BIGINT AS freq FROM tok GROUP BY word)"""

  /** DuckDB twin of TokenFingerprint / TA.fingerprint over `e`. */
  private def sqlFingerprint(e: String): String =
    s"""list_reduce(
       list_prepend(7::BIGINT, list_transform(${sqlTokens(e)},
         t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)),
       (h, v) -> (h * 31 + v) % 1000000007)"""

  /** DuckDB twin of TA.languageId: CJK → zh, no hits → und, else the
    * first language (in priority order) holding the max hit count.
    */
  private def sqlLanguageId(e: String): String = {
    val hs = TA.langMarkers.map { case (l, ms) => l -> sqlHits(e, ms) }
    val total = hs.map(_._2).mkString(" + ")
    // branch k: lang k beats every later lang (earlier ones already failed
    // = had strictly fewer hits), i.e. first-max.
    val branches = hs.zipWithIndex.map { case ((l, h), i) =>
      val laters = hs.drop(i + 1).map(_._2)
      if (laters.isEmpty) s"ELSE '$l'"
      else s"WHEN ${laters.map(o => s"$h >= $o").mkString(" AND ")} THEN '$l'"
    }
    s"""CASE WHEN regexp_matches($e, '[${TA.cjkRange}]') THEN 'zh'
        WHEN $total = 0 THEN 'und'
        ${branches.init.mkString("\n        ")}
        ${branches.last} END"""
  }

  val all: Seq[Query] = Seq(
    Query("t1_text_clean", (s, dir) => {
      // T1-T4 — LaTeX/HTML-entity/non-ASCII strip + whitespace collapse
      // (text_cleaning.py:20-50). The corpus is clean, so dirty input is
      // constructed identically on both sides from the same column.
      val dirty = concat(
        lit("\\textbf{Attention} is $O(n^2)$ &amp; caf\u00e9 "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), TF.cleanText(dirty).as("clean_text"),
          TF.wordCount(col("text")).as("n_words"),
          TF.sentenceCount(col("text")).as("n_sentences"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     '\textbf{Attention} is $O(n^2)$ &amp; café ' || text,
                     '\$.*?\$', ' ', 'g'),
                   '\\[a-zA-Z]+\{[^}]*\}', ' ', 'g'),
                 '\\[a-zA-Z]+\s*', ' ', 'g'),
               '&[a-zA-Z]+;', ' ', 'g'),
             '[^\x00-\x7F]+', ' ', 'g'),
           '\s+', ' ', 'g')) AS clean_text,
         len(regexp_extract_all(text, '\w+')) AS n_words,
         len(list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) <> '')) AS n_sentences
         FROM documents ORDER BY doc_id"""),

    Query("t2_unicode_normalize", (s, dir) => {
      // NFC canonicalization (beyond the reference, which strips
      // non-ASCII outright): decomposed sequences (e + U+0301 etc.)
      // compose to single code points so visually-identical strings
      // hash identically in every downstream dedup. Native codegen
      // expression (UnicodeNormalize) with an isNormalized fast path;
      // the oracle is DuckDB's nfc_normalize. norm binds at a select
      // boundary so the normalization runs once per row.
      val dirty = concat(lit("cafe\u0301 nai\u0308ve "),
        substring(col("text"), 1, 40))
      t(s, dir, "documents")
        .select(col("doc_id"), dirty.as("orig"))
        .select(col("doc_id"), col("orig"),
          TF.nfcNormalize(col("orig")).as("norm"))
        .select(col("doc_id"), col("norm"),
          (col("norm") =!= col("orig")).as("changed"))
        .orderBy(col("doc_id"))
    },
      // chr(769)/chr(776) = U+0301/U+0308 combining acute/diaeresis —
      // the same decomposed bytes the Spark literal carries
      """WITH d AS (SELECT doc_id,
           'cafe' || chr(769) || ' nai' || chr(776) || 've ' ||
             substr(text, 1, 40) AS orig
         FROM documents)
         SELECT doc_id, nfc_normalize(orig) AS norm,
           nfc_normalize(orig) <> orig AS changed
         FROM d ORDER BY doc_id"""),

    Query("ta1_language_id", (s, dir) => {
      // Language-ID heuristic (marker-stopword argmax + CJK check) over
      // every document; zero shuffles. Tokens materialize at a select
      // boundary so the four marker counts share one tokenization.
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TA.languageIdFromTokens(col("toks"), col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, ${sqlLanguageId("text")} AS lang_pred
         FROM documents ORDER BY doc_id"""),

    Query("ta2_text_stats", (s, dir) => {
      // Token counting (whitespace + BPE-ish regex) and quality scoring
      // (length/stopword/diversity/punct) — the per-doc text-stat pass a
      // training-data pipeline runs before filtering.
      // One tokenization per row, shared by every token-based stat via a
      // select boundary (splicing tokens(text) into each stat would
      // re-tokenize per stat).
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TA.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          TA.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          fround(TA.stopwordRatioFromTokens(col("toks")), 6).as("stop_ratio"),
          fround(TA.punctRatio(col("text")), 6).as("punct_ratio"),
          fround(TA.typeTokenRatioFromTokens(col("toks")), 6).as("ttr"),
          TA.qualityScoreFromTokens(col("toks"), col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },
      s"""${sqlQualityCtes()}
         SELECT doc_id, n_tokens, n_bpe_tokens,
           floor((sr) * 1e6 + 0.5) / 1e6 AS stop_ratio, floor((pr) * 1e6 + 0.5) / 1e6 AS punct_ratio,
           floor((tt) * 1e6 + 0.5) / 1e6 AS ttr, $sqlQualityExpr AS quality
         FROM s ORDER BY doc_id"""),

    Query("ta3_fingerprint", (s, dir) => {
      // Order-sensitive rolling-hash document fingerprint (md5-derived,
      // mod 1e9+7) — exact-dup detection key that any engine can
      // recompute. Runs the native single-pass expression; the
      // declarative twin (TA.fingerprint) is pinned bit-identical in
      // ExpressionsSpec.
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.TokenFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, ${sqlFingerprint("text")} AS fp
         FROM documents ORDER BY doc_id"""),

    Query("ta4_ngram_jaccard", (s, dir) => {
      // Character-3-gram Jaccard between consecutive docs — the n-gram
      // near-dup signal as a join-side expression.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = d.as("a"); val b = d.as("b")
      a.filter(col("a.doc_id") < 200)
        .join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          fround(TA.ngramJaccard(col("a.text"), col("b.text"), 3), 6).as("sim"))
        .orderBy(col("id_a"))
    },
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(text) - 2), i -> substr(text, i::INT, 3))) AS grams
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS inter,
             len(a.grams) + len(b.grams) AS tot
           FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id < 200)
         SELECT id_a, id_b, floor((inter * 1.0 / (tot - inter)) * 1e6 + 0.5) / 1e6 AS sim
         FROM p ORDER BY id_a"""),

    Query("ta5_repetition", (s, dir) => {
      // Gopher-style repetition filters (top-token share, repeated-
      // bigram share) — the boilerplate/keyword-stuffing signals a
      // training-data pipeline gates on. Tokens materialize once at a
      // select boundary; both signals read the attribute.
      t(s, dir, "documents")
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          fround(TA.topTokenFraction(col("toks")), 6).as("top_token_frac"),
          fround(TA.dupBigramFraction(col("toks")), 6).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH m AS (
           SELECT doc_id, $toks AS toks, len($toks) AS n FROM documents)
         SELECT doc_id,
           ${sqlFround(
             """CASE WHEN n > 0 THEN
                list_max(list_transform(list_distinct(toks),
                  t -> len(list_filter(toks, x -> x = t))))::DOUBLE / n
                ELSE 0.0 END""", 6)} AS top_token_frac,
           ${sqlFround(
             """CASE WHEN n > 1 THEN
                1.0 - len(list_distinct(list_transform(
                  generate_series(1, (n - 1)::INT),
                  i -> toks[i] || ' ' || toks[i + 1])))::DOUBLE
                  / (n - 1)
                ELSE 0.0 END""", 6)} AS dup_bigram_frac
         FROM m ORDER BY doc_id"""
    }),

    Query("ta6_seq_packing", (s, dir) => {
      // Sequence packing for training (beyond the reference): concat-
      // and-chunk semantics — per language, documents concatenate in
      // doc_id order and cut every 2048 tokens; a doc belongs to the
      // bin where it STARTS. Bucketed two-pass path (Packing.scala):
      // in-bucket running sums + summary-carry across buckets, so a
      // skewed language distribution never serializes one language's
      // whole corpus through a single task's sort (the j4 pattern;
      // PackingSpec pins equality with the single-window formulation).
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packBins(
          Packing.packedStartsBucketed(d, col("lang"), col("doc_id"),
            col("n_tok"), bucketWidth = 4096L),
          binTokens = 2048L)
        .orderBy(col("lang"), col("bin"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH t AS (
           SELECT doc_id, lang, len($toks)::BIGINT AS n_tok FROM documents),
         s AS (
           SELECT lang, n_tok,
             (sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               - n_tok AS start_tok
           FROM t)
         SELECT lang, start_tok // 2048 AS bin, count(*) AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens
         FROM s GROUP BY lang, bin ORDER BY lang, bin"""
    }),

    Query("ta7_cjk_text", (s, dir) => {
      // CJK tokenization end-to-end (the reference's Chinese RAG corpus
      // path, RAG/rag_chinese_test.ipynb): whitespace-free ideograph
      // runs tokenize per-character and ASCII runs glued to them stay
      // their own tokens, so token counts, language-ID, the rolling
      // fingerprint, and simhash all stay meaningful on Chinese text
      // instead of collapsing to one giant pseudo-token per document.
      val txt = concat(
        lit(cjkAlpha).substr((col("doc_id") % 8 + 1).cast("int"), lit(6)),
        lit("mix"),
        lit(cjkAlpha).substr((col("doc_id") % 4 + 1).cast("int"), lit(3)),
        lit(" "), substring(col("text"), 1, 40))
      t(s, dir, "documents")
        .select(col("doc_id"), txt.as("ztext"))
        .select(col("doc_id"),
          TA.tokenCount(col("ztext")).as("n_tok"),
          TA.cjkCount(col("ztext")).as("n_cjk"),
          TA.languageId(col("ztext")).as("lang_pred"),
          graft.expressions.TokenFingerprint(col("ztext")).as("fp"),
          graft.expressions.SimHash16(col("ztext")).cast("long").as("sh"))
        .orderBy(col("doc_id"))
    },
      s"""WITH t AS (
           SELECT doc_id,
             substr('$cjkAlpha', (doc_id % 8 + 1)::INT, 6) || 'mix' ||
             substr('$cjkAlpha', (doc_id % 4 + 1)::INT, 3) || ' ' ||
             substr(text, 1, 40) AS ztext
           FROM documents)
         SELECT doc_id,
           len(${sqlTokens("ztext")}) AS n_tok,
           len(regexp_extract_all(ztext, '[${TA.cjkRange}]')) AS n_cjk,
           ${sqlLanguageId("ztext")} AS lang_pred,
           ${sqlFingerprint("ztext")} AS fp,
           ${sqlSimhash("ztext")} AS sh
         FROM t ORDER BY doc_id"""),

    Query("ta8_unigram_logprob", (s, dir) => {
      // Corpus-unigram LM score (beyond the reference): frequency-
      // weighted mean ln P(token) under the corpus's own unigram
      // distribution — the cheap KenLM-seat fluency signal of
      // CCNet/Gopher quality stacks. Tokens collapse to per-doc
      // (token, count) before the vocabulary join, so the shuffle
      // moves the distinct footprint, not every occurrence; the
      // corpus total rides along as a broadcast scalar.
      val d = t(s, dir, "documents")
      TA.unigramLogProb(d, col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tok"),
          fround(col("avg_logprob"), 6).as("logprob"))
        .orderBy(col("doc_id"))
    },
      // detln + 2^-20 grid (the r11 order-exact form): wi per vocab
      // entry, exact BIGINT per-doc sums, two divides restore scale
      s"""WITH toks AS (
           SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
         perdoc AS (
           SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         vocab AS (SELECT tok, sum(c)::BIGINT AS cf FROM perdoc GROUP BY 1),
         tot AS (SELECT ttln FROM (SELECT
             ${operators.Classify.sqlDetLnCols("tt", "sum(cf)")}
           FROM vocab)),
         wtab AS (SELECT tok, wi FROM (SELECT tok,
             ${operators.Classify.sqlDetLnCols("cl", "cf")},
             floor((clln - ttln) * ${operators.Classify.WeightGrid}
               + 0.5)::BIGINT AS wi
           FROM vocab CROSS JOIN tot))
         SELECT doc_id, sum(c)::BIGINT AS n_tok,
           floor(((sum(c * wi)::DOUBLE / sum(c)::DOUBLE)
             / ${operators.Classify.WeightGrid}) * 1e6 + 0.5) / 1e6
             AS logprob
         FROM perdoc JOIN wtab USING (tok)
         GROUP BY doc_id ORDER BY doc_id"""),

    Query("ta9_bpe_merges", (s, dir) => {
      // Distributed BPE tokenizer training (beyond the reference): the
      // corpus is read ONCE (wordFreqs); each merge step then costs one
      // partial-aggregated pair count over the vocab-sized (word, freq)
      // table plus a projection — never a text rescan. Deterministic
      // (count desc, lexicographic tiebreak); the DuckDB oracle replays
      // the bounded loop UNROLLED (Bpe.sqlTrainChain), so the full
      // training output is hash-gated.
      import s.implicits._
      val merges = operators.Bpe.trainMergesBatched(
        operators.Bpe.wordFreqs(t(s, dir, "documents"), col("text")),
        numMerges = 8)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b, a + b) }
        .toDF("step", "left", "right", "merged")
    }, {
      // the bounded training loop UNROLLED into a CTE chain
      // (Bpe.sqlTrainChain) — a real independent replay of the 8 merge
      // steps, not a literal pin
      s"""WITH $sqlBpeBase,
         ${operators.Bpe.sqlTrainChain(8, "wf")}
         ${operators.Bpe.sqlMergesSelect(8)}"""
    }),

    Query("ta10_bpe_encode", (s, dir) => {
      // Serving-path BPE encode over the corpus with the native
      // codegen kernel (expressions.BpeEncode): train 8 merges (ta9),
      // then one flat JVM pass per document — the shape that holds at
      // 10⁴-merge production vocabularies, where the declarative
      // per-merge fold is unplannable. Oracle: the unrolled training
      // chain's final vocab table doubles as the per-word encoding
      // (pieces = len(s8.syms)), joined back onto doc tokens.
      val docs = t(s, dir, "documents")
      val merges = operators.Bpe.trainMergesBatched(
        operators.Bpe.wordFreqs(docs, col("text")), numMerges = 8)
      docs.select(col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens"),
          size(graft.expressions.BpeEncode(col("text"), merges))
            .as("n_pieces"))
        .orderBy(col("doc_id"))
    }, {
      // the final rewritten vocab table s8 IS the per-word encoding:
      // len(syms) = pieces per distinct word; docs join against it
      s"""WITH $sqlBpeBase,
         ${operators.Bpe.sqlTrainChain(8, "wf")},
         wp AS (SELECT word, len(syms) AS pieces FROM s8),
         dt AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS word
                FROM documents),
         dp AS (SELECT doc_id, sum(pieces)::BIGINT AS n_pieces
                FROM dt JOIN wp USING (word) GROUP BY doc_id)
         SELECT d.doc_id, len(${sqlTokens("d.text")})::INT AS n_tokens,
           (CASE WHEN d.text IS NULL THEN NULL
             ELSE coalesce(dp.n_pieces, 0) END)::INT AS n_pieces
         FROM documents d LEFT JOIN dp USING (doc_id) ORDER BY d.doc_id"""
    }),

    Query("ta11_bigram_logprob", (s, dir) => {
      // Interpolated corpus-bigram LM fluency (beyond the reference;
      // the order-2 upgrade of ta8): one tokenization, one bigram
      // count table, both marginals derived from it, λ=0.75 backoff to
      // the continuation marginal.
      TA.bigramLogProb(t(s, dir, "documents"), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_big"),
          fround(col("avg_logprob"), 6).as("logprob"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         pairs AS (
           SELECT doc_id, unnest(list_zip(
             list_slice(tk, 1, len(tk) - 1),
             list_slice(tk, 2, len(tk)))) AS p
           FROM t WHERE len(tk) >= 2),
         perdoc AS (
           SELECT doc_id, p[1] AS a, p[2] AS b, count(*) AS c
           FROM pairs GROUP BY 1, 2, 3),
         big AS (SELECT a, b, sum(c) AS cab FROM perdoc GROUP BY 1, 2),
         ctx AS (SELECT a, sum(cab) AS ca FROM big GROUP BY 1),
         cont AS (SELECT b, sum(cab) AS cb FROM big GROUP BY 1),
         tot AS (SELECT sum(cab) AS tot FROM big),
         wtab AS (SELECT a, b, wi FROM (SELECT a, b,
             0.75 * (cab / ca) + 0.25 * (cb / tot) AS mix,
             ${operators.Classify.sqlDetLnDCols("mx", "mix")},
             floor(mxln * ${operators.Classify.WeightGrid}
               + 0.5)::BIGINT AS wi
           FROM big JOIN ctx USING (a) JOIN cont USING (b) CROSS JOIN tot))
         SELECT doc_id, sum(c)::BIGINT AS n_big,
           floor(((sum(c * wi)::DOUBLE / sum(c)::DOUBLE)
             / ${operators.Classify.WeightGrid}) * 1e6 + 0.5) / 1e6
             AS logprob
         FROM perdoc JOIN wtab USING (a, b)
         GROUP BY doc_id ORDER BY doc_id"""
    }),

    Query("ta12_url_filter", (s, dir) => {
      // URL-level source curation (beyond the reference; the
      // RefinedWeb front gate): host extraction, canonical URL
      // normalization (lowercase scheme/host, tracking-param/fragment/
      // trailing-slash strip), and a suffix-match domain blocklist —
      // all pure per-row regex expressions fused into the scan, zero
      // shuffles. The corpus has no URL column, so URLs synthesize
      // from doc_id identically on both sides (the c1/ta7 precedent):
      // mixed-case scheme+host, rotating domains, tracking params on
      // some, fragments on some, trailing slashes on the rest.
      val domains = array(lit("ads.tracker.com"), lit("Example.org"),
        lit("blog.example.org"), lit("spam.example.net"), lit("News.Site.io"))
      val url = concat(lit("HTTPS://"),
        element_at(domains, (pmod(col("doc_id"), lit(5)) + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit("?id="), col("doc_id").cast("string"),
              lit("&utm_campaign=x")))
          .otherwise(lit("/")),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("#frag"))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("_url"))
        .select(col("doc_id"),
          TF.urlHost(col("_url")).as("host"),
          TF.urlNormalize(col("_url")).as("norm_url"),
          TF.hostBlocked(TF.urlHost(col("_url")),
            Seq("tracker.com", "spam.example.net")).as("blocked"))
        .orderBy(col("doc_id"))
    }, {
      // same synthesized URLs; the normalization chain mirrors
      // TF.urlNormalize step for step (DuckDB replacement
      // backrefs are \\1 and need the 'g' flag — Spark's are $1 and
      // global by default)
      val parts = "^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]+)(.*)$"
      s"""WITH u AS (SELECT doc_id,
           'HTTPS://' ||
           (['ads.tracker.com','Example.org','blog.example.org',
             'spam.example.net','News.Site.io'])[(doc_id % 5 + 1)::INT] ||
           '/p/' || doc_id::VARCHAR ||
           (CASE WHEN doc_id % 3 = 0
               THEN '?utm_source=feed&id=' || doc_id::VARCHAR
             WHEN doc_id % 3 = 1
               THEN '?id=' || doc_id::VARCHAR || '&utm_campaign=x'
             ELSE '/' END) ||
           (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url
         FROM documents),
         p AS (SELECT doc_id,
           nullif(lower(regexp_extract(url, '$parts', 2)), '') AS host,
           lower(regexp_extract(url, '$parts', 1)) ||
             lower(regexp_extract(url, '$parts', 2)) ||
             regexp_extract(url, '$parts', 3) AS rebuilt
         FROM u),
         n AS (SELECT doc_id, host,
           ${sqlUrlNorm("rebuilt")} AS nt
         FROM p)
         SELECT doc_id, host,
           nt AS norm_url,
           coalesce(host = 'tracker.com' OR host LIKE '%.tracker.com'
             OR host = 'spam.example.net' OR host LIKE '%.spam.example.net',
             false) AS blocked
         FROM n ORDER BY doc_id"""
    }),

    Query("ta13_char_diversity", (s, dir) => {
      // Character-diversity quality signals (beyond the reference;
      // Gopher-family heuristic — generated/boilerplate text
      // concentrates on few symbols): Shannon bits/char + exact
      // Simpson concentration. Native one-pass kernel (the
      // declarative sorted-run fold is an interpreted per-char HOF —
      // it benched 13 s at sf0.1 vs ~1 s native; bit-parity pinned in
      // TextAnalysisSpec), scan-fused, zero shuffles. Simpson is
      // rational → bit-exact across engines; entropy rounds at 6dp.
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.CharDiversity(col("text")).as("_d"))
        .select(col("doc_id"),
          col("_d.n_chars").as("n_chars"),
          fround(col("_d.entropy"), 6).as("entropy"),
          fround(col("_d.simpson"), 6).as("simpson"))
        .orderBy(col("doc_id"))
    },
      // counts enumerate in ascending-char order (list_distinct of the
      // sorted list), matching the Spark fold's run-closing order, so
      // the double accumulation sequences identically
      s"""WITH ch AS (SELECT doc_id,
             CASE WHEN len(text) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split(text, '') END AS chars
           FROM documents),
         cc AS (SELECT doc_id, len(chars)::BIGINT AS n,
             list_transform(list_distinct(list_sort(chars)),
               q -> len(list_filter(chars, x -> x = q))::BIGINT) AS counts
           FROM ch)
         SELECT doc_id, n AS n_chars,
           floor((CASE WHEN n > 0
             THEN (${operators.Classify.sqlDetLnInline("n")}
               * ${graft.expressions.DetLn.InvLn2Literal})
               - list_sum(list_transform(counts,
               q -> q * (${operators.Classify.sqlDetLnInline("q")}
                 * ${graft.expressions.DetLn.InvLn2Literal}))) / n
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS entropy,
           floor((CASE WHEN n > 1
             THEN list_sum(list_transform(counts, q -> q * (q - 1)))::DOUBLE
               / (n * (n - 1))
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS simpson
         FROM cc ORDER BY doc_id"""),

    Query("ta14_corpus_divergence", (s, dir) => {
      // Per-language JS divergence vs the corpus mixture (beyond the
      // reference): the drift statistic that validates a mix or flags
      // a bad ingest source. One tokenize pass; both distributions
      // derive from one vocab-sized count table; strata totals and
      // the scalar grand total broadcast.
      TA.corpusDivergence(
          t(s, dir, "documents"), col("lang"), col("text"))
        .select(col("stratum").as("lang"), col("n_tok"),
          fround(col("js_bits"), 6).as("js_bits"))
        .orderBy(col("lang"))
    }, {
      val toks = sqlTokens("text")
      s"""WITH tk AS (SELECT lang AS stratum, unnest($toks) AS tok
           FROM documents),
         sc AS (SELECT stratum, tok, count(*)::BIGINT AS c
           FROM tk GROUP BY stratum, tok),
         st AS (SELECT stratum, sum(c)::BIGINT AS ts FROM sc GROUP BY stratum),
         tot AS (SELECT tok, sum(c)::BIGINT AS ct FROM sc GROUP BY tok),
         g AS (SELECT sum(ct)::BIGINT AS t FROM tot),
         pairs AS (
           SELECT s.stratum, s.ts,
             coalesce(x.c, 0)::DOUBLE / s.ts::DOUBLE AS p,
             tot.ct::DOUBLE / g.t::DOUBLE AS q
           FROM tot CROSS JOIN st s CROSS JOIN g
           LEFT JOIN sc x ON x.stratum = s.stratum AND x.tok = tot.tok),
         terms AS (SELECT stratum, ts, tq FROM (SELECT stratum, ts,
             2 * p / (p + q) AS r1, 2 * q / (p + q) AS r2, p, q,
             ${operators.Classify.sqlDetLnDCols("u", "r1")},
             ${operators.Classify.sqlDetLnDCols("v", "r2")},
             floor(((CASE WHEN p > 0
                 THEN 0.5 * p * (uln * ${graft.expressions.DetLn.InvLn2Literal})
                 ELSE 0.0 END) +
               0.5 * q * (vln * ${graft.expressions.DetLn.InvLn2Literal}))
               * ${graft.expressions.DetLn.TermGrid} + 0.5)::BIGINT AS tq
           FROM pairs))
         SELECT stratum AS lang, max(ts) AS n_tok,
           floor((sum(tq)::DOUBLE / ${graft.expressions.DetLn.TermGrid})
             * 1e6 + 0.5) / 1e6 AS js_bits
         FROM terms GROUP BY stratum ORDER BY lang"""
    }),

    Query("ta15_chunk_windows", (s, dir) => {
      // Sliding-window chunking (beyond the reference; the tokenizer
      // return_overflowing_tokens shape): over-length documents split
      // into ≤32-token windows every 24 tokens (8-token overlap)
      // before packing/serving — docs here run 10-99 tokens, so the
      // corpus really splits 1-4 ways. Zero exchanges: one narrow
      // tokenize-once projection + generator per row (Packing.scala);
      // the final sort exists only for the oracle compare.
      Packing.chunkWindows(t(s, dir, "documents"), col("doc_id"),
          col("text"), maxTokens = ChunkMax, stride = ChunkStride)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, {
      // Spark `sequence(0, k)` and DuckDB `generate_series(0, k)` are
      // both inclusive; `list_slice` is 1-based inclusive and clamps at
      // the list end exactly like Spark's `slice(arr, start, length)`.
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         k AS (SELECT doc_id, toks,
           CASE WHEN len(toks) <= $ChunkMax THEN 0
                ELSE (len(toks) - $ChunkMax + $ChunkStride - 1) // $ChunkStride
           END AS last_i FROM t),
         c AS (SELECT doc_id, toks,
           unnest(generate_series(0, last_i))::BIGINT AS chunk_idx FROM k)
         SELECT doc_id, chunk_idx,
           len(list_slice(toks, chunk_idx * $ChunkStride + 1,
             chunk_idx * $ChunkStride + $ChunkMax))::BIGINT AS n_tok,
           array_to_string(list_slice(toks, chunk_idx * $ChunkStride + 1,
             chunk_idx * $ChunkStride + $ChunkMax), ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx"""
    }),

    Query("ta16_dup_lines", (s, dir) => {
      // Gopher A1.1 duplicate-line repetition signals (beyond the
      // reference): occurrence fraction + character fraction of
      // beyond-first duplicate lines, per doc — the listicle/template
      // detector the token-level ta5 signals miss. The corpus has no
      // newlines, so lined text synthesizes from doc_id identically on
      // both sides (the d13 precedent): a 40-char head, one universal
      // line, an every-3rd-doc duplicate of it, an every-5th-doc
      // duplicate of the HEAD (long line — spikes the char fraction
      // where the short-line dup barely moves it), and a trailing blank
      // that must not count as a unit. Whole signal is an array
      // expression fused into the scan: no explode, no shuffle.
      val lined = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("all rights reserved"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("all rights reserved"))
            .otherwise(concat(lit("unique "), col("doc_id").cast("string"))),
          when(pmod(col("doc_id"), lit(5)) === 0,
            substring(col("text"), 1, 40))
            .otherwise(concat(lit("tail "), col("doc_id").cast("string"))),
          lit("")).as("text"))
      lined
        .select(col("doc_id"), TA.textUnits(col("text"), "\n").as("us"))
        .select(col("doc_id"),
          size(col("us")).as("n_lines"),
          fround(TA.dupUnitFraction(col("us")), 6).as("dup_line_frac"),
          fround(TA.dupUnitCharFraction(col("us")), 6).as("dup_char_frac"))
        .orderBy(col("doc_id"))
    },
      // same doc_id-synthesized lined text; units = trimmed non-blank
      // lines; char sums via length() (characters — DuckDB strlen is
      // bytes), coalesced against the empty-list-NULL quirk
      s"""WITH lined AS (SELECT doc_id,
           substr(text, 1, 40) || chr(10) || 'all rights reserved' ||
           chr(10) ||
           CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved'
             ELSE 'unique ' || doc_id::VARCHAR END || chr(10) ||
           CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 40)
             ELSE 'tail ' || doc_id::VARCHAR END || chr(10) || ''
             AS text FROM documents),
         u AS (SELECT doc_id,
           list_filter(list_transform(string_split(text, chr(10)),
             x -> trim(x)), x -> x != '') AS us
           FROM lined),
         m AS (SELECT doc_id, us, len(us) AS n,
           len(list_distinct(us)) AS nd,
           coalesce(list_sum(list_transform(us, x -> length(x))), 0)
             AS tot,
           coalesce(list_sum(list_transform(list_distinct(us),
             x -> length(x))), 0) AS dis
           FROM u)
         SELECT doc_id, n AS n_lines,
           ${sqlFround(
             "CASE WHEN n > 0 THEN (n - nd)::DOUBLE / n ELSE 0.0 END", 6)}
             AS dup_line_frac,
           ${sqlFround(
             "CASE WHEN tot > 0 THEN (tot - dis)::DOUBLE / tot ELSE 0.0 END",
             6)} AS dup_char_frac
         FROM m ORDER BY doc_id"""),

    Query("ta17_zipf_slope", (s, dir) => {
      // Token-distribution health per lang (beyond the reference):
      // the Zipf log-log slope estimated from a log2-FREQUENCY
      // HISTOGRAM — count of distinct tokens per floor-log2(freq)
      // bucket — instead of a rank-frequency regression, because rank
      // needs a window over the full vocabulary (≥10⁸ rows at corpus
      // scale) while the histogram is a map-side-combined aggregate
      // into ≤64 buckets. Natural text slopes ≈ −1; a collapse toward
      // 0 or a cliff flags boilerplate/generated corpora. Closed-form
      // least squares over the bucket rows; log2 buckets by bin()
      // string length (integer-exact both engines), slope at 6dp.
      val cnts = t(s, dir, "documents")
        .select(col("lang"), explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val hist = cnts
        .select(col("lang"), (length(bin(col("cnt"))) - 1).cast("long").as("b"))
        .groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).as("n_types"))
      // ORDER-EXACT least squares (r11): y = detln(n_types) quantized
      // to the integer 2^-20 grid, x = the integer bucket index — all
      // five sums are exact BIGINTs in any order, the slope is one
      // integer-ratio divide scaled back by the grid
      val pts = hist.select(col("lang"), col("b").as("x"),
        floor(graft.expressions.DetLn(col("n_types")) *
          lit(Classify.WeightGrid) + lit(0.5)).as("yi"), col("n_types"))
      pts.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("n_types")).as("n_distinct"),
          count(lit(1)).as("_n"),
          sum(col("x")).as("_sx"), sum(col("yi")).as("_sy"),
          sum(col("x") * col("yi")).as("_sxy"),
          sum(col("x") * col("x")).as("_sxx"))
        .select(col("lang"), col("n_buckets"), col("n_distinct"),
          when(col("_n") * col("_sxx") - col("_sx") * col("_sx") =!= 0L,
            fround(((col("_n") * col("_sxy") - col("_sx") * col("_sy"))
                .cast("double") /
              (col("_n") * col("_sxx") - col("_sx") * col("_sx"))
                .cast("double")) / lit(Classify.WeightGrid), 6))
            .as("zipf_slope"))
        .orderBy(col("lang"))
    },
      // Replays bucketing (bin-length log2), the ln-space least
      // squares, and the zero-denominator guard.
      s"""WITH tok AS (
           SELECT lang, unnest(${sqlTokens("text")}) AS tok FROM documents),
         cnts AS (
           SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         hist AS (
           SELECT lang, (length(bin(cnt)) - 1)::BIGINT AS b,
             count(*) AS n_types
           FROM cnts GROUP BY 1, 2),
         pts AS (
           SELECT lang, x, yi, n_types FROM (
             SELECT lang, b AS x, n_types,
               ${operators.Classify.sqlDetLnCols("nt", "n_types")},
               floor(ntln * ${operators.Classify.WeightGrid}
                 + 0.5)::BIGINT AS yi
             FROM hist)),
         agg AS (
           SELECT lang, count(*) AS n_buckets,
             sum(n_types)::BIGINT AS n_distinct,
             count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             sum(yi)::BIGINT AS sy,
             sum(x * yi)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
           FROM pts GROUP BY lang)
         SELECT lang, n_buckets, n_distinct,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             ${sqlFround(
               s"""((n * sxy - sx * sy)::DOUBLE
               / (n * sxx - sx * sx)::DOUBLE)
               / ${operators.Classify.WeightGrid}""", 6)}
           END AS zipf_slope
         FROM agg ORDER BY lang"""),

    Query("ta18_boilerplate_scrub", (s, dir) => {
      // C4/jusText-style line-level boilerplate removal (Raffel et al.
      // 2020 §2.2; beyond the reference): keep lines with ≥3 tokens
      // AND ≥10% stopword share — prose survives, navigation/footer/
      // menu junk drops. The corpus has no newlines, so lined text
      // synthesizes from (text, doc_id) identically on both sides
      // (the d13/c1 injection precedent): a real-prose head slice
      // (data-dependent verdict), a stopword-free boilerplate line
      // (always dropped), a stopword-rich summary line (always kept),
      // and a short crumb (dropped by min-words/density). Output: the
      // per-lang keep census + mean kept-character share; the share
      // quantizes onto the 2^-40 grid (the ta14 pattern) so the
      // cross-doc mean is an exact integer sum + one divide — no
      // order-dependent float accumulation.
      val lined = t(s, dir, "documents").select(col("lang"),
        concat_ws("\n",
          substring(coalesce(col("text"), lit("")), 1, 120),
          lit("copyright footer navigation menu links contact"),
          concat(lit("the summary of the row "),
            col("doc_id").cast("string")),
          lit("nav | nav")).as("lt"))
      val scrubbed = lined.select(col("lang"), col("lt"),
        TA.keptLines(col("lt"), 3, 0.1).as("kl"))
      scrubbed.select(col("lang"),
          size(split(col("lt"), "\n")).as("nin"),
          size(col("kl")).as("nkept"),
          floor(when(length(col("lt")) > 0,
            length(array_join(col("kl"), "\n")).cast("double") /
              length(col("lt")).cast("double")) *
            lit(graft.expressions.DetLn.TermGrid) + lit(0.5))
            .cast("long").as("rq"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nin")).as("n_lines_in"),
          sum(col("nkept")).as("n_lines_kept"),
          fround(sum(col("rq")).cast("double") /
            (lit(graft.expressions.DetLn.TermGrid) *
              count(col("rq")).cast("double")), 6).as("avg_kept_chars"))
        .orderBy(col("lang"))
    }, {
      // same synthesized lined text; the keep rule replays with
      // integer token/stopword counts and the multiplication-form
      // density test (no division, one IEEE compare per line)
      def toks(e: String) = sqlTokens(e)
      val stop = sqlList(TA.enStopwords)
      val keep = s"len(${toks("l")}) >= 3 AND " +
        s"len(list_filter(${toks("l")}, t -> list_contains($stop, t)))::DOUBLE " +
        s">= 0.1 * len(${toks("l")})::DOUBLE"
      s"""WITH lined AS (SELECT lang,
             substr(coalesce(text, ''), 1, 120) || chr(10) ||
             'copyright footer navigation menu links contact' || chr(10) ||
             'the summary of the row ' || doc_id::VARCHAR || chr(10) ||
             'nav | nav' AS lt
           FROM documents),
         scrub AS (SELECT lang, lt,
             list_filter(string_split(lt, chr(10)), l -> $keep) AS kl
           FROM lined),
         rq AS (SELECT lang, lt, kl,
             floor((CASE WHEN len(lt) > 0 THEN
               len(array_to_string(kl, chr(10)))::DOUBLE / len(lt)::DOUBLE
               END) * ${graft.expressions.DetLn.TermGrid} + 0.5)::BIGINT
               AS rq
           FROM scrub)
         SELECT lang, count(*) AS n_docs,
           sum(len(string_split(lt, chr(10))))::BIGINT AS n_lines_in,
           sum(len(kl))::BIGINT AS n_lines_kept,
           ${sqlFround(
             s"""sum(rq)::DOUBLE / (${graft.expressions.DetLn.TermGrid}
             * count(rq)::DOUBLE)""", 6)} AS avg_kept_chars
         FROM rq GROUP BY lang ORDER BY lang"""
    }),

    Query("ta19_tokenizer_fertility", (s, dir) => {
      // Tokenizer fertility / compression per language (beyond the
      // reference): mean BPE pieces per word (fertility) and characters
      // per piece (compression rate) — the standard multilingual
      // tokenizer-health metrics (a fertility spike on one language
      // says the vocabulary underserves it; the SentencePiece/BPE eval
      // practice). Same trained merges as ta9/ta10, corpus encoded with
      // the native BpeEncode kernel. Cross-engine determinism by
      // construction: every accumulated quantity (words, pieces,
      // token characters) is an exact BIGINT sum per lang and each
      // metric is ONE final IEEE divide. Scale shape: the tokenize
      // binds once at a select boundary; the BPE pass is the flat
      // ta10 kernel; the aggregate is map-side combinable into
      // lang-count rows.
      val docs = t(s, dir, "documents")
      val merges = operators.Bpe.trainMergesBatched(
        operators.Bpe.wordFreqs(docs, col("text")), numMerges = 8)
      docs.filter(col("text").isNotNull)
        .select(col("lang"),
          TF.letBound(TA.tokens(col("text")))(toks =>
            struct(size(toks).cast("long").as("nw"),
              length(array_join(toks, "")).cast("long").as("nc"))).as("t"),
          size(graft.expressions.BpeEncode(col("text"), merges))
            .cast("long").as("np"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("t.nw")).as("n_words"),
          sum(col("np")).as("n_pieces"),
          sum(col("t.nc")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_pieces"), col("n_chars"),
          fround(when(col("n_words") > 0,
            col("n_pieces").cast("double") / col("n_words").cast("double")),
            6).as("fertility"),
          fround(when(col("n_pieces") > 0,
            col("n_chars").cast("double") / col("n_pieces").cast("double")),
            6).as("chars_per_piece"))
        .orderBy(col("lang"))
    }, {
      // the ta10 vocab-join replay aggregated per lang: the final
      // rewritten vocab table s8 gives pieces per word; words/pieces/
      // token-chars sum as exact BIGINTs, one divide per metric
      s"""WITH $sqlBpeBase,
         ${operators.Bpe.sqlTrainChain(8, "wf")},
         wp AS (SELECT word, len(syms) AS pieces FROM s8),
         dt AS (SELECT lang, unnest(${sqlTokens("text")}) AS word
                FROM documents WHERE text IS NOT NULL),
         j AS (SELECT lang, pieces, len(word) AS wc
               FROM dt JOIN wp USING (word)),
         d0 AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents
                WHERE text IS NOT NULL GROUP BY lang),
         ag AS (SELECT lang, count(*)::BIGINT AS n_words,
                  sum(pieces)::BIGINT AS n_pieces,
                  sum(wc)::BIGINT AS n_chars
                FROM j GROUP BY lang)
         SELECT d0.lang, d0.n_docs,
           coalesce(ag.n_words, 0) AS n_words,
           coalesce(ag.n_pieces, 0) AS n_pieces,
           coalesce(ag.n_chars, 0) AS n_chars,
           CASE WHEN coalesce(ag.n_words, 0) > 0 THEN
             ${sqlFround("ag.n_pieces::DOUBLE / ag.n_words::DOUBLE", 6)}
           END AS fertility,
           CASE WHEN coalesce(ag.n_pieces, 0) > 0 THEN
             ${sqlFround("ag.n_chars::DOUBLE / ag.n_pieces::DOUBLE", 6)}
           END AS chars_per_piece
         FROM d0 LEFT JOIN ag USING (lang) ORDER BY d0.lang"""
    }),

    Query("ta20_readability", (s, dir) => {
      // Flesch reading ease + Flesch-Kincaid grade (Flesch 1948;
      // Kincaid et al. 1975; beyond the reference): the classic
      // shallow readability pair over W (\w+ words), S (sentence
      // chunks), Y ([aeiouy]+ vowel-group syllable proxy). The three
      // counts are integers; the scores are PER-ROW IEEE arithmetic
      // over identical literal trees (nothing aggregates, so no
      // summation order exists), 6dp-floored; missing denominators
      // propagate NULL into an 'unscored' bucket, and the difficulty
      // label compares the ROUNDED score so it is grid-stable.
      val c = t(s, dir, "documents").select(col("doc_id"),
        TF.wordCount(col("text")).cast("long").as("n_words"),
        TF.sentenceCount(col("text")).cast("long").as("n_sents"),
        TA.syllableCount(col("text")).cast("long").as("n_syll"))
      val wps = when(col("n_sents") > 0,
        col("n_words").cast("double") / col("n_sents").cast("double"))
      val spw = when(col("n_words") > 0,
        col("n_syll").cast("double") / col("n_words").cast("double"))
      c.select(col("doc_id"), col("n_words"), col("n_sents"),
          col("n_syll"),
          fround(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
            .as("fre"),
          fround(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
            .as("fk_grade"))
        .withColumn("difficulty",
          when(col("fre").isNull, lit("unscored"))
            .when(col("fre") >= 90.0, lit("very_easy"))
            .when(col("fre") >= 60.0, lit("standard"))
            .when(col("fre") >= 30.0, lit("difficult"))
            .otherwise(lit("very_difficult")))
        .orderBy(col("doc_id"))
    }, {
      // the same counts, the same guarded ratios, the same literal
      // trees (::DOUBLE on each constant — bare decimals are DECIMAL
      // in DuckDB), the same 6dp floor, and the bucket CASE over the
      // rounded value.
      val fre = "floor((206.835::DOUBLE - 1.015::DOUBLE * wps" +
        " - 84.6::DOUBLE * spw) * 1e6 + 0.5) / 1e6"
      s"""WITH c AS (SELECT doc_id,
           len(regexp_extract_all(text, '\\w+'))::BIGINT AS n_words,
           len(list_filter(string_split_regex(text, '[.!?]+'),
             x -> trim(x) <> ''))::BIGINT AS n_sents,
           len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
             AS n_syll
         FROM documents),
         g AS (SELECT doc_id, n_words, n_sents, n_syll,
           CASE WHEN n_sents > 0
             THEN n_words::DOUBLE / n_sents::DOUBLE END AS wps,
           CASE WHEN n_words > 0
             THEN n_syll::DOUBLE / n_words::DOUBLE END AS spw
         FROM c),
         r AS (SELECT doc_id, n_words, n_sents, n_syll,
           $fre AS fre,
           floor((0.39::DOUBLE * wps + 11.8::DOUBLE * spw
             - 15.59::DOUBLE) * 1e6 + 0.5) / 1e6 AS fk_grade
         FROM g)
         SELECT doc_id, n_words, n_sents, n_syll, fre, fk_grade,
           CASE WHEN fre IS NULL THEN 'unscored'
             WHEN fre >= 90.0 THEN 'very_easy'
             WHEN fre >= 60.0 THEN 'standard'
             WHEN fre >= 30.0 THEN 'difficult'
             ELSE 'very_difficult' END AS difficulty
         FROM r ORDER BY doc_id"""
    }),

    Query("ta21_code_detect", (s, dir) => {
      // Code-vs-prose detection (beyond the reference): the standard
      // pretraining-mix router — code that leaks into a prose corpus
      // (or vice versa) distorts both distributions, so pipelines gate
      // on cheap symbol/keyword densities before any model-based
      // classifier. The corpus is prose, so every doc_id % 4 == 0 doc
      // gets a literal code block appended on BOTH engines (the d13
      // injection precedent). Signals: one character-class count of
      // code-dense symbols {}();=, whole-token keyword hits, and an
      // INTEGER density sym_micro = (n_sym·10⁶) div n_chars — every
      // cell integer or boolean, nothing to flake. Scale shape: pure
      // scan-fused per-row projection; zero exchanges before the
      // verify sort.
      val codeBlk = lit(" def main ( ) { return 0 ; } import sys ; " +
        "class foo { var x = 1 ; if ( x ) { x = x + 1 ; } }")
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(col("text"), codeBlk)).otherwise(col("text")).as("text"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TA.codeSymbolCount(col("text")).cast("long").as("n_sym"),
          TA.markerHits(col("text"), TA.codeKeywords).cast("long")
            .as("kw_hits"))
        .withColumn("sym_micro",
          expr("case when n_chars > 0 then (n_sym * 1000000) div n_chars" +
            " else 0 end"))
        .withColumn("is_code",
          col("sym_micro") >= 20000 || col("kw_hits") >= 5)
        .orderBy(col("doc_id"))
    }, {
      // same injected block, same character-class count, same
      // whole-token keyword hits, same integer density — `//` is
      // DuckDB's integer division (operands nonnegative, so flooring
      // == Spark's truncating div)
      val blk = " def main ( ) { return 0 ; } import sys ; " +
        "class foo { var x = 1 ; if ( x ) { x = x + 1 ; } }"
      s"""WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN text || '$blk' ELSE text END
             AS text
         FROM documents),
         m AS (SELECT doc_id, length(text)::BIGINT AS n_chars,
           len(regexp_extract_all(text,
             '${TA.codeSymbolPattern}'))::BIGINT AS n_sym,
           ${sqlHits("text", TA.codeKeywords)}::BIGINT AS kw_hits
         FROM d),
         sm AS (SELECT doc_id, n_chars, n_sym, kw_hits,
           CASE WHEN n_chars > 0 THEN (n_sym * 1000000) // n_chars
             ELSE 0 END AS sym_micro
         FROM m)
         SELECT doc_id, n_chars, n_sym, kw_hits, sym_micro,
           sym_micro >= 20000 OR kw_hits >= 5 AS is_code
         FROM sm ORDER BY doc_id"""
    }),

    Query("ta22_gopher_rules", (s, dir) => {
      // TA22 — the Gopher quality-rule bundle (Rae et al. 2021,
      // Appendix A1.1; beyond the reference): word-count bounds, mean
      // word length, symbol-to-word ratio, alpha-word share, required
      // stopwords, bullet-start and ellipsis-end line shares — the
      // canonical heuristic pre-filter every LLM corpus runs before
      // model-based gates. Every flag is a multiplication-form INTEGER
      // compare over TA.gopherCounts/gopherLineCounts (no division, no
      // float — order-exact on both engines). Docs are synthesized
      // into lined text so every rule has live positives: doc_id % 11
      // docs become all-bullet stubs (bullet/ellipsis/word-count rules
      // fire), the rest carry prose plus doc-varied bullet/ellipsis/
      // symbol lines.
      val raw = t(s, dir, "documents")
      val lined = when(col("doc_id") % 11 === 0,
          lit("- only\n- bullets...\n- here"))
        .otherwise(concat_ws("\n",
          substring(coalesce(col("text"), lit("")), 1, 200),
          when(col("doc_id") % 4 === 0, lit("- a bullet item"))
            .otherwise(lit("a plain prose line")),
          when(col("doc_id") % 5 === 0, lit("to be continued..."))
            .otherwise(concat(lit("line "), col("doc_id").cast("string"))),
          when(col("doc_id") % 7 === 0, lit("# header ###"))
            .otherwise(lit("the closing line"))))
      raw.select(col("doc_id"), lined.as("lt"))
        // bind the tokenizer BEFORE gopherCounts: its required-stop
        // filter references the token array inside a lambda, which
        // would otherwise re-run the regex once per stopword
        .select(col("doc_id"), col("lt"), TA.tokens(col("lt")).as("toks"))
        .select(col("doc_id"), col("lt"),
          TA.gopherCounts(col("lt"), col("toks")).as("g"),
          TA.gopherLineCounts(col("lt")).as("l"))
        .select(col("doc_id"),
          col("g.n_words").as("n_words"),
          col("g.sum_word_len").as("sum_word_len"),
          col("g.n_alpha").as("n_alpha"),
          col("g.n_req_stops").as("n_req_stops"),
          col("g.n_symbols").as("n_symbols"),
          col("l.n_lines").as("n_lines"),
          col("l.n_bullet").as("n_bullet"),
          col("l.n_ellipsis_end").as("n_ellipsis_end"))
        .withColumn("bad_word_count",
          col("n_words") < 30L || col("n_words") > 100000L)
        .withColumn("bad_mean_word_len",
          col("n_words") === 0L ||
            col("sum_word_len") < lit(3L) * col("n_words") ||
            col("sum_word_len") > lit(10L) * col("n_words"))
        .withColumn("high_symbol_ratio",
          lit(10L) * col("n_symbols") > col("n_words"))
        .withColumn("low_alpha_ratio",
          lit(5L) * col("n_alpha") < lit(4L) * col("n_words"))
        .withColumn("few_required_stops", col("n_req_stops") < 2L)
        .withColumn("bullet_heavy",
          lit(10L) * col("n_bullet") > lit(9L) * col("n_lines"))
        .withColumn("ellipsis_heavy",
          lit(10L) * col("n_ellipsis_end") > lit(3L) * col("n_lines"))
        .withColumn("keep",
          !col("bad_word_count") && !col("bad_mean_word_len") &&
          !col("high_symbol_ratio") && !col("low_alpha_ratio") &&
          !col("few_required_stops") && !col("bullet_heavy") &&
          !col("ellipsis_heavy"))
        .orderBy(col("doc_id"))
    }, {
      val toks = sqlTokens("lt")
      val req = sqlList(TA.gopherRequiredStops)
      s"""WITH lined AS (SELECT doc_id,
           CASE WHEN doc_id % 11 = 0
             THEN '- only' || chr(10) || '- bullets...' || chr(10) ||
               '- here'
             ELSE substr(coalesce(text, ''), 1, 200) || chr(10) ||
               CASE WHEN doc_id % 4 = 0 THEN '- a bullet item'
                 ELSE 'a plain prose line' END || chr(10) ||
               CASE WHEN doc_id % 5 = 0 THEN 'to be continued...'
                 ELSE 'line ' || doc_id::VARCHAR END || chr(10) ||
               CASE WHEN doc_id % 7 = 0 THEN '# header ###'
                 ELSE 'the closing line' END
           END AS lt FROM documents),
         c AS (SELECT doc_id,
           len($toks)::BIGINT AS n_words,
           coalesce(list_sum(list_transform($toks,
             t -> length(t))), 0)::BIGINT AS sum_word_len,
           len(list_filter($toks,
             t -> regexp_matches(t, '[a-z]')))::BIGINT AS n_alpha,
           len(list_filter($req,
             w -> list_contains($toks, w)))::BIGINT AS n_req_stops,
           len(regexp_extract_all(lt,
             '#|\\.\\.\\.|…'))::BIGINT AS n_symbols,
           len(string_split(lt, chr(10)))::BIGINT AS n_lines,
           len(list_filter(string_split(lt, chr(10)), l ->
             substr(l, 1, 2) = '- ' OR substr(l, 1, 1) = '•'))::BIGINT
             AS n_bullet,
           len(list_filter(string_split(lt, chr(10)), l ->
             regexp_matches(l, '(\\.\\.\\.|…)$$')))::BIGINT
             AS n_ellipsis_end
         FROM lined),
         f AS (SELECT *,
           n_words < 30 OR n_words > 100000 AS bad_word_count,
           n_words = 0 OR sum_word_len < 3 * n_words
             OR sum_word_len > 10 * n_words AS bad_mean_word_len,
           10 * n_symbols > n_words AS high_symbol_ratio,
           5 * n_alpha < 4 * n_words AS low_alpha_ratio,
           n_req_stops < 2 AS few_required_stops,
           10 * n_bullet > 9 * n_lines AS bullet_heavy,
           10 * n_ellipsis_end > 3 * n_lines AS ellipsis_heavy
         FROM c)
         SELECT doc_id, n_words, sum_word_len, n_alpha, n_req_stops,
           n_symbols, n_lines, n_bullet, n_ellipsis_end,
           bad_word_count, bad_mean_word_len, high_symbol_ratio,
           low_alpha_ratio, few_required_stops, bullet_heavy,
           ellipsis_heavy,
           NOT (bad_word_count OR bad_mean_word_len OR
             high_symbol_ratio OR low_alpha_ratio OR
             few_required_stops OR bullet_heavy OR ellipsis_heavy)
             AS keep
         FROM f ORDER BY doc_id"""
    }),

    Query("ta24_collocations", (s, dir) => {
      // TA24 — PMI collocation mining (Church & Hanks 1990; beyond the
      // reference): the corpus-level top-k of adjacent-token pairs by
      // pointwise mutual information — the phrase-mining pass that
      // feeds tokenizer merge candidates, stopphrase lists and entity
      // lexicons. pmi = ln(c_ab·N/(c_a·c_b)) computed as
      // detln(c_ab)+detln(N)−detln(c_a)−detln(c_b): every log is the
      // bit-reproducible DetLn (no libm), the combination is a
      // per-row fixed-order chain, and the output/rank key quantizes
      // to the 2⁻²⁰ integer grid — order-exact on both engines.
      // Scale shape: the corpus tokenizes ONCE; bigrams and unigrams
      // each collapse map-side; the c_ab ≥ 5 support filter shrinks
      // the pair table before the two vocab-keyed joins; the 1-row N
      // and the final top-50 (TakeOrderedAndProject) are the only
      // global pieces.
      val toks = t(s, dir, "documents")
        .select(TA.tokens(col("text")).as("toks"))
        .localCheckpoint(eager = false) // tokenize once, two consumers
      val big = toks.filter(size(col("toks")) >= 2)
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1).as("a"),
          slice(col("toks"), lit(2), size(col("toks")) - 1).as("b")))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
        .localCheckpoint(eager = false) // one vocab agg, two join sides
      val bc = big.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5L)
      val nb = big.agg(count(lit(1)).as("nb"))
      import graft.expressions.DetLn
      bc.join(uni.select(col("w").as("a"), col("cw").as("ca")), Seq("a"))
        .join(uni.select(col("w").as("b"), col("cw").as("cb")), Seq("b"))
        .crossJoin(broadcast(nb))
        .withColumn("pmi_q20", floor(
          (DetLn(col("cab")) + DetLn(col("nb")) -
            DetLn(col("ca")) - DetLn(col("cb"))) *
            lit((1L << 20).toDouble) + lit(0.5)).cast("long"))
        .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"),
          col("pmi_q20"))
        .orderBy(col("pmi_q20").desc, col("a"), col("b"))
        .limit(50)
    }, {
      val toks = sqlTokens("text")
      // pmi replayed with the shared detln unroll; the combination
      // parenthesizes exactly like Spark's left-assoc column chain
      s"""WITH tok AS (SELECT $toks AS toks FROM documents),
         uni AS (SELECT unnest(toks) AS w FROM tok),
         uc AS (SELECT w, count(*)::BIGINT AS cw FROM uni GROUP BY w),
         bigx AS (SELECT toks, unnest(generate_series(1,
             len(toks) - 1)) AS i FROM tok WHERE len(toks) >= 2),
         big AS (SELECT toks[i] AS a, toks[i + 1] AS b FROM bigx),
         bc AS (SELECT a, b, count(*)::BIGINT AS cab FROM big
           GROUP BY a, b HAVING count(*) >= 5),
         nn AS (SELECT count(*)::BIGINT AS nb FROM big),
         j AS (SELECT bc.a, bc.b, bc.cab, ua.cw AS ca, ub.cw AS cb,
             nn.nb
           FROM bc JOIN uc ua ON bc.a = ua.w
           JOIN uc ub ON bc.b = ub.w CROSS JOIN nn),
         p AS (SELECT a, b, cab, ca, cb,
             floor(((paln + pnln) - pcln - pbln) * 1048576.0 + 0.5)
               ::BIGINT AS pmi_q20
           FROM (SELECT a, b, cab, ca, cb,
             ${operators.Classify.sqlDetLnCols("pa", "cab")},
             ${operators.Classify.sqlDetLnCols("pn", "nb")},
             ${operators.Classify.sqlDetLnCols("pc", "ca")},
             ${operators.Classify.sqlDetLnCols("pb", "cb")}
           FROM j))
         SELECT a, b, cab, ca, cb, pmi_q20 FROM p
         ORDER BY pmi_q20 DESC, a, b LIMIT 50"""
    })
  )
}
