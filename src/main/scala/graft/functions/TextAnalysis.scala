package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operator family for large-scale training-data pipelines:
  * language identification, heuristic quality scoring, token counting,
  * and document fingerprinting (BASELINE.json "text analysis" north-star;
  * generalizes the reference's ruler scoring at
  * Data_Analysis/evaluation/quality_scoring.py:190-235 and the text stats
  * at RAG/rag.ipynb:783-826).
  *
  * Every function is a pure `Column => Column` expression — codegen'd,
  * shuffle-free, fused into the scan projection. At 100 TB these cost one
  * pass over the text bytes per row and nothing else. All of them are
  * deterministic and SQL-expressible, so each has a DuckDB oracle twin
  * (built from the same constants — see graft.queries).
  */
object TextAnalysis {

  /** Distinctive high-frequency marker words per language. Order is the
    * tie-break priority (first wins on equal hit counts).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with", "for", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "dans", "pour", "des"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "con", "para", "por", "del"))

  /** English stopword list used by the quality heuristics. */
  val enStopwords: Seq[String] = langMarkers.head._2 ++
    Seq("a", "an", "on", "at", "by", "be", "are", "was", "this", "as")

  /** CJK ideograph range (regex class body, `\x{…}` hex syntax — valid in
    * both Java regex and RE2, so the same pattern string serves Spark and
    * the DuckDB oracle).
    */
  val cjkRange: String = "\\x{4e00}-\\x{9fff}"

  /** CJK-aware token pattern: each CJK ideograph is a token of its own;
    * any other run of non-space non-CJK chars is one token. On pure-ASCII
    * text this is exactly whitespace tokenization — but Chinese text
    * (which has no word spaces) yields per-character tokens instead of
    * one giant pseudo-token, so minhash/simhash dedup, repetition
    * filters, word counts, and TF embeddings stay meaningful on
    * multilingual corpora (the reference's own Chinese RAG evaluation,
    * RAG/rag_chinese_test.ipynb, exercises that corpus path).
    */
  val tokenPattern: String = s"[$cjkRange]|[^\\s$cjkRange]+"

  /** JVM twin of [[tokens]] for the native expressions (TokenMinHash,
    * SimHash16, TokenFingerprint) — same pattern, Locale.ROOT lowering.
    * Bit-parity with the declarative path is pinned in each
    * expression's spec.
    */
  private val jvmTokenPattern = java.util.regex.Pattern.compile(tokenPattern)
  def jvmTokens(s: String): Array[String] = {
    val m = jvmTokenPattern.matcher(s.toLowerCase(java.util.Locale.ROOT))
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) buf += m.group()
    buf.toArray
  }

  /** Count-only [[jvmTokens]] — same matcher over the same lowered
    * string, no token materialization (the TokenCount kernel).
    */
  def jvmTokenCount(s: String): Int = {
    val m = jvmTokenPattern.matcher(s.toLowerCase(java.util.Locale.ROOT))
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Non-empty lowercase tokens (whitespace-delimited, CJK per-char —
    * [[tokenPattern]]).
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(tokenPattern), lit(0))

  /** Whitespace token count (the reference's word-count basis,
    * RAG/rag.ipynb:783 uses `\w+`; this is the whitespace variant).
    * Native count-only kernel (r14) — `size(tokens(text))` pays one
    * UTF8String per token plus the ArrayData just to discard them;
    * [[graft.expressions.TokenCount]] runs the same compiled pattern
    * over the same lowered string and counts matches. Parity with the
    * declarative twin [[tokenCountDecl]] is pinned in
    * TextAnalysisSpec; the DuckDB oracles replay the count from the
    * SQL tokenizer as before.
    */
  def tokenCount(text: Column): Column =
    graft.expressions.TokenCount(text)

  /** The declarative twin of [[tokenCount]] (parity-spec anchor). */
  def tokenCountDecl(text: Column): Column = size(tokens(text))

  /** Number of tokens that appear in `markers` (occurrences, not distinct). */
  def markerHits(text: Column, markers: Seq[String]): Column = {
    val set = array(markers.map(lit): _*)
    size(filter(tokens(text), t => array_contains(set, t)))
  }

  /** ta21 — characters that are dense in source code and rare in prose:
    * braces, parens, semicolons, equals. One character-class count,
    * replayable verbatim in any RE2/Java regex engine (inside a class,
    * all six chars are literal in both dialects).
    */
  val codeSymbolPattern: String = "[{}();=]"
  def codeSymbolCount(text: Column): Column =
    size(regexp_extract_all(text, lit(codeSymbolPattern), lit(0)))

  /** ta21 — language-keyword markers for the code detector (counted as
    * whole tokens via [[markerHits]], not substrings, so "classical"
    * doesn't hit "class").
    */
  val codeKeywords: Seq[String] = Seq("def", "import", "return", "class",
    "function", "var", "void", "include")

  /** CJK character count — the zh/ja/ko signal no stopword list catches.
    * Counted as matches of the CJK class itself: on a non-CJK corpus the
    * regex never matches, where the delete-everything-else
    * regexp_replace formulation rebuilds the whole string per row.
    */
  def cjkCount(text: Column): Column =
    size(regexp_extract_all(text, lit(s"[$cjkRange]"), lit(0)))

  /** Language-ID n-gram/stopword heuristic: any CJK chars → "zh"; else the
    * highest marker-hit language in [[langMarkers]] priority order; no hits
    * at all → "und" (undetermined, BCP-47 style).
    */
  def languageId(text: Column): Column =
    languageIdFromTokens(tokens(text), text)

  /** [[languageId]] over a pre-tokenized column: callers that already
    * materialized `tokens(text)` at a select boundary pay four cheap
    * array filters instead of four regex tokenizations per row.
    *
    * argmax via array_max over struct(hits, -index): every marker count
    * appears in the plan EXACTLY once. (A when-fold accumulator doubles
    * its tree per language — exponential expression size — and a
    * separate no-hits sum re-evaluates every count again.) Ties keep
    * the earlier langMarkers entry, and hits are non-negative, so
    * "no hits anywhere" ⟺ best.h == 0.
    */
  def languageIdFromTokens(toks: Column, text: Column): Column = {
    val best = array_max(array(langMarkers.zipWithIndex.map {
      case ((_, ms), i) =>
        val set = array(ms.map(lit): _*)
        struct(size(filter(toks, t => array_contains(set, t))).as("h"),
          lit(-i).as("ni"))
    }: _*))
    val langs = array(langMarkers.map(p => lit(p._1)): _*)
    when(cjkCount(text) > 0, lit("zh"))
      .when(best.getField("h") === 0, lit("und"))
      .otherwise(element_at(langs, lit(1) - best.getField("ni")))
  }

  /** GPT-2-style pre-tokenizer pattern (contractions | letter runs | digit
    * runs | punctuation runs), lookahead-free so it runs identically under
    * Java regex and RE2. A real BPE would split these further; this counts
    * pre-token chunks — the standard cheap token estimate.
    */
  val bpePattern = "'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  /** BPE-ish token count over [[bpePattern]]. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0)))

  /** Fraction of tokens that are English stopwords; 0.0 for empty text.
    * Natural prose sits around 0.3–0.6; keyword soup and boilerplate fall
    * near 0.
    */
  def stopwordRatio(text: Column): Column =
    stopwordRatioFromTokens(tokens(text))

  /** [[stopwordRatio]] over a pre-tokenized column. */
  def stopwordRatioFromTokens(toks: Column): Column = {
    val set = array(enStopwords.map(lit): _*)
    val n = size(toks)
    when(n > 0,
      size(filter(toks, t => array_contains(set, t))).cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** C4/jusText-style boilerplate LINE filter (beyond the reference;
    * Raffel et al. 2020 §2.2's line rules, the density heuristic of
    * jusText): keep a line iff it carries ≥ `minWords` tokens AND a
    * stopword share ≥ `minStopRatio` — navigation bars, footers, menu
    * crumbs and copyright lines are exactly the low-density,
    * stopword-free text this drops while prose survives. Returns the
    * kept lines as array<string> ([[scrubBoilerplateLines]] rejoins).
    *
    * One tokenize per line: token count and stopword hits come from a
    * SINGLE aggregate fold over one `tokens(l)` evaluation (two
    * references inside the lambda would run the regex twice per line —
    * the ...FromTokens discipline, applied inside a HOF). The ratio
    * test is multiplication-form (`hits ≥ r·n`), so no division guard
    * and the comparison is one correctly-rounded IEEE op per line —
    * integer counts make the rest engine-exact.
    */
  def keptLines(text: Column, minWords: Int,
                minStopRatio: Double): Column = {
    val set = array(enStopwords.map(lit): _*)
    filter(split(text, "\n"), l =>
      aggregate(tokens(l),
        struct(lit(0L).as("n"), lit(0L).as("h")),
        (acc, t) => struct(
          (acc.getField("n") + 1L).as("n"),
          (acc.getField("h") +
            when(array_contains(set, t), 1L).otherwise(0L)).as("h")),
        acc => acc.getField("n") >= minWords &&
          acc.getField("h").cast("double") >=
            lit(minStopRatio) * acc.getField("n").cast("double")))
  }

  /** [[keptLines]] rejoined with newlines — the drop-in text-cleanup
    * stage (empty result ⇒ empty string). */
  def scrubBoilerplateLines(text: Column, minWords: Int,
                            minStopRatio: Double): Column =
    array_join(keptLines(text, minWords, minStopRatio), "\n")

  /** The 8 stopwords Gopher requires ≥2 of (Rae et al. 2021, A1.1) —
    * the "is this even running English prose" tripwire. Shared with
    * the ta22 oracle.
    */
  val gopherRequiredStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher word-level quality rules (Rae et al. 2021, Appendix A1.1 —
    * the canonical pre-filter bundle every LLM corpus runs before the
    * model-based gates). Returns struct(n_words, sum_word_len, n_alpha,
    * n_req_stops, n_symbols) — the exact INTEGER counts each rule
    * compares (the flags are multiplication-form downstream:
    * `sum_word_len < 3·n`, `10·n_symbols > n`, `5·n_alpha < 4·n`,
    * `n_req_stops < 2` — no division, no float, order-exact on any
    * engine). `toks` is the pre-bound [[tokens]] column (the
    * ...FromTokens discipline); ONE aggregate fold computes word count,
    * length sum and alpha count; symbols ('#' chars plus '...'/'…'
    * ellipses, the two Gopher symbol classes) count off the raw text
    * as non-overlapping regex matches.
    */
  def gopherCounts(text: Column, toks: Column): Column = {
    val req = array(gopherRequiredStops.map(lit): _*)
    val acc = aggregate(toks,
      struct(lit(0L).as("n"), lit(0L).as("sl"), lit(0L).as("na")),
      (a, t) => struct(
        (a.getField("n") + 1L).as("n"),
        (a.getField("sl") + length(t)).as("sl"),
        (a.getField("na") +
          when(t.rlike("[a-z]"), 1L).otherwise(0L)).as("na")))
    // non-overlapping match counts — the same left-to-right semantics
    // regexp_extract_all has in DuckDB, so '....' counts one '...'
    val nSym = size(regexp_extract_all(text,
      lit("#|\\.\\.\\.|…"), lit(0))).cast("long")
    graft.functions.TextFunctions.letBound(acc) { a =>
      struct(
        a.getField("n").as("n_words"),
        a.getField("sl").as("sum_word_len"),
        a.getField("na").as("n_alpha"),
        size(filter(req, w => array_contains(toks, w)))
          .cast("long").as("n_req_stops"),
        nSym.as("n_symbols"))
    }
  }

  /** Gopher line-level counts (bullet-start and ellipsis-end shares):
    * struct(n_lines, n_bullet, n_ellipsis_end) over the newline-split
    * text — the flags downstream are `10·n_bullet > 9·n_lines` (>90%
    * bullets) and `10·n_ellipsis_end > 3·n_lines` (>30% ellipsis ends).
    */
  def gopherLineCounts(text: Column): Column = {
    val lines = split(text, "\n")
    struct(
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l =>
        substring(l, 1, 2) === "- " || substring(l, 1, 1) === "•"))
        .cast("long").as("n_bullet"),
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$")))
        .cast("long").as("n_ellipsis_end"))
  }

  /** Punctuation chars / total chars; 0.0 for empty text. Counts
    * matches of the punctuation class directly (single-char pattern ⇒
    * match count = char count) instead of deleting the complement.
    */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0)))
        .cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** Syllable-count proxy: `[aeiouy]+` vowel-group runs over the
    * lowercased text — the standard cheap estimator readability
    * formulas use (runs never span word boundaries, so the text-wide
    * count equals the per-word sum). ASCII class ⇒ identical under
    * Java regex and RE2, so the DuckDB twin is the same pattern.
    */
  def syllableCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))

  /** Type-token ratio (distinct tokens / tokens); 0.0 for empty text.
    * Degenerate repetition → low TTR.
    */
  def typeTokenRatio(text: Column): Column =
    typeTokenRatioFromTokens(tokens(text))

  /** [[typeTokenRatio]] over a pre-tokenized column. */
  def typeTokenRatioFromTokens(toks: Column): Column =
    when(size(toks) > 0,
      size(array_distinct(toks)).cast("double") / size(toks))
      .otherwise(lit(0.0))

  /** Composite document quality score in [0,1] (length, stopword,
    * lexical-diversity, punctuation signals; weights sum to 1). The shape
    * mirrors the reference's ruler scoring (quality_scoring.py:98-133):
    * weighted bounded sub-scores, round(…, 4).
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(tokens(text), text)

  /** [[qualityScore]] over a pre-tokenized column (one tokenization
    * shared by the stopword and diversity signals).
    */
  def qualityScoreFromTokens(toks: Column, text: Column): Column = {
    val lenScore = least(lit(1.0), length(text).cast("double") / 400.0)
    val stopScore = least(lit(1.0), stopwordRatioFromTokens(toks) * 4.0)
    val diversity = typeTokenRatioFromTokens(toks)
    val punctPenalty = lit(1.0) - least(lit(1.0), punctRatio(text) * 8.0)
    val raw = lenScore * 0.3 + stopScore * 0.3 + diversity * 0.2 + punctPenalty * 0.2
    // floor(x·10⁴ + ½)/10⁴ instead of round(x, 4): identical IEEE ops on
    // identical doubles round identically in every engine, whereas
    // decimal-string HALF_UP (Spark) vs raw-double rounding (DuckDB)
    // disagree when x lands exactly on a half at the 5th decimal.
    floor(raw * 10000.0 + 0.5) / 10000.0
  }

  /** Gopher-style repetition signal (Rae et al. 2021, appendix A1.1
    * quality filters): share of all tokens taken by the single most
    * frequent token. High values flag keyword-stuffed or boilerplate
    * documents. Pass a PRE-TOKENIZED attribute column — the token array
    * is referenced from inside a lambda.
    *
    * Linear in the token count: sort the array once, then one aggregate
    * pass tracks (previous token, current run length, best run length)
    * in a struct accumulator — equal tokens are adjacent after the sort,
    * so the longest run IS the top token's count. A 10⁵-token document
    * costs n·log n + n, where the naive
    * `transform(array_distinct, t => count-matches)` form rescans the
    * full array per distinct token (O(distinct·n) ≈ 10⁹ comparisons on
    * long low-repetition docs).
    */
  def topTokenFraction(toks: Column): Column = {
    // Tokens are never empty strings (tokenPattern matches ≥1 char), so
    // "" is a safe sentinel for "no previous token".
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best"))
    val acc = aggregate(
      array_sort(toks),
      zero,
      (a, t) => {
        val run = when(t === a.getField("prev"), a.getField("run") + 1)
          .otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"))
      })
    when(size(toks) > 0,
      acc.getField("best").cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** Brute-force twin of [[topTokenFraction]] (the O(distinct·n) count-
    * per-distinct-token form). Kept ONLY as the parity reference for the
    * spec — never use in a query plan; it rescans the token array once
    * per distinct token.
    */
  def topTokenFractionBrute(toks: Column): Column = {
    val counts = transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))
    when(size(toks) > 0,
      array_max(counts).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** Character-diversity quality signals (Gopher-family heuristics —
    * machine-generated and boilerplate text concentrates on few
    * symbols): Shannon entropy in bits/char and the exact Simpson
    * concentration Σc(c−1)/(N(N−1)). Returns
    * `struct(n_chars, entropy, simpson)`.
    *
    * Linear in text length via the [[topTokenFraction]] sorted-run
    * trick: sort the chars once, then ONE aggregate pass closes run
    * lengths and accumulates Σ c·log₂c (double) and Σ c·(c−1) (exact
    * BIGINT — Simpson is rational, so it is bit-identical across
    * engines; entropy carries the usual libm-log ulp noise and rounds
    * at the caller). H = log₂N − (Σ c·log₂c)/N.
    */
  def charDiversity(text: Column): Column = {
    // split("") yields [""] — guard so the empty text has ZERO chars
    val chars = when(length(text) === 0, array().cast("array<string>"))
      .otherwise(split(text, ""))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0.0).as("s"), lit(0L).as("s2"))
    import graft.expressions.DetLn
    val closed = (a: Column) =>
      when(a.getField("run") > 0,
        a.getField("run").cast("double") *
          (DetLn(a.getField("run")) * lit(DetLn.InvLn2)))
        .otherwise(lit(0.0))
    val closed2 = (a: Column) =>
      a.getField("run") * (a.getField("run") - 1)
    val acc = aggregate(array_sort(chars), zero, (a, c) =>
      when(c === a.getField("prev"),
        struct(c.as("prev"), (a.getField("run") + 1).as("run"),
          a.getField("s").as("s"), a.getField("s2").as("s2")))
        .otherwise(struct(c.as("prev"), lit(1L).as("run"),
          (a.getField("s") + closed(a)).as("s"),
          (a.getField("s2") + closed2(a)).as("s2"))))
    val n = size(chars).cast("long")
    val sTot = acc.getField("s") + closed(acc)
    val s2Tot = acc.getField("s2") + closed2(acc)
    struct(n.as("n_chars"),
      when(n > 0,
        DetLn(n) * lit(DetLn.InvLn2) - sTot / n.cast("double"))
        .otherwise(lit(0.0)).as("entropy"),
      when(n > 1, s2Tot.cast("double") / (n * (n - 1)).cast("double"))
        .otherwise(lit(0.0)).as("simpson"))
  }

  /** Repetition signal: fraction of word bigrams that are repeats
    * (1 − distinct/total). 0.0 for texts of fewer than two tokens.
    */
  def dupBigramFraction(toks: Column): Column = {
    val n = size(toks)
    val bigrams = transform(sequence(lit(1), n - 1),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
    when(n > 1,
      lit(1.0) - size(array_distinct(bigrams)).cast("double") /
        (n - 1).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Trimmed non-blank text units for the duplicate-unit signals below:
    * split on `delim` (a Java regex — `"\n"` for lines, `"\n{2,}"` for
    * paragraphs), trim each unit, drop blanks. Bind the result at a
    * select boundary (the `...FromTokens` pattern) before feeding it to
    * [[dupUnitFraction]]/[[dupUnitCharFraction]] — both reference it
    * from HOF lambdas.
    */
  def textUnits(text: Column, delim: String): Column =
    filter(transform(split(text, delim), u => trim(u)), u => u =!= "")

  /** Gopher A1.1 duplicate-line/-paragraph fraction (Rae et al. 2021;
    * the MassiveText repetition family alongside [[topTokenFraction]]
    * and [[dupBigramFraction]], at unit granularity instead of token):
    * the share of unit occurrences beyond the first of each distinct
    * value — (n − n_distinct)/n. High values flag listicles, chat-log
    * spam, and templated boilerplate that token-level signals miss.
    *
    * Scale shape: the units of one document ride in its own row, so the
    * whole signal is an array expression fused into the scan — no
    * explode, no shuffle, no state; 100 TB costs exactly one pass.
    */
  def dupUnitFraction(us: Column): Column =
    when(size(us) > 0,
      (size(us) - size(array_distinct(us))).cast("double") / size(us))
      .otherwise(lit(0.0))

  /** Character-weighted twin of [[dupUnitFraction]]: the share of
    * CHARACTERS living in beyond-first occurrences — total chars minus
    * chars of the distinct values, over total. Gopher gates on both
    * (a doc can repeat one short line many times, or one huge paragraph
    * twice; only one of the two fractions spikes in each case).
    */
  def dupUnitCharFraction(us: Column): Column = {
    val tot = aggregate(us, lit(0L), (a, u) => a + length(u))
    val dis = aggregate(array_distinct(us), lit(0L), (a, u) => a + length(u))
    when(tot > 0, (tot - dis).cast("double") / tot).otherwise(lit(0.0))
  }

  /** Rolling polynomial fingerprint of the token stream (order-sensitive):
    * h ← (h·31 + md5₍₂₈ bit₎(token)) mod 1e9+7, seeded 7. Equal token
    * streams ⇒ equal fingerprints; engine-independent (md5-derived), so
    * the oracle can recompute it. 28-bit token values keep every
    * intermediate below 2⁶³.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(7L),
      (h, t) => pmod(
        h * 31L + conv(substring(md5(t), 1, 7), 16, 10).cast("long"),
        lit(1000000007L)))

  /** Distinct character n-grams of a string (n ≥ 1); shorter strings yield
    * the whole string as one gram.
    */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) < n, array(text)).otherwise(
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  /** Character n-gram Jaccard similarity of two strings — the "n-gram
    * Jaccard" near-dup signal over raw chars (robust to tokenization).
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val ga = charNgrams(a, n)
    val gb = charNgrams(b, n)
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb))
  }

  /** Corpus-unigram language-model score (beyond the reference): per
    * document, the frequency-weighted mean natural-log probability of
    * its tokens under the corpus's own unigram distribution — the
    * classic cheap fluency/outlier signal (the KenLM-perplexity seat in
    * CCNet/Gopher-style quality stacks, with the corpus itself as the
    * model). Low scores flag rare-token soup (OCR noise, boilerplate
    * hashes); docs with no tokens drop out.
    *
    * Scale shape: tokens collapse to per-doc (token, count) FIRST
    * (map-side combinable groupBy), so the vocabulary join moves one
    * row per distinct token per doc, not one per occurrence — on
    * repetitive corpora that's the difference between shuffling total
    * tokens and shuffling the much smaller distinct footprint. The
    * corpus total joins as a broadcast scalar; no corpus-scale window
    * anywhere.
    *
    * Output: (idName, n_tok, avg_logprob), unrounded — callers round
    * at their contract boundary.
    */
  def unigramLogProb(df: DataFrame, id: Column, text: Column,
                     idName: String = "doc_id"): DataFrame = {
    // NO Frames.fan (r17 A/B revert; see wordFreqs — same shape): the
    // tokenize explode feeds a map-side-combined groupBy, so the
    // shuffle already parallelizes everything downstream; ta8/ta11
    // measured faster without the fan in quiet AND loaded windows.
    val perDoc = df
      .select(id.as(idName), explode(tokens(text)).as("tok"))
      .groupBy(col(idName), col("tok"))
      .agg(count(lit(1)).as("c"))
    val vocab = perDoc.groupBy(col("tok")).agg(sum(col("c")).as("cf"))
    val total = vocab.agg(sum(col("cf")).as("tot"))
    // ORDER-EXACT (the r11 x5 discipline): ln(cf/tot) = detln(cf) −
    // detln(tot) (integer args, libm-free), quantized onto the integer
    // 2⁻²⁰ grid per vocab entry — the per-doc weighted sum is then
    // exact BIGINT arithmetic in any order; one divide pair restores
    // the mean-log-prob scale.
    val grid = graft.operators.Classify.WeightGrid
    val wtab = vocab.crossJoin(broadcast(total))
      .select(col("tok"),
        floor((graft.expressions.DetLn(col("cf")) -
          graft.expressions.DetLn(col("tot"))) * lit(grid) + lit(0.5))
          .as("wi"))
    perDoc.join(wtab, "tok")
      .groupBy(col(idName))
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c") * col("wi")).as("_num"))
      .select(col(idName), col("n_tok"),
        ((col("_num").cast("double") / col("n_tok").cast("double")) /
          lit(grid)).as("avg_logprob"))
  }

  /** Interpolated corpus-bigram LM score (the KenLM-order-2 seat,
    * upgrading [[unigramLogProb]]): frequency-weighted mean
    * ln(λ·P(b|a) + (1−λ)·P_cont(b)) over each doc's token bigrams,
    * where P(b|a) = c(a,b)/c(a,·) and the backoff P_cont(b) =
    * c(·,b)/c(·,·) — BOTH marginals of the one bigram-count table, so
    * the corpus tokenizes exactly once and every model table derives
    * from the same map-side-combined aggregation (no second scan for a
    * unigram table; the continuation marginal is also the better
    * backoff, à la Kneser-Ney). Docs with fewer than two tokens have
    * no bigrams and drop (mirrors unigramLogProb's empty-doc drop).
    *
    * Shuffle discipline: per-doc (a,b,c) collapse before any join, so
    * the wire carries distinct bigram footprints, not occurrences; the
    * three model tables join back on bigram/context/continuation keys;
    * the scalar total broadcasts.
    */
  def bigramLogProb(df: DataFrame, id: Column, text: Column,
                    lambda: Double = 0.75,
                    idName: String = "doc_id"): DataFrame = {
    // NO Frames.fan (r17 A/B revert; see unigramLogProb)
    val perDoc = df
      .select(id.as(idName), tokens(text).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(col(idName), explode(zip_with(
        slice(col("_toks"), lit(1), size(col("_toks")) - 1),
        slice(col("_toks"), lit(2), size(col("_toks")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .groupBy(col(idName), col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val big = perDoc.groupBy(col("a"), col("b")).agg(sum(col("c")).as("cab"))
    // marginals as windows over the (already vocab-sized) bigram table,
    // not separate groupBy+join branches: each extra branch would
    // recompute the whole tokenize→explode→count chain from scratch
    // (Catalyst shares no work across DataFrame reuse without a cache)
    val model = big
      .withColumn("ca", sum(col("cab")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("a"))))
      .withColumn("cb", sum(col("cab")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("b"))))
    val total = big.agg(sum(col("cab")).as("tot"))
    val interp = lit(lambda) * (col("cab") / col("ca")) +
      lit(1.0 - lambda) * (col("cb") / col("tot"))
    // ORDER-EXACT (the r11 x5 discipline): the mix is deterministic
    // (exact-integer ratios through correctly-rounded IEEE ops), its
    // log computes via detlnd (libm-free), and the per-bigram weight
    // quantizes onto the integer 2⁻²⁰ grid — the per-doc sum is exact
    // BIGINT arithmetic in any order.
    val grid = graft.operators.Classify.WeightGrid
    val scored = model.crossJoin(broadcast(total))
      .withColumn("wi",
        floor(graft.expressions.DetLnD(interp) * lit(grid) + lit(0.5)))
    perDoc
      .join(scored, Seq("a", "b"))
      .groupBy(col(idName))
      .agg(sum(col("c")).as("n_big"),
        sum(col("c") * col("wi")).as("_num"))
      .select(col(idName), col("n_big"),
        ((col("_num").cast("double") / col("n_big").cast("double")) /
          lit(grid)).as("avg_logprob"))
  }

  /** Per-stratum corpus drift: Jensen-Shannon divergence (bits) of
    * each stratum's unigram token distribution against the WHOLE
    * corpus mixture — the "which slice is drifting from the mix"
    * statistic that validates a tokenBudgetMix or flags an ingest
    * source gone bad. JS is symmetric, bounded by 1 bit, and defined
    * on disjoint supports (unlike KL), so no smoothing constant to
    * pick. Output: `(stratum, n_tok, js_bits)`.
    *
    * Scale shape: the corpus tokenizes once; counts partial-aggregate
    * map-side to a vocab-sized table from which BOTH distributions
    * derive (stratum totals AND corpus totals — no second scan); the
    * per-(stratum, token) term table is |vocab|·|strata| rows, with
    * the strata totals and the scalar grand total broadcast.
    */
  def corpusDivergence(df: DataFrame, stratum: Column,
                       text: Column): DataFrame = {
    val toks = df
      .select(stratum.as("stratum"), tokens(text).as("_toks"))
      .select(col("stratum"), explode(col("_toks")).as("tok"))
    val sc = toks.groupBy(col("stratum"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val st = sc.groupBy(col("stratum")).agg(sum(col("c")).as("ts"))
    val tot = sc.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val grand = tot.agg(sum(col("ct")).as("t"))
    val pairs = tot
      .crossJoin(broadcast(st.crossJoin(broadcast(grand))))
      .join(sc, Seq("stratum", "tok"), "left")
      .withColumn("p",
        coalesce(col("c"), lit(0L)).cast("double") / col("ts").cast("double"))
      .withColumn("q", col("ct").cast("double") / col("t").cast("double"))
    // q > 0 for every vocab token by construction; the p-side term is
    // zero at p = 0 (x·log x → 0). ORDER-EXACT (r11): log2 computes as
    // detlnd·(1/ln2) — libm-free — and each term quantizes onto the
    // FINE 2⁻⁴⁰ grid (terms are ≤ O(1), so the 2⁻²⁰ weight grid would
    // cost visible precision; at 2⁻⁴⁰ partial sums stay exact while
    // |Σ| < 2¹³, far above any JS divergence).
    import graft.expressions.{DetLn, DetLnD}
    def dlog2(x: Column): Column = DetLnD(x) * lit(DetLn.InvLn2)
    val term =
      when(col("p") > 0,
        lit(0.5) * col("p") * dlog2(lit(2) * col("p") / (col("p") + col("q"))))
        .otherwise(lit(0.0)) +
      lit(0.5) * col("q") * dlog2(lit(2) * col("q") / (col("p") + col("q")))
    val termQ = floor(term * lit(DetLn.TermGrid) + lit(0.5))
    pairs.groupBy(col("stratum"))
      .agg(max(col("ts")).as("n_tok"),
        (sum(termQ).cast("double") / lit(DetLn.TermGrid)).as("js_bits"))
  }
}
