package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text/scalar function library (reference inventory: SURVEY.md §2.8,
  * T1–T21; semantics cited to `/root/reference` in each function).
  *
  * Everything here is a pure `Column => Column` combinator built from
  * `org.apache.spark.sql.functions` so the whole family stays inside
  * whole-stage codegen — no UDFs, no serialization breaks. At 100 TB these
  * run as per-row expressions in the scan stage, fused with the projection
  * that consumes them.
  */
object TextFunctions {

  /** Let-binding inside a single Column: evaluate `c` ONCE per row and
    * hand it to `f` as a bound lambda variable (a one-element transform;
    * the binding is the HOF's direct array argument). Catalyst has no
    * common-subexpression elimination inside one expression tree, so a
    * subtree referenced k times evaluates k times; and a select-boundary
    * alias referenced from a FILTER is inlined back into the condition
    * by predicate pushdown. A lambda variable is immune to both: use
    * this for expensive predicates (quality gates) and multi-reference
    * scalar pipelines (the Multimodal header walkers).
    */
  def letBound(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** T1 — collapse runs of whitespace to a single space and trim.
    * Ref: Data_Cleaning/text_cleaning.py:22,47.
    */
  def normalizeWhitespace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** T2 — strip inline LaTeX: `$...$` math spans, `\cmd{...}` commands with
    * a braced argument, bare `\cmd` commands. Ref: text_cleaning.py:29-38.
    * The reference applies the `$...$` rule before `$$...$$` making the
    * latter dead code; we keep the effective behavior (single-`$` spans).
    */
  def stripLatex(c: Column): Column = {
    val noMath = regexp_replace(c, "\\$.*?\\$", " ")
    val noBraced = regexp_replace(noMath, "\\\\[a-zA-Z]+\\{[^}]*\\}", " ")
    regexp_replace(noBraced, "\\\\[a-zA-Z]+\\s*", " ")
  }

  /** T3 — drop HTML entities like `&amp;`. Ref: text_cleaning.py:41. */
  def stripHtmlEntities(c: Column): Column =
    regexp_replace(c, "&[a-zA-Z]+;", " ")

  /** T4 — replace non-ASCII runs with a space. Ref: text_cleaning.py:44. */
  def stripNonAscii(c: Column): Column =
    regexp_replace(c, "[^\\x00-\\x7F]+", " ")

  /** Full abstract-cleaning chain of the reference (T2→T3→T4→T1).
    * Ref: Data_Cleaning/text_cleaning.py:20-50.
    */
  def cleanText(c: Column): Column =
    normalizeWhitespace(stripNonAscii(stripHtmlEntities(stripLatex(c))))

  /** NFC canonical composition (beyond the reference, which strips
    * non-ASCII outright): visually-identical code-point sequences
    * collapse to one form, so hashes/dedup/token counts agree across
    * sources. Native codegen expression with an isNormalized fast path.
    */
  def nfcNormalize(c: Column): Column =
    graft.expressions.UnicodeNormalize(c, "NFC")

  /** NFKC compatibility composition — also folds fullwidth forms,
    * ligatures, superscripts etc. into their plain equivalents (the
    * aggressive variant most LLM-corpus pipelines run pre-tokenization).
    */
  def nfkcNormalize(c: Column): Column =
    graft.expressions.UnicodeNormalize(c, "NFKC")

  /** T8 — truncate to n chars, appending "..." only when truncation
    * happened. Ref: enhance_scoring.py:238-239.
    */
  def truncateEllipsis(c: Column, n: Int): Column =
    when(length(c) > n, concat(substring(c, 1, n), lit("..."))).otherwise(c)

  /** T10 — lowercase tokenization to a distinct token set
    * (first-occurrence order); CJK chars tokenize per-character
    * (TextAnalysis.tokenPattern). Ref: strict_deduplication.py:54.
    */
  def tokenSet(c: Column): Column =
    array_distinct(TextAnalysis.tokens(c))

  /** T11 — word count via `\w+` matches. Ref: RAG/rag.ipynb:783. */
  def wordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+"), lit(0)))

  /** Sentence count: split on `[.!?]+` keeping non-empty trimmed chunks.
    * Ref: RAG/rag.ipynb:824-826.
    */
  def sentenceCount(c: Column): Column =
    size(filter(split(c, "[.!?]+"), s => trim(s) =!= ""))

  /** T12 — bracketed citation matches like `[12]` / `[3,4]`.
    * Ref: RAG/rag.ipynb:834-841.
    */
  def citationMatches(c: Column): Column =
    regexp_extract_all(c, lit("\\[[^\\]]*\\d+[^\\]]*\\]"), lit(0))

  /** T13 — overlap size between the token sets of two strings.
    * Ref: RAG/rag.ipynb:823-827.
    */
  def keywordOverlap(a: Column, b: Column): Column =
    size(array_intersect(tokenSet(a), tokenSet(b)))

  /** T17 — clamp into [lo, hi]. Ref: enhance_scoring.py:92-95. */
  def clamp(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** T19 — parse `"5.21/10"`-style score strings to the numerator; null on
    * non-numeric input (ANSI-safe). Ref: visualize_improvement.py:30.
    */
  def scoreOfString(c: Column): Column = {
    val head = split(c, "/").getItem(0)
    when(head.rlike("^[-+]?(\\d+\\.?\\d*|\\.\\d+)$"), head.cast("double"))
  }

  /** T6 — md5 hex digest of the lower-trimmed string; the reference's
    * title-dedup key. Ref: strict_deduplication.py:39-40.
    */
  def titleHash(c: Column): Column = md5(lower(trim(c)))

  /** T20 — embedding-document construction: labeled fields joined by
    * newlines, abstract truncated to 500 chars. Ref: RAG/rag.ipynb:134-154.
    */
  def embeddingText(title: Column, authors: Column, abstractCol: Column): Column =
    concat_ws(
      "\n",
      concat(lit("Paper Title: "), title),
      concat(lit("Authors: "), array_join(authors, ", ")),
      concat(lit("Abstract: "), substring(abstractCol, 1, 500)))

  // ---------------------------------------------------------------------
  // PII detectors (T14; ref: provenance_compliance.py:192-243).
  // ---------------------------------------------------------------------

  val piiPatterns: Map[String, String] = Map(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\+?\\d[\\d -]{7,}\\d",
    "ip" -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "credential_url" -> "https?://[^\\s]*(?:token|key|password)=[^\\s&]+")

  def piiMatches(c: Column, kind: String): Column =
    regexp_extract_all(c, lit(piiPatterns(kind)), lit(0))

  /** Mask all but the first and last 2 chars of a detected PII string. */
  // --- URL curation (beyond reference; RefinedWeb-style source filter) --

  /** Lowercased host of an absolute URL; NULL when there is none.
    * Pure regex (no parse_url — identical semantics replayable in any
    * RE2-compatible engine, which is what the oracle needs).
    */
  def urlHost(url: Column): Column =
    nullif(lower(regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)), lit(""))

  /** Canonical URL for dedup/blocklists: lowercase scheme+host, strip
    * tracking params (utm_*, fbclid, gclid), the fragment, empty query
    * leftovers, and trailing path slashes. A regexp_replace chain —
    * scan-fused, order-significant, mirrored literally in the oracle.
    */
  def urlNormalize(url: Column): Column = {
    val parts = "^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]+)(.*)$"
    val rebuilt = concat(
      lower(regexp_extract(url, parts, 1)),
      lower(regexp_extract(url, parts, 2)),
      regexp_extract(url, parts, 3))
    val noFrag = regexp_replace(rebuilt, "#.*$", "")
    val noTrack = regexp_replace(noFrag,
      "([?&])(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*", "$1")
    val cleanQ = regexp_replace(
      regexp_replace(noTrack, "\\?&+", "?"), "&&+", "&")
    val noTail = regexp_replace(cleanQ, "[?&]+$", "")
    when(urlHost(url).isNull, url)
      .otherwise(regexp_replace(noTail, "/+$", ""))
  }

  /** TRUE when `host` is `domain` or a subdomain of one in `blocked`
    * — the standard suffix-match blocklist. Literal when-fold over the
    * (small, broadcast-free) list; NULL host ⇒ not blocked.
    */
  def hostBlocked(host: Column, blocked: Seq[String]): Column =
    coalesce(blocked.foldLeft(lit(false)) { (acc, d) =>
      acc || host === d || host.endsWith("." + d)
    }, lit(false))

  def maskPii(c: Column): Column =
    when(length(c) > 4,
      concat(substring(c, 1, 2), lit("***"), substring(c, -2, 2)))
      .otherwise(lit("***"))
}
