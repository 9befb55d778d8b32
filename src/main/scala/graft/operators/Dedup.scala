package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication suite (SURVEY.md §2.3 D1–D6 plus the 100 TB-scale
  * variants the reference lacks).
  *
  * Design notes for scale:
  *  - Exact dedup is a single hash shuffle on the key. First-wins
  *    survivorship is a `row_number` window (or min-order aggregate) —
  *    one shuffle either way.
  *  - The reference's fuzzy title dedup (strict_deduplication.py:48-76) is
  *    an O(n²) nested loop. Here pair generation is an inverted-index
  *    (token-blocking) join: explode tokens → join on token → group by
  *    pair. Work is proportional to token collisions, not n².
  *  - MinHash/LSH brings near-dup detection to O(n·bands): candidate
  *    pairs only form inside an LSH bucket. Hashes derive from md5 so the
  *    scheme is deterministic and engine-independent (oracle-checkable).
  */
object Dedup {

  /** D1/D2 — row_number that keeps the first row per key by explicit
    * ingest order; rows with a NULL key are all kept (ref:
    * strict_deduplication.py:29-30 keeps every record lacking a paper_id).
    */
  def firstWins(key: Column, order: Column): Column =
    when(key.isNull, lit(1))
      .otherwise(row_number().over(Window.partitionBy(key).orderBy(order)))

  /** Filter form of [[firstWins]]: survivors only. */
  def dedupFirstWins(df: DataFrame, key: Column, order: Column): DataFrame =
    df.withColumn("__rn", firstWins(key, order))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** D3 — md5(lower(trim(text))) content-hash dedup, first-wins by order
    * column. Ref: strict_deduplication.py:35-45.
    */
  def titleHashDedup(df: DataFrame, text: Column, order: Column): DataFrame =
    dedupFirstWins(df, TextFunctions.titleHash(text), order)

  /** Distinct lowercase tokens per row, exploded — the inverted index used
    * to block fuzzy-match candidates.
    *
    * NO Frames.fan here (r17 A/B revert): the r16 fan was kept on a
    * quiet-window win (~3% on d4), but under induced 16-spinner load
    * the fanned arm lost 20% on d4 and 8-40% on d22 (loaded mins
    * 5.27/5.96 s fanned vs 4.18/5.47 s not), and even quiet d22
    * preferred no-fan (4.59 vs 5.63 s) — the explode feeds a groupBy
    * whose shuffle already spreads the work, so the extra exchange
    * only adds tasks to contend for cores.
    */
  def tokenIndex(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), explode(TextFunctions.tokenSet(text)).as("tok"))

  /** D4 at scale — all pairs (a < b) whose token-set Jaccard similarity
    * meets `threshold`, EXACTLY, via AllPairs/PPJoin-style prefix
    * filtering instead of full token blocking.
    * Columns: id_a, id_b, inter, size_a, size_b, jaccard.
    * Ref semantics: strict_deduplication.py:48-76 (pairwise Jaccard ≥ 0.9).
    *
    * Plan shape and why it scales:
    *  1. tokens dictionary-encode to dense ids RANKED BY GLOBAL RARITY
    *     (df asc) — one tiny broadcast;
    *  2. each doc becomes one row with its sorted id array; only the
    *     PREFIX (the |A| − ⌈t·|A|⌉ + 1 globally-rarest tokens) explodes
    *     into the candidate index. Standard prefix-filter guarantee: any
    *     pair with J ≥ t shares a prefix token, so no false negatives —
    *     but common tokens never form candidate blocks;
    *  3. candidate join also applies the exact size-ratio prune
    *     (J ≥ t ⇒ min/max sizes ≥ t; integer inequality, no float edge);
    *  4. verification is one array_intersect over the two id arrays per
    *     distinct candidate — no 10⁸-row pair-count shuffle. The arrays
    *     re-attach via equi-join (AQE broadcasts while the doc table
    *     fits).
    */
  def jaccardPairs(df: DataFrame, id: Column, text: Column,
                   threshold: Double): DataFrame = {
    val (pairs, staged) = jaccardPairsPlan(df, id, text, threshold)
    // Materialize the pair set while the dictionary/doc-index blocks are
    // pinned, then RELEASE them — a library call must not leave cache
    // blocks resident for the life of the session (they'd crowd out the
    // rest of a 60-query run). The stage is a scratch parquet: the same
    // build-once artifact you'd keep deliberately at 100 TB, and the
    // returned scan holds no cache at all.
    try SegmentFs.stage(pairs, graft.Scratch.dir("graft_d4_pairs"))
    finally staged.foreach(_.unpersist(blocking = false))
  }

  /** The lazy pair plan plus its two persisted intermediates (token
    * dictionary, per-doc id arrays). Package-private so plan audits can
    * assert the cache-reuse shape; callers of the public [[jaccardPairs]]
    * never see (or leak) the persisted handles.
    */
  /** Shared front half of the prefix-filtered similarity joins (d4
    * Jaccard, d22 containment): the global-rarity token dictionary and
    * the per-doc sorted dense-id arrays. Returns `(docs, staged)` where
    * docs = (id, tids sorted-asc-by-rarity-rank, n) and `staged` holds
    * the persisted handles the CALLER must unpersist after its pair set
    * materializes.
    */
  private[graft] def rarityDictDocs(df: DataFrame, id: Column,
                                    text: Column): (DataFrame, Seq[DataFrame]) = {
    val toks = tokenIndex(df, id, text)
    // global rarity rank WITHOUT a single-partition window: distributed
    // range-sort + zipWithIndex keeps the dictionary build parallel even
    // when the vocabulary itself is huge.
    val spark = df.sparkSession
    import spark.implicits._
    val dict = toks.groupBy(col("tok"))
      .agg(count("*").as("df"))
      .orderBy(col("df"), col("tok"))
      .select(col("tok")).as[String]
      .rdd.zipWithIndex()
      .map { case (tok, i) => (tok, (i + 1).toInt) }
      .toDF("tok", "tid")
      // the plan consumes dict twice (prefix build + re-attach) and each
      // scan would otherwise replay the rank shuffle AND the zipWithIndex
      // job; persist makes the dictionary a build-once artifact (disk-
      // backed, so a huge vocabulary spills instead of OOMing).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no broadcast hint: at 100 TB the vocabulary is billions of tokens
    // and a forced broadcast OOMs the driver; AQE still converts this to
    // a broadcast join at runtime whenever the dictionary actually fits.
    val docs = toks.join(dict, "tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("tid"))).as("tids"))
      .withColumn("n", size(col("tids")))
      // four consumers (both prefix self-join sides + both array
      // re-attach joins) and no exchange reuse across them: without an
      // explicit materialization the tokenize→dict-join→collect_list
      // pipeline recomputes per consumer. One row per document, so this
      // is the natural build-once index artifact (parquet at 100 TB).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (docs, Seq(dict, docs))
  }

  private[graft] def jaccardPairsPlan(df: DataFrame, id: Column, text: Column,
                                      threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val (docsBase, staged) = rarityDictDocs(df, id, text)
    val docs = docsBase
      .withColumn("p", (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
    val prefix = docs.select(col("id"), col("n"),
      posexplode(slice(col("tids"), lit(1), col("p"))).as(Seq("pos", "tid")))
    val tNum = math.round(threshold * 1000000).toInt
    // PPJoin position filter: if the shared prefix token sits at
    // (0-based) positions i, j, the best possible overlap is
    // 1 + min(nA − i − 1, nB − j − 1); J ≥ t needs overlap ≥
    // t/(1+t)·(nA+nB). Scaled to exact integers:
    // (1 + min(...))·(10⁶ + tNum) ≥ tNum·(nA + nB).
    val bestOverlap = lit(1) +
      least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1)
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tid") === col("b.tid") && col("a.id") < col("b.id") &&
          col("a.n") * 1000000 >= col("b.n") * tNum &&
          col("b.n") * 1000000 >= col("a.n") * tNum &&
          bestOverlap * (1000000L + tNum) >= (col("a.n") + col("b.n")) * tNum)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val pairs = cands
      .join(docs.select(col("id").as("id_a"), col("tids").as("ta"),
        col("n").as("size_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("tids").as("tb"),
        col("n").as("size_b")), "id_b")
      // merge-walk intersect (native, codegen'd): ta/tb are sorted
      // distinct id arrays by construction, so the linear walk applies.
      .withColumn("inter",
        graft.expressions.SortedIntersectCount(col("ta"), col("tb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("size_a").cast("long").as("size_a"),
        col("size_b").cast("long").as("size_b"), col("jaccard"))
    (pairs, staged)
  }

  /** D22 — asymmetric CONTAINMENT pairs: every (contained, container)
    * doc pair with |tok(A) ∩ tok(B)| / |tok(A)| ≥ `threshold` — the
    * partial-copy/quotation signal Jaccard structurally misses (an
    * excerpt inside a 100× larger page has J ≈ |A|/|B| ≈ 0 but
    * containment 1.0; RefinedWeb/CCNet run exactly this asymmetric
    * check beside the symmetric one). Columns: id_a (contained), id_b
    * (container), inter, size_a, size_b, containment; container at
    * least as large as contained, equal-size ties kept once (id_a <
    * id_b).
    *
    * Plan shape: the [[rarityDictDocs]] front half, then PREFIX ×
    * FULL-INDEX candidates — containment has no size-ratio prune (the
    * container may be arbitrarily large), so the contained side
    * explodes only its |A| − ⌈t·|A|⌉ + 1 globally-rarest tokens while
    * the container side explodes everything. The join keys are ONLY
    * prefix tokens — globally rare by construction — so the postings
    * lists they probe are short and common tokens never form
    * candidates; the full-side explode is linear in corpus tokens, the
    * same cost as building the inverted index. A position filter
    * tightens the candidates: a prefix token at (0-based) a.pos with
    * container match at b.pos caps the best overlap at
    * 1 + min(nA − a.pos − 1, nB − b.pos − 1) ≥ ⌈t·nA⌉, checked as the
    * exact integer inequality (1 + min)·10⁶ ≥ tNum·nA. Verification is
    * one merge-walk intersect per distinct candidate.
    */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       threshold: Double): DataFrame = {
    val (docs, staged) = rarityDictDocs(df, id, text)
    try {
      val tNum = math.round(threshold * 1000000).toInt
      val prefix = docs
        .withColumn("p", (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
        .select(col("id"), col("n"),
          posexplode(slice(col("tids"), lit(1), col("p"))).as(Seq("pos", "tid")))
      val full = docs.select(col("id"), col("n"),
        posexplode(col("tids")).as(Seq("pos", "tid")))
      val bestOverlap = lit(1) +
        least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1)
      val cands = prefix.as("a")
        .join(full.as("b"),
          col("a.tid") === col("b.tid") &&
            (col("b.n") > col("a.n") ||
              (col("b.n") === col("a.n") && col("a.id") < col("b.id"))) &&
            bestOverlap * 1000000L >= col("a.n") * tNum)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val pairs = cands
        .join(docs.select(col("id").as("id_a"), col("tids").as("ta"),
          col("n").as("size_a")), "id_a")
        .join(docs.select(col("id").as("id_b"), col("tids").as("tb"),
          col("n").as("size_b")), "id_b")
        .withColumn("inter",
          graft.expressions.SortedIntersectCount(col("ta"), col("tb")))
        .withColumn("containment",
          col("inter").cast("double") / col("size_a").cast("double"))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), col("inter"),
          col("size_a").cast("long").as("size_a"),
          col("size_b").cast("long").as("size_b"), col("containment"))
      // materialize while the dictionary/doc blocks are pinned, then
      // release them (the d4 discipline: library calls leave no cache)
      SegmentFs.stage(pairs, graft.Scratch.dir("graft_d22_pairs"))
    } finally staged.foreach(_.unpersist(blocking = false))
  }

  /** The batch-vs-corpus form of [[containmentPairs]] — "is any of
    * today's batch a partial copy of a standing document?" (the d15/d9
    * production shape, done for containment): contained candidates
    * come ONLY from `batch`, containers ONLY from `corpus`. Ids must
    * be disjoint across the two frames. Columns as
    * [[containmentPairs]]; no size tie rule (the sides are disjoint) —
    * instead the exact integer size prune nb·10⁶ ≥ t·na applies (a
    * container smaller than t·|A| cannot cover t of A's tokens).
    *
    * Scale shape: ONE dictionary/doc-array build over the union, then
    * the batch side explodes only its per-doc rare prefixes while the
    * corpus explodes once into the inverted index — candidate volume
    * is O(batch prefixes × short rare-token postings), never
    * corpus × corpus.
    */
  def containmentProbe(batch: DataFrame, corpus: DataFrame, id: Column,
                       text: Column, threshold: Double): DataFrame = {
    val (pairs, staged) = containmentProbePlan(batch, corpus, id, text, threshold)
    try SegmentFs.stage(pairs, graft.Scratch.dir("graft_d22_probe"))
    finally staged.foreach(_.unpersist(blocking = false))
  }

  /** [[containmentProbe]] reduced to each batch doc's BEST container —
    * max (inter, size_b, smallest id_b) per id_a — WITHOUT materializing
    * the full pair set: on a dense corpus the qualifying pairs are
    * O(batch × corpus) (1.7M at sf0.1 where the best-rows are ~600), so
    * staging them to parquet and windowing costs more than the whole
    * candidate phase. The reduction is one map-side-combinable
    * `max_by`-style struct aggregate running WHILE the dictionary
    * blocks are still pinned; only the ≤|batch|-row result is staged
    * out. Columns as [[containmentProbe]], one row per id_a.
    */
  def containmentBest(batch: DataFrame, corpus: DataFrame, id: Column,
                      text: Column, threshold: Double): DataFrame = {
    val (pairs, staged) = containmentProbePlan(batch, corpus, id, text, threshold)
    try {
      // lexicographic struct max = (inter desc, size_b desc, id_b asc);
      // negating id_b turns the ascending tie-break into a max
      val best = pairs
        .groupBy(col("id_a"))
        .agg(max(struct(col("inter"), col("size_b"),
          (lit(0L) - col("id_b")).as("_nib"), col("size_a"),
          col("containment"))).as("_b"))
        .select(col("id_a"), (lit(0L) - col("_b._nib")).as("id_b"),
          col("_b.inter").as("inter"), col("_b.size_a").as("size_a"),
          col("_b.size_b").as("size_b"),
          col("_b.containment").as("containment"))
      SegmentFs.stage(best, graft.Scratch.dir("graft_d22_best"))
    } finally staged.foreach(_.unpersist(blocking = false))
  }

  /** The shared lazy pair plan behind [[containmentProbe]] /
    * [[containmentBest]]: returns (pairs, staged persists the caller
    * must release after materializing). */
  private def containmentProbePlan(
      batch: DataFrame, corpus: DataFrame, id: Column,
      text: Column, threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val union = batch.select(id.as("_cid"), text.as("_ctext"))
      .unionByName(corpus.select(id.as("_cid"), text.as("_ctext")))
    val (docs, staged) = rarityDictDocs(union, col("_cid"), col("_ctext"))
    // exception safety (ADVICE r17): rarityDictDocs has already staged
    // its persists, but the callers' `finally` only covers the
    // post-construction materialize — a throw while BUILDING the pair
    // plan below would otherwise leak them for the session
    try {
      val tNum = math.round(threshold * 1000000).toInt
      val batchIds = batch.select(id.as("id"))
      val prefix = docs.join(batchIds, Seq("id"), "left_semi")
        .withColumn("p", (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
        .select(col("id"), col("n"),
          posexplode(slice(col("tids"), lit(1), col("p"))).as(Seq("pos", "tid")))
      // Corpus-side prune (r14): only tids that are some BATCH doc's
      // prefix token can ever be a join key, so semi-join the corpus
      // explode against the batch's distinct prefix tids BEFORE the
      // candidate join. The prune set is O(batch · prefix) — tiny next
      // to the corpus — so AQE broadcasts it and the corpus posting
      // stream thins map-side: the candidate join then shuffles only
      // the postings of the batch's rare tokens, not every corpus
      // token. At 100 TB this is the difference between shuffling the
      // whole inverted index and shuffling a few short postings lists.
      val prefTids = prefix.select(col("tid")).distinct()
      val full = docs.join(batchIds, Seq("id"), "left_anti")
        .select(col("id"), col("n"), posexplode(col("tids")).as(Seq("pos", "tid")))
        .join(prefTids, Seq("tid"), "left_semi")
      val bestOverlap = lit(1) +
        least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1)
      val cands = prefix.as("a")
        .join(full.as("b"),
          col("a.tid") === col("b.tid") &&
            col("b.n") * 1000000L >= col("a.n") * tNum &&
            bestOverlap * 1000000L >= col("a.n") * tNum)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val pairs = cands
        .join(docs.select(col("id").as("id_a"), col("tids").as("ta"),
          col("n").as("size_a")), "id_a")
        .join(docs.select(col("id").as("id_b"), col("tids").as("tb"),
          col("n").as("size_b")), "id_b")
        .withColumn("inter",
          graft.expressions.SortedIntersectCount(col("ta"), col("tb")))
        .withColumn("containment",
          col("inter").cast("double") / col("size_a").cast("double"))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), col("inter"),
          col("size_a").cast("long").as("size_a"),
          col("size_b").cast("long").as("size_b"), col("containment"))
      (pairs, staged)
    } catch {
      case e: Throwable =>
        staged.foreach(_.unpersist(blocking = false))
        throw e
    }
  }

  /** D4 survivors — drop every row that has a near-duplicate with a
    * smaller id (keep-first greedy, deterministic). Mirrors the
    * reference's sequential earlier-survivor rule
    * (strict_deduplication.py:68-73) for id = ingest order.
    */
  def fuzzyDedup(df: DataFrame, id: Column, text: Column,
                 threshold: Double): DataFrame = {
    val losers = jaccardPairs(df, id, text, threshold)
      .select(col("id_b").as("__loser")).distinct()
    df.join(losers, id === col("__loser"), "left_anti")
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH (scale path; deterministic md5-based hash family)
  // ---------------------------------------------------------------------

  /** Word-level n-gram shingles of a text column (distinct). Short texts
    * (< n tokens) yield their whole token string as a single shingle.
    * CJK runs tokenize per-character (TextAnalysis.tokenPattern), so a
    * Chinese document shingles into char n-grams instead of collapsing
    * to one whole-document shingle.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(graft.functions.TextAnalysis.tokens(text), n)

  /** [[shingles]] over an ALREADY-BOUND token column — callers that
    * evaluate shingles per row at any volume must bind the tokenizer at
    * a select boundary first and pass the attribute here: `toks` is
    * referenced from inside the `transform` lambda, so an inline
    * tokenizer expression would re-run once PER SHINGLE INDEX (the HOF
    * re-evaluation trap; binding it made d23 3.6 s cheaper at sf0.1).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array(array_join(toks, " "))).otherwise(
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))

  /** Affine MinHash family constants, derived deterministically from md5
    * driver-side (engine-independent; the oracle embeds the same
    * numbers). A is forced odd so the map is non-degenerate.
    */
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h7(s: String): Long = {
      md.reset()
      val hex = md.digest(s.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16)
    }
    (0 until numHashes).map(s => (h7(s"A:$s") | 1L, h7(s"B:$s")))
  }

  /** 28-bit md5-derived value per shingle — materialize this ONCE (via a
    * select boundary) before fanning out to the hash family; splicing it
    * into each of the numHashes lambdas would re-run every md5 numHashes
    * times per row.
    */
  def shingleValues(sh: Column): Column =
    transform(sh, x => conv(substring(md5(x), 1, 7), 16, 10).cast("long"))

  /** MinHash signature over a *materialized* [[shingleValues]] column:
    * hash s is the affine map (Aₛ·v + Bₛ) mod 1e9+7 — numHashes·|shingles|
    * integer ops per row, no repeated hashing. All intermediates stay
    * below 2⁶³ (2²⁸·2²⁸ products).
    */
  def minhashSignatureFromValues(vs: Column, numHashes: Int): Column = {
    val coeffs = minhashCoeffs(numHashes)
    array(coeffs.map { case (a, b) =>
      array_min(transform(vs, v => pmod(v * a + b, lit(1000000007L))))
    }: _*)
  }

  /** Convenience composition for single-expression use (tests, ad hoc);
    * the staged [[minhashPairs]] path materializes the intermediates.
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    minhashSignatureFromValues(shingleValues(sh), numHashes)

  /** LSH band keys: split the signature into bands of `rowsPerBand` and
    * hash each band. Docs sharing any (band, hash) are candidates.
    */
  def lshBands(sig: Column, numHashes: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes / rowsPerBand - 1)),
      b => struct(
        b.as("band"),
        md5(array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), ",")).as("h")))

  /** MinHash-LSH near-duplicate candidate pairs (id_a < id_b) with the
    * signature-agreement Jaccard estimate.
    *
    * Shuffle discipline: shingles and signatures materialize once per
    * row (select boundaries — inlining them into downstream lambdas
    * would re-evaluate the whole expression per lambda element); the
    * bucket self-join dedups candidate pairs as bare (id, id) longs, and
    * signatures re-attach via broadcast join for the estimate. Arrays
    * never ride the wide shuffle.
    */
  def minhashPairs(df: DataFrame, id: Column, text: Column,
                   shingleSize: Int = 3, numHashes: Int = 16,
                   rowsPerBand: Int = 4): DataFrame =
    // signature computes ONCE in the native one-pass TokenMinHash
    // expression (bit-identical to the declarative chain, pinned in
    // TokenMinHashSpec) and lazily checkpoints: the bucket self-join
    // resolves as a BroadcastHashJoin (no exchange under either input),
    // so WITHOUT the checkpoint there is no reuse point and the
    // tokenize→shingle→hash chain — the dominant CPU of every caller —
    // runs once PER JOIN SIDE (r16 Explain evidence: two token_minhash
    // projections, zero ReusedExchange). The (id, 16-long sig) rows are
    // the natural build-once artifact (parquet at 100 TB).
    minhashPairsFromSigs(
      sigRows(df, id, text, shingleSize, numHashes)
        .localCheckpoint(eager = false),
      numHashes, rowsPerBand)

  /** `(id, sig)` signature rows — THE shareable front of every minhash
    * consumer: a caller that both probes an index and pairs a batch
    * intra-batch ([[nearDupIngest]]) computes this once (lazily
    * checkpointed) instead of re-running the tokenize→shingle→hash
    * chain per consumer. */
  private[graft] def sigRows(df: DataFrame, id: Column, text: Column,
                             shingleSize: Int, numHashes: Int): DataFrame =
    // fan: a one-row-group corpus file would otherwise run the
    // tokenize->shingle->hash chain on a single core (Frames.fan is the
    // identity whenever the source is already parallel enough)
    graft.Frames.fan(df).select(id.cast("long").as("id"),
      graft.expressions.TokenMinHash(text, shingleSize,
        minhashCoeffs(numHashes)).as("sig"))

  /** [[minhashPairs]] over precomputed `(id, sig)` rows. The signature
    * (numHashes longs) is narrow enough to ride the bucket join; the
    * estimate computes pre-distinct so the dedup shuffle moves
    * (long, long, double) rows. */
  private[graft] def minhashPairsFromSigs(sigs: DataFrame, numHashes: Int,
                                          rowsPerBand: Int): DataFrame = {
    val buckets = sigs.select(
      col("id"), col("sig"),
      explode(lshBands(col("sig"), numHashes, rowsPerBand)).as("bk"))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        (aggregate(
          zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes))
          .as("est_jaccard"))
      .distinct()
  }

  /** Band keys serialized as `"band|md5hex"` strings — the join key of
    * the persisted band index, and byte-identical to the layout the d6
    * oracle CTE builds, so any engine can replay index membership.
    */
  def bandKeys(sig: Column, numHashes: Int, rowsPerBand: Int): Column =
    transform(lshBands(sig, numHashes, rowsPerBand),
      b => concat(b.getField("band").cast("string"), lit("|"), b.getField("h")))

  /** Directory bucket of a band key (md5-derived, engine-replayable) —
    * the hive partition column of the persisted band index. */
  def bandBucket(bk: Column, buckets: Int): Column =
    pmod(conv(substring(md5(bk), 1, 7), 16, 10).cast("long"),
      lit(buckets.toLong))

  private val bandIndexSchema = org.apache.spark.sql.types.StructType
    .fromDDL("id LONG, sig ARRAY<BIGINT>, bk STRING, sb LONG, bp BIGINT")

  /** Persist an LSH band index: the near-dup cousin of the d9 bloom and
    * v11 IVF lifecycles — build once over the corpus, probe every
    * incoming batch for near-duplicates WITHOUT re-scanning corpus
    * text. Layout (the BM25/IVF/IVF-PQ segment discipline):
    *
    * {{{
    *   path/bands/sb=K/bp=N/  (id, sig, bk) band rows of segment K,
    *                          landed via the sized sink
    *   path/commits/k=K/      commit markers — probes read ONLY
    *                          committed segments
    * }}}
    *
    * One row per (doc, band); hot buckets still write in parallel (no
    * small-file spray). `bp` is an md5-derived bucket of the band key
    * and `sb` the appending batch, both partition columns, so a
    * probe's `bp IN (…) AND sb IN (committed…)` prunes at the
    * directory level. The base build is segment −1 (streaming batch
    * ids start at 0 and can never collide with it).
    */
  def saveLshBandIndex(df: DataFrame, id: Column, text: Column,
                       path: String, shingleSize: Int = 3,
                       numHashes: Int = 16, rowsPerBand: Int = 4,
                       buckets: Int = 64, targetRows: Long = 1L << 20,
                       spread: Int = 8): Unit =
    bandSegments(df.sparkSession, path).commit(-1L)(
      writeBandData(df, id, text, path, shingleSize, numHashes,
        rowsPerBand, buckets, targetRows, spread, -1L))

  /** O(batch) growth of a saved band index as a commit-gated segment:
    * `srcBatch` ≥ 0 names the segment (a COMMITTED id is a replay —
    * complete no-op); negative picks max+1. A torn append (crash
    * before the commit marker) is invisible to probes and its partial
    * dir is reclaimed by the rewrite. Unlike IVF centroids there is
    * nothing frozen to drift — band membership is exact, so probe
    * quality never decays with appends. Returns the segment id.
    */
  def appendLshBandIndex(df: DataFrame, id: Column, text: Column,
                         path: String, shingleSize: Int = 3,
                         numHashes: Int = 16, rowsPerBand: Int = 4,
                         buckets: Int = 64, targetRows: Long = 1L << 20,
                         spread: Int = 8, srcBatch: Long = -1L): Long =
    bandSegments(df.sparkSession, path).append(
        Option.when(srcBatch >= 0)(srcBatch), minId = 0L)(
      writeBandData(df, id, text, path, shingleSize, numHashes,
        rowsPerBand, buckets, targetRows, spread, _))

  /** Land one batch's band rows as `bands/sb=<seg>/bp=N`. */
  private def writeBandData(df: DataFrame, id: Column, text: Column,
                            path: String, shingleSize: Int,
                            numHashes: Int, rowsPerBand: Int,
                            buckets: Int, targetRows: Long,
                            spread: Int, seg: Long): Unit =
    graft.sources.Compaction.writeSized(
      bandRows(df, id, text, shingleSize, numHashes, rowsPerBand, buckets)
        .drop("sb"), // sb is the segment DIRECTORY, not a data column
      s"$path/bands/sb=$seg", Seq("bp"), col("id"), targetRows, spread)

  /** The band segment index at `path` (see [[SegmentFs.Segments]]). */
  private def bandSegments(spark: org.apache.spark.sql.SparkSession,
                           path: String) =
    new SegmentFs.Segments(spark, path,
      k => Seq(s"$path/bands/sb=$k"))

  /** Fold every committed band segment ≤ `upTo` into ONE merged
    * segment — the CountLog/MergeLog compaction discipline for the
    * band index: a long-running [[nearDupSink]] otherwise accretes a
    * directory per micro-batch, and probe-side file listing grows with
    * batch count while the DATA is bounded by the corpus. Returns the
    * merged segment id, or None when there is nothing to fold.
    *
    * Merged generations take NEGATIVE ids descending from the minimum
    * committed segment (−2, −3, …): they can never collide with
    * streaming batch ids (≥ 0) or the base build (−1), so a future
    * `appendLshBandIndex(srcBatch = b)` is never silently no-opped by
    * a compaction artifact.
    *
    * Crash safety is [[SegmentFs]]'s protocol; in its window where
    * folded rows are visible twice, probes are unaffected (candidate
    * pairs are distinct-ed, the estimate is a pure signature function).
    *
    * `upTo` is the replay watermark: fold ONLY batches the appending
    * stream's checkpoint has passed, because a replay of a folded
    * batch id can no longer exclude its own rows by `sb` and would
    * drop the batch as duplicates of itself.
    */
  def compactLshBandIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, upTo: Long,
                          targetRows: Long = 1L << 20,
                          spread: Int = 8): Option[Long] =
    bandSegments(spark, path).compact(upTo, baseSeg = -1L) { (fold, gen) =>
      val rows = spark.read.schema(bandIndexSchema).parquet(s"$path/bands")
        .where(col("sb").isin(fold: _*))
        .select(col("id"), col("sig"), col("bk"), col("bp"))
      graft.sources.Compaction.writeSized(rows, s"$path/bands/sb=$gen",
        Seq("bp"), col("id"), targetRows, spread)
    }

  // `sb` tags each band row with the micro-batch that appended it
  // (−1 for batch builds): [[probeLshBandIndex]] can then exclude a
  // replayed batch's own earlier rows, which is what makes the
  // [[nearDupSink]] recompute idempotent at any crash point. In the
  // persisted index sb is the segment directory; the inline column
  // here serves the un-persisted probe side.
  private def bandRows(df: DataFrame, id: Column, text: Column,
                       shingleSize: Int, numHashes: Int, rowsPerBand: Int,
                       buckets: Int, srcBatch: Long = -1L): DataFrame =
    bandRowsFromSigs(sigRows(df, id, text, shingleSize, numHashes),
      numHashes, rowsPerBand, buckets, srcBatch)

  private def bandRowsFromSigs(sigs: DataFrame, numHashes: Int,
                               rowsPerBand: Int, buckets: Int,
                               srcBatch: Long): DataFrame =
    sigs.select(col("id"), col("sig"),
        explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("bk"))
      .withColumn("sb", lit(srcBatch))
      .withColumn("bp", bandBucket(col("bk"), buckets))

  /** Probe a saved band index with a new batch: near-dup candidate
    * pairs (batch doc, corpus doc) with the signature-agreement Jaccard
    * estimate. Self-matches (same id on both sides) are excluded.
    *
    * Scale shape — the daily-crawl-vs-100 TB-corpus asymmetry: the
    * batch's band rows BROADCAST (a batch is MBs against a TB index),
    * so the index side streams map-side through the join and NEVER
    * shuffles; the batch's distinct `bp` set (bounded by `buckets` —
    * contract-tiny) becomes a directory-pruning partition filter, so
    * IO is only the buckets the batch actually touches. Signatures ride
    * the index rows (numHashes longs — the narrow-shuffle budget), so
    * the estimate computes without ever revisiting corpus text.
    */
  def probeLshBandIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame, id: Column,
                        text: Column, shingleSize: Int = 3,
                        numHashes: Int = 16, rowsPerBand: Int = 4,
                        buckets: Int = 64,
                        excludeBatch: Option[Long] = None): DataFrame =
    probeLshBandIndexFromSigs(spark, path,
      sigRows(batch, id, text, shingleSize, numHashes),
      numHashes, rowsPerBand, buckets, excludeBatch)

  /** [[probeLshBandIndex]] over precomputed `(id, sig)` batch rows. */
  private[graft] def probeLshBandIndexFromSigs(
      spark: org.apache.spark.sql.SparkSession, path: String,
      sigs: DataFrame, numHashes: Int, rowsPerBand: Int, buckets: Int,
      excludeBatch: Option[Long]): DataFrame = {
    val bb = bandRowsFromSigs(sigs, numHashes, rowsPerBand, buckets,
        srcBatch = -1L)
      .withColumnRenamed("id", "id_batch")
      .withColumnRenamed("sig", "b_sig")
    val bps = bb.select(col("bp")).distinct()
      .collect().map(_.getLong(0)).sorted
    // COMMITTED segments only (minus the replaying batch's own): a
    // torn append never had its marker written, so its partial rows
    // are invisible here — both filters are partition-directory prunes
    val visible = bandSegments(spark, path).committed
      .filterNot(s => excludeBatch.contains(s))
    val idx = spark.read.schema(bandIndexSchema).parquet(s"$path/bands")
      .where(col("bp").isin(bps: _*))
      .where(col("sb").isin(visible: _*))
    idx.join(broadcast(bb.select(col("id_batch"), col("b_sig"), col("bk"))),
        Seq("bk"))
      .where(col("id") =!= col("id_batch"))
      .select(col("id_batch"), col("id").as("id_corpus"),
        (aggregate(
          zip_with(col("sig"), col("b_sig"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes))
          .as("est_jaccard"))
      .distinct()
  }

  /** One micro-batch of streaming near-dup ingest: drop batch rows
    * whose estimated Jaccard against the saved index reaches
    * `threshold`, then collapse intra-batch near-dups to one canonical
    * row each ([[dupClusters]] over the survivors — batch-sized, so the
    * component loop is micro-batch work, not corpus work). Returns the
    * kept rows with the batch's original columns.
    */
  def nearDupIngest(spark: org.apache.spark.sql.SparkSession, path: String,
                    batch: DataFrame, id: Column, text: Column,
                    threshold: Double, batchId: Long = -1L,
                    buckets: Int = 64): DataFrame = {
    // ONE minhash pass over the batch (r16): the corpus probe and the
    // intra-batch pair join both consume the same lazily-checkpointed
    // (id, sig) rows — the tokenize→shingle→hash chain is the batch's
    // dominant CPU and previously ran once per consumer. The checkpoint
    // blocks free via the context cleaner once the returned frame dies.
    val sigs = sigRows(batch, id, text, shingleSize = 3, numHashes = 16)
      .localCheckpoint(eager = false)
    // batchId < 0 = non-streaming call: exclude NOTHING — Some(-1)
    // would match the sb = -1 tag of every batch-built index row and
    // silently blind the probe to the whole saved corpus
    val dupVsCorpus = probeLshBandIndexFromSigs(spark, path, sigs,
        numHashes = 16, rowsPerBand = 4, buckets = buckets,
        excludeBatch = if (batchId >= 0) Some(batchId) else None)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_batch").as("_dup_id")).distinct()
    val freshSigs = sigs.join(dupVsCorpus,
      col("id") === col("_dup_id"), "left_anti")
    val pairs = minhashPairsFromSigs(freshSigs, numHashes = 16,
        rowsPerBand = 4)
      .where(col("est_jaccard") >= threshold)
    val fresh = batch.join(dupVsCorpus,
      id.cast("long") === col("_dup_id"), "left_anti")
    clusterByPairs(fresh, id, pairs)
      .where(col("kept"))
      .drop("cluster_id", "cluster_size", "kept")
  }

  /** Streaming near-dup dedup sink — the LSH-index lifecycle as a
    * continuously-ingesting pipeline: per micro-batch, [[nearDupIngest]]
    * filters against everything ingested so far, kept rows land as
    * `outDir/b=<batchId>/` parquet, and their band rows append to the
    * index tagged with the batch id. The index must exist
    * ([[saveLshBandIndex]] over the bootstrap corpus, possibly empty).
    *
    * Replay safety, at any crash point: the probe EXCLUDES band rows
    * tagged with the current batch id, so a replay recomputes the same
    * kept set whether the previous attempt died before, during, or
    * after its index append; the output overwrite of `b=<batchId>` is
    * idempotent; and a double-append only duplicates band rows, which
    * is probe-idempotent (candidates dedup by pair, the estimate is a
    * pure function of the two signatures).
    */
  def nearDupSink(stream: DataFrame, idName: String, textName: String,
                  path: String, outDir: String, threshold: Double,
                  buckets: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val kept = nearDupIngest(spark, path, batch,
          col(idName), col(textName), threshold, batchId, buckets).persist()
        try {
          kept.write.mode("overwrite").parquet(s"$outDir/b=$batchId")
          appendLshBandIndex(kept, col(idName), col(textName), path,
            buckets = buckets, srcBatch = batchId): Unit
        } finally { kept.unpersist(): Unit }
    }

  /** One micro-batch of streaming cluster-label maintenance — the
    * REGISTRY alternative to [[nearDupSink]]'s drop-on-ingest: instead
    * of discarding near-dups, every ingested doc gets a persistent
    * cluster label, so survivorship policy (keep-one, keep-best,
    * keep-all-with-weights) stays a downstream choice. Per batch:
    * near-dup edges form from the band-index probe (batch vs corpus)
    * plus intra-batch pairs, [[mergeComponents]] folds them into the
    * prior label snapshot (O(batch + labels) — star-forest inputs
    * converge in 1-2 rounds), and changed labels land as CDC upserts
    * (version = batchId) in a [[MergeLog]] at `labelDir`.
    *
    * Replay safety: the probe excludes the batch's own earlier band
    * rows (`sb` tag); if the previous attempt already committed its
    * label delta, re-merging the same edges into the already-merged
    * labels is a no-op (closure is idempotent), the recomputed delta is
    * empty, and `appendDelta` skips by batch id — so any crash point
    * replays to the same state. Returns the new full label snapshot.
    */
  def maintainClusterLabels(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, labelDir: String,
                            batch: DataFrame, id: Column, text: Column,
                            threshold: Double, batchId: Long,
                            buckets: Int = 64, shingleSize: Int = 3,
                            numHashes: Int = 16,
                            rowsPerBand: Int = 4): DataFrame = {
    val vsCorpus = probeLshBandIndex(spark, indexPath, batch, id, text,
        shingleSize = shingleSize, numHashes = numHashes,
        rowsPerBand = rowsPerBand, buckets = buckets,
        excludeBatch = if (batchId >= 0) Some(batchId) else None)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_batch").as("ea"), col("id_corpus").as("eb"))
    val intra = minhashPairs(batch, id, text, shingleSize = shingleSize,
        numHashes = numHashes, rowsPerBand = rowsPerBand)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a").as("ea"), col("id_b").as("eb"))
    val old = MergeLog.read(spark, labelDir, "id")
      .select(col("id"), col("comp"))
    val merged = mergeComponents(old, vsCorpus.unionAll(intra),
      col("ea"), col("eb"))
    val delta = merged.exceptAll(old)
      .withColumn("version", lit(batchId))
      .withColumn("deleted", lit(false))
    MergeLog.appendDelta(delta, labelDir, Some(batchId)): Unit
    appendLshBandIndex(batch, id, text, indexPath,
      shingleSize = shingleSize, numHashes = numHashes,
      rowsPerBand = rowsPerBand, buckets = buckets, srcBatch = batchId)
    merged
  }

  /** Streaming wrapper over [[maintainClusterLabels]]: initialize the
    * label log (`MergeLog.init` over a possibly-empty (id, comp)
    * snapshot) and the band index (`saveLshBandIndex`) first.
    */
  def clusterLabelSink(stream: DataFrame, idName: String, textName: String,
                       indexPath: String, labelDir: String,
                       threshold: Double, buckets: Int = 64,
                       shingleSize: Int = 3, numHashes: Int = 16,
                       rowsPerBand: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        maintainClusterLabels(batch.sparkSession, indexPath, labelDir,
          batch, col(idName), col(textName), threshold, batchId,
          buckets, shingleSize, numHashes, rowsPerBand): Unit
    }

  // ---------------------------------------------------------------------
  // Incremental dedup: new batch vs existing corpus (bloom pre-filter)
  // ---------------------------------------------------------------------

  /** Serialized Bloom filter over a corpus key column. Built with ONE
    * distributed pass (treeAggregate: per-partition filters merge up a
    * tree, never funneling through a single reducer), sized by the
    * caller's `expectedItems`/`fpp`. Keys insert as UTF-8 bytes, the
    * exact bytes [[graft.expressions.BloomMightContain]] probes.
    */
  def corpusBloom(corpus: DataFrame, key: String,
                  expectedItems: Long, fpp: Double): Array[Byte] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bloom = corpus.select(col(key).cast("string")).na.drop().as[String]
      .rdd.treeAggregate(
        org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp))(
        (f, s) => {
          f.putBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); f
        },
        (a, b) => { a.mergeInPlace(b); a })
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Persist a [[corpusBloom]] artifact — the "build it when the corpus
    * changes, reuse it for every batch" half of the lifecycle. Plain
    * bytes on any Path-addressable store.
    */
  def saveBloom(filterBytes: Array[Byte], path: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path), filterBytes): Unit
  }

  /** Load a previously saved [[corpusBloom]] artifact. */
  def loadBloom(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  /** Rows of `batch` whose `key` does NOT appear in `corpus` — exactly
    * `batch LEFT ANTI JOIN corpus ON key` (NULL-key rows are kept, as in
    * anti-join semantics and D2's null passthrough) — without shuffling
    * the batch against the full corpus.
    *
    * The 100 TB shape: a daily crawl batch is orders of magnitude
    * smaller than the accumulated corpus, and most of its keys are
    * genuinely new. A plain anti-join re-shuffles (at least the keys of)
    * the whole corpus every day. Instead the corpus's key set aggregates
    * ONCE into a Bloom filter ([[corpusBloom]] — a few GiB of bits for
    * billions of keys; build it when the corpus changes, reuse it for
    * every batch); the batch scan probes the filter per row:
    *  - probe says NO → definitely unseen (bloom filters have no false
    *    negatives): the row passes through with no join at all;
    *  - probe says MAYBE → true duplicates plus the filter's fpp share
    *    of innocents: only these few rows go through the exact anti-join
    *    against the corpus keys.
    * The result is therefore exact for ANY fpp — the filter only decides
    * how much work the exact check sees. (This is the lifecycle-owned
    * cousin of Spark's runtime bloom-filter join pruning, which won't
    * fire across jobs/days.)
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, key: String,
                       expectedItems: Long, fpp: Double = 0.01): DataFrame =
    incrementalDedup(batch, corpus, key,
      corpusBloom(corpus, key, expectedItems, fpp))

  /** [[incrementalDedup]] against a PREBUILT filter (from [[corpusBloom]]
    * now or [[loadBloom]] of a past run) — the steady-state daily-batch
    * call, paying zero corpus passes. The filter broadcasts once per
    * executor (not per task closure); `corpus` is only touched by the
    * exact anti-join over the maybe-seen sliver.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, key: String,
                       filterBytes: Array[Byte]): DataFrame = {
    val probe = graft.expressions.BloomMightContain(
      batch.sparkSession, filterBytes, col(key).cast("string"))
    val fresh = batch.filter(col(key).isNull || !probe)
    val confirmedNew = batch.filter(col(key).isNotNull && probe)
      .join(corpus.select(col(key)), Seq(key), "left_anti")
    fresh.unionByName(confirmedNew)
  }

  /** CDC merge — apply a change batch (upserts + tombstones) onto a
    * snapshot (beyond the reference; the corpus-maintenance twin of
    * [[incrementalDedup]]). `delta` carries the snapshot's data columns
    * plus a version column and a boolean tombstone column, possibly with
    * several versions per key; the result keeps, per key, the highest
    * delta version (dropped entirely when that version is a tombstone)
    * and passes every untouched snapshot row through as-is.
    *
    * Scale shape: the window that resolves competing delta versions
    * shuffles ONLY the delta, and the snapshot's single touch is a
    * left-anti join against the delta's key set — with a daily delta
    * orders of magnitude smaller than a 100 TB snapshot, AQE plans that
    * as a broadcast, so the snapshot streams through map-side with no
    * shuffle and no sort. Never `unionByName(snapshot, delta)` first and
    * window the whole thing — that re-sorts the full corpus to apply a
    * 0.1% change.
    *
    * NULL-key snapshot rows pass through (anti-join can't match them);
    * delta keys are assumed non-null (CDC contract) and (key, version)
    * unique, as in any log-compaction stream.
    */
  def mergeUpsert(snapshot: DataFrame, delta: DataFrame, key: String,
                  version: String = "version",
                  deleted: String = "deleted"): DataFrame = {
    val latest = dedupFirstWins(delta, col(key), col(version).desc)
    val untouched =
      snapshot.join(latest.select(col(key)), Seq(key), "left_anti")
    val applied = latest.filter(!col(deleted))
      .select(snapshot.columns.toIndexedSeq.map(col): _*)
    untouched.unionByName(applied)
  }

  /** hex char → 0..15 (portable: also expressible as strpos in SQL). */
  private def hexVal(c: Column): Column = conv(c, 16, 10).cast("int")

  /** SimHash (16-bit, md5-derived): token t contributes bits from the
    * first 4 hex chars of md5(t); fingerprint bit b is set iff
    * Σ_tokens (2·bitₜ(b) − 1) > 0. Deterministic + engine-independent.
    * Near-duplicate texts land at small Hamming distance.
    */
  def simhash16(text: Column): Column = {
    val toks = TextFunctions.tokenSet(text)
    // powers of two as exact literal lookups, not libm pow — every
    // arithmetic step stays integer/exact-double (the r11 libm sweep)
    val pow4 = typedLit(Seq(1, 2, 4, 8))
    val pow16 = typedLit((0 until 16).map(i => 1 << i))
    val bits = transform(sequence(lit(0), lit(15)), b => {
      val vote = aggregate(toks, lit(0), (acc, t) => {
        val hx = substring(md5(t), 1, 4).substr((b / lit(4)).cast("int") + 1, lit(1))
        val shift = lit(3) - pmod(b, lit(4))
        val bit = pmod((hexVal(hx) / element_at(pow4,
          (shift + 1).cast("int"))).cast("int"), lit(2))
        acc + (bit * 2 - 1)
      })
      when(vote > 0, element_at(pow16, (b + 1).cast("int")))
        .otherwise(lit(0))
    })
    aggregate(bits, lit(0), (acc, x) => acc + x)
  }

  /** Declarative twin of [[graft.expressions.SimHash64]] — spec-only
    * parity artifact (the native expression is the execution path).
    * The token set binds ONCE via letBound; each of the 64 per-bit
    * vote aggregates then captures the cheap bound variable, not the
    * tokenizer tree. Fingerprint assembles by bitwise OR of literal
    * powers, so no double-precision loss at high bits.
    */
  def simhash64(text: Column): Column =
    TextFunctions.letBound(TextFunctions.tokenSet(text)) { toks =>
      (0 until 64).map { b =>
        val vote = aggregate(toks, lit(0), (acc, t) => {
          val hx = substring(md5(t), b / 4 + 1, 1)
          val bit = pmod((hexVal(hx) / lit(1 << (3 - b % 4))).cast("int"),
            lit(2))
          acc + (bit * 2 - 1)
        })
        when(vote > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }

  /** SimHash near-dup candidate pairs at Hamming distance ≤ `maxDist`
    * over the 64-bit fingerprint ([[graft.expressions.SimHash64]] —
    * the production width; 16-bit blocking saturates once a corpus
    * outgrows 2¹⁶ and goes quadratic). Blocking is the pigeonhole
    * multi-index: the fingerprint splits into 4 sixteen-bit bands, and
    * two fingerprints within distance 3 must agree on at least one
    * whole band, so candidates only form inside a (band, value) bucket
    * — never all-pairs, and the bucket key space (4·2¹⁶) stays
    * selective at any corpus size. The exact `bit_count(xor)` then
    * verifies each candidate. Same scale shape as MinHash-LSH: bare
    * (id, fingerprint) longs ride the bucket self-join.
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4-band blocking is exact only for maxDist <= 3, got $maxDist")
    // lazily checkpointed for the same reason as minhashPairs (r16):
    // the band self-join broadcasts one side — no exchange, no reuse
    // point — so an unbound SimHash64 (tokenize + per-token hash, the
    // caller's dominant CPU) would compute once per join side.
    // NO Frames.fan (r17 A/B revert): loaded-window meds 2.08 s fanned
    // vs 1.53 s not (5 rounds, 16-spinner load), quiet overlapping
    // (1.29-1.67 vs 1.45-1.49) — unlike minhash sigRows (kept: d6
    // favors its fan in both windows), the single SimHash64 pass here
    // is cheap enough that the spread's task constants outweigh it.
    val sigs = df.select(id.cast("long").as("id"),
        graft.expressions.SimHash64(text).as("sh"))
      .localCheckpoint(eager = false)
    val bands = sigs.select(col("id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*))
        .as("bk"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sh").as("_sa"), col("y.sh").as("_sb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("_sa").bitwiseXOR(col("_sb"))).cast("int").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Edit-distance near-dup pairs over a SHORT string key (titles,
    * normalized URLs, author strings — never whole documents:
    * levenshtein is quadratic in string length, which is why the
    * fuzzy-dedup family uses token Jaccard/MinHash/SimHash for bodies
    * and reserves edit distance for the metadata fields where typos
    * and suffix noise live). Candidates form only inside a
    * lowercase-prefix block (`blockPrefix` chars), with a length
    * prefilter (|len_a − len_b| ≤ maxDist bounds edit distance from
    * below) ahead of the exact levenshtein verify.
    *
    * Recall contract, stated: a pair whose edits fall inside the first
    * `blockPrefix` characters is missed — prefix blocking is the
    * standard tradeoff for this operator (record-linkage practice);
    * pairs differing only in tail/middle edits (the common typo and
    * version-suffix cases) are found exactly. Scale shape: bare
    * (id, short-string) rows ride the block self-join; block sizes are
    * data-bounded like every blocking key here.
    */
  def editDistancePairs(df: DataFrame, id: Column, key: Column,
                        maxDist: Int, blockPrefix: Int = 8): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(blockPrefix >= 1, s"blockPrefix must be >= 1, got $blockPrefix")
    val t = df.select(id.cast("long").as("id"),
        lower(trim(key)).as("_t"))
      .withColumn("_bk", substring(col("_t"), 1, blockPrefix))
    t.as("x").join(t.as("y"),
        col("x._bk") === col("y._bk") && col("x.id") < col("y.id") &&
          abs(length(col("x._t")) - length(col("y._t"))) <= maxDist)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        levenshtein(col("x._t"), col("y._t")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Boilerplate line detection — the C4/RefinedWeb line-level dedup
    * signal: lines ("All rights reserved.", cookie banners, nav
    * footers) that recur across at least `minDocs` documents. Counting
    * is per-doc-distinct (a line repeated inside one doc is not
    * boilerplate) and whitespace-only lines never qualify.
    *
    * Scale shape: the count aggregates xxhash64 longs (map-side
    * combined — line strings never shuffle); only the ≥ minDocs sliver
    * joins back (broadcast) to pick up one representative string per
    * hash for the deterministic (count desc, line) order. The result
    * is driver-side by contract — boilerplate is a top-`maxLines` set,
    * like the eval-gram literal of tc1 — and feeds [[stripLines]] as a
    * sorted hash array.
    */
  def boilerplateLineHashes(df: DataFrame, text: Column, minDocs: Long,
                            maxLines: Int): Array[Long] = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(maxLines >= 1, s"maxLines must be >= 1, got $maxLines")
    def lines = df
      .select(explode(array_distinct(split(text, "\n"))).as("l"))
      .filter(trim(col("l")) =!= "")
    val hot = lines
      .groupBy(xxhash64(col("l")).as("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minDocs)
    lines
      .select(xxhash64(col("l")).as("h"), col("l"))
      .join(broadcast(hot), Seq("h"))
      .distinct()
      .orderBy(col("n").desc, col("l"))
      .limit(maxLines)
      .select(col("h"))
      .collect().map(_.getLong(0)).sorted
  }

  /** Strip boilerplate lines from a text column: split on newline, drop
    * lines whose hash is in `hashes`, rejoin. A pure scan-fused per-row
    * expression — the set ships as a literal (maxLines-bounded by the
    * [[boilerplateLineHashes]] contract), the corpus never shuffles,
    * and empty lines / paragraph structure pass through untouched.
    */
  def stripLines(text: Column, hashes: Array[Long]): Column = {
    val set = typedLit(hashes.toSeq)
    array_join(
      filter(split(text, "\n"), l => !array_contains(set, xxhash64(l))),
      "\n")
  }

  /** Cross-document repeated n-gram stats — the exact-substring-dedup
    * signal (Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better"): for each doc, how many of its distinct
    * token n-grams also occur in at least one OTHER document. High
    * shared fractions flag boilerplate and templated spam that
    * whole-doc dedup (D1-D4) misses.
    *
    * Scale shape: grams are xxhash64 longs (never strings), counted
    * with one map-side-combined aggregation; only grams with doc-count
    * ≥ 2 — a sliver of the corpus gram set — survive into the per-doc
    * re-join, which shuffles bare (id, gram) pairs. This is exactly
    * the Spark-sized stand-in for the suffix-array pass the paper runs
    * on one machine.
    *
    * Skew proofing: a stop-gram present in most documents would make
    * its hash the hottest key of the rejoin shuffle. The rejoin only
    * needs MEMBERSHIP, so the repeated set splits at `hotThreshold`:
    * grams in more docs than that — a stop-gram-sized set, bounded by
    * total-gram-occurrences / threshold — match through a BROADCAST
    * probe, which partitions nothing; every key left in the shuffled
    * branch has per-key multiplicity ≤ hotThreshold by construction.
    * Provably bounded reducers, no salting replication, any threshold
    * gives identical results (DedupSpec pins both extremes equal).
    *
    * Output: `id, n_grams, n_shared, shared_frac` (ANSI-guarded), one
    * row per doc including gram-less ones (0/0).
    */
  def repeatedGramStats(df: DataFrame, id: Column, text: Column,
                        n: Int, hotThreshold: Long = 100000L): DataFrame = {
    require(hotThreshold >= 1, s"hotThreshold must be >= 1, got $hotThreshold")
    val grams = df
      .select(id.as("id"), graft.functions.TextAnalysis.tokens(text).as("_toks"))
      .select(col("id"),
        explode_outer(Decontam.tokenNgramHashesFromTokens(col("_toks"), n))
          .as("gram"))
    val repeated = grams
      .filter(col("gram").isNotNull)
      .groupBy(col("gram")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
    val cold = repeated.filter(col("ndocs") <= hotThreshold)
      .select(col("gram"), lit(1).as("_cold"))
    val hot = repeated.filter(col("ndocs") > hotThreshold)
      .select(col("gram"), lit(1).as("_hot"))
    grams
      .join(cold, Seq("gram"), "left")
      .join(broadcast(hot), Seq("gram"), "left")
      .groupBy(col("id"))
      .agg(count(col("gram")).as("n_grams"),
        count(coalesce(col("_cold"), col("_hot"))).as("n_shared"))
      .select(col("id"), col("n_grams"), col("n_shared"),
        when(col("n_grams") > 0,
          col("n_shared").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("shared_frac"))
  }

  /** Positional twin of Decontam.tokenNgramHashesFromTokens: hash of
    * the n-gram STARTING at each token index, in order, NOT distinct —
    * index i of the result is start position i. Same capture caveat:
    * `toks` must be a bound attribute, not an inline tokenizer tree.
    */
  def tokenNgramHashPositions(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<long>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => xxhash64(slice(toks, i, lit(n)))))

  /** Exact-substring span scrubbing (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" — the REMOVAL step
    * whose detection signal is [[repeatedGramStats]]): for every
    * n-token gram appearing in ≥ `minDocs` distinct docs, keep the
    * occurrences in ONE canonical doc (the smallest doc id containing
    * the gram) and remove the covered token spans everywhere else.
    * Returns `(id, n_tok, n_removed, scrubbed)` — every input row, with
    * `scrubbed` the surviving tokens rejoined by single spaces.
    *
    * Scale shape, mirroring d12: grams travel as xxhash64 longs with
    * their start position (never gram strings); doc-frequency + keeper
    * come from one partial-aggregated pass over per-doc-distinct
    * (gram, id) pairs; only the ≥ minDocs sliver rejoins, split
    * hot/cold on `hotThreshold` so no shuffled key exceeds bounded
    * multiplicity (hot grams broadcast). Per-doc hit positions collapse
    * to one sorted int array — the only per-doc state — and the span
    * mask is a scan-fused nested HOF over (token index, hit starts).
    * The corpus tokenizes twice (occurrence pass + rewrite pass), the
    * same accepted trade as g2's probe branch: a cache of the token
    * arrays costs more than the narrow re-scan.
    *
    * Known artifact (shared with Lee et al.): cutting a span joins the
    * tokens on either side, which can CREATE a new n-gram that was not
    * in the original text; a second pass converges in practice but is
    * not run here — one pass is the published semantics.
    */
  def scrubRepeatedSpans(df: DataFrame, id: Column, text: Column,
                         n: Int, minDocs: Long = 2L,
                         hotThreshold: Long = 100000L): DataFrame = {
    require(n >= 1 && minDocs >= 2,
      s"need n >= 1 and minDocs >= 2, got n=$n minDocs=$minDocs")
    def base(d: DataFrame) = d
      .select(id.cast("long").as("id"), text.as("_text"))
      .select(col("id"), col("_text"),
        graft.functions.TextAnalysis.tokens(col("_text")).as("_toks"))
    val occ = base(df)
      .select(col("id"),
        posexplode(tokenNgramHashPositions(col("_toks"), n)))
      .withColumnRenamed("col", "gram")
    val stats = occ.select(col("id"), col("gram")).distinct()
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("ndocs"), min(col("id")).as("keeper"))
      .filter(col("ndocs") >= minDocs)
    val cold = stats.filter(col("ndocs") <= hotThreshold)
      .select(col("gram"), col("keeper").as("_kc"))
    val hot = stats.filter(col("ndocs") > hotThreshold)
      .select(col("gram"), col("keeper").as("_kh"))
    val hits = occ
      .join(cold, Seq("gram"), "left")
      .join(broadcast(hot), Seq("gram"), "left")
      .withColumn("_keeper", coalesce(col("_kc"), col("_kh")))
      .where(col("_keeper").isNotNull && col("id") =!= col("_keeper"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("_hits"))
    base(df)
      .join(hits, Seq("id"), "left")
      .withColumn("_h", coalesce(col("_hits"), array().cast("array<int>")))
      .select(col("id"), size(col("_toks")).as("n_tok"),
        filter(col("_toks"), (tk, j) =>
          !exists(col("_h"), p => p <= j && j < p + lit(n))).as("_kept"))
      .select(col("id"), col("n_tok").cast("long").as("n_tok"),
        (col("n_tok") - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("scrubbed"))
  }

  // ---------------------------------------------------------------------
  // Duplicate-cluster closure: pairs → components (beyond the reference)
  // ---------------------------------------------------------------------

  /** Connected components over an undirected edge list — the closure
    * step every near-dup pipeline needs after pair generation
    * ([[minhashPairs]]/[[jaccardPairs]] emit PAIRS; keep-one-per-group
    * survivorship needs CLUSTERS, since near-dup is not transitive:
    * A~B and B~C pairs must collapse A,B,C together even when A~C was
    * never a candidate).
    *
    * Algorithm: alternating large-star / small-star rounds (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the scale answer. Each round is two hash shuffles (a groupBy for
    * per-node minima and a co-partitioned rejoin); convergence is
    * O(log²) rounds on pathological chains, 2–3 rounds on the dense
    * clusters dup graphs actually produce — NOT O(diameter) like naive
    * label propagation, so a million-doc chain of pairwise near-dups
    * cannot degenerate into a million rounds. The edge set only ever
    * shrinks toward a star forest, and each round's frame is
    * `localCheckpoint`ed so lineage stays flat across iterations.
    * Per-round driver traffic is one (count, hash-sum) row — the
    * fixpoint test — regardless of graph size.
    *
    * Input rows are (a, b) long pairs in either orientation, dups and
    * self-loops tolerated (self-loops are dropped — a node with only a
    * self edge is a singleton). Output: one `(id, comp)` row per node
    * that appears in any proper edge, where `comp` is the smallest node
    * id in the component (the conventional canonical label —
    * deterministic, so oracle-checkable). Singletons are absent: the
    * caller left-joins and coalesces to the node's own id.
    */
  def connectedComponents(edges: DataFrame, a: Column, b: Column,
                          maxRounds: Int = 128): DataFrame = {
    // 128 covers the O(log²) worst case with slack at any realistic
    // graph size (practice is 2-5 rounds); exhaustion fails loudly
    // below rather than returning partial labels.
    // canonical (u > v) undirected representation, self-loops dropped
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    // LAZY checkpoints throughout: the fixpoint-signature action below
    // doubles as the materializing job, so each round costs one Spark
    // job, not a checkpoint job plus a signature job
    var e = canon(edges.select(a.cast("long").as("u"), b.cast("long").as("v")))
      .localCheckpoint(eager = false)
    // fixpoint signature: order-independent (count, hash-sum) — one tiny
    // row to the driver per round, never the edge set itself
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = sig(e)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star: every node links its larger neighbors to the
      // smallest member of its closed neighborhood
      val nbrs = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      val large = canon(nbrs.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star: every node links its smaller neighbors (and itself)
      // to the smallest of them — e is already (u > v) oriented
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = canon(
        large.join(smins, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .unionAll(smins.select(col("u"), col("m").as("v"))))
        .localCheckpoint(eager = false)
      val cur = sig(small)
      converged = cur == prev
      prev = cur
      // sig() materialized `small`'s checkpoint, so the previous
      // round's frame is now unreachable — free its blocks instead of
      // letting every round's edge set sit in executor storage for the
      // life of the session (the r12 bench-contamination leak).
      graft.Frames.free(e)
      e = small
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // star forest: children point at the root; roots label themselves
    e.select(col("u").as("id"), col("v").as("comp"))
      .unionAll(e.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Incremental component maintenance — the O(batch + labels) path
    * for a daily near-dup pipeline where re-closing the full historic
    * pair graph would re-iterate over everything: feed the PRIOR label
    * set (a star forest, which preserves exactly the connectivity of
    * the edges it summarized) plus the new batch's pairs back through
    * [[connectedComponents]]. Star inputs converge in 1–2 rounds, and
    * the result equals a full recompute over (old ∪ new) edges —
    * pinned in DedupSpec. Labels stay canonical (component min), so
    * repeated maintenance composes.
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
                      a: Column, b: Column): DataFrame =
    connectedComponents(
      labels.select(col("id").as("u"), col("comp").as("v"))
        .unionAll(newEdges.select(a.cast("long").as("u"),
          b.cast("long").as("v"))),
      col("u"), col("v"))

  /** Per-row duplicate-cluster labels: run [[minhashPairs]], keep pairs
    * with estimated Jaccard ≥ `threshold`, close them into components,
    * and label EVERY input row — singletons label themselves. Output
    * adds `cluster_id` (smallest doc id in the near-dup cluster),
    * `cluster_size`, and `kept` (true for the one canonical row per
    * cluster — filter on it for SlimPajama-style keep-one dedup).
    *
    * Scale shape: the pair graph is tiny relative to the corpus (only
    * bucket-colliding docs appear), the CC loop touches edges only, and
    * the corpus-side cost is one hash join on id plus one count
    * aggregate over the label column. The corpus text never shuffles.
    */
  def dupClusters(df: DataFrame, id: Column, text: Column,
                  threshold: Double,
                  shingleSize: Int = 3, numHashes: Int = 16,
                  rowsPerBand: Int = 4): DataFrame = {
    val pairs = minhashPairs(df, id, text, shingleSize, numHashes, rowsPerBand)
      .where(col("est_jaccard") >= threshold)
    clusterByPairs(df, id, pairs)
  }

  /** [[dupClusters]]' labeling tail over an ALREADY-built near-dup pair
    * set: component closure, min-id canonical label, sizes, keep flag. */
  private[graft] def clusterByPairs(df: DataFrame, id: Column,
                                    pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs, col("id_a"), col("id_b"))
      .select(col("id").as("_cc_id"), col("comp").as("_cc_comp"))
    val labeled = df.withColumn("_id", id.cast("long"))
      .join(labels, col("_id") === col("_cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("_cc_comp"), col("_id")))
      .drop("_cc_id", "_cc_comp")
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .withColumn("kept", col("_id") === col("cluster_id"))
      .drop("_id")
  }
}
