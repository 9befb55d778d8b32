package graft.operators

import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** RAG pipeline operators — SURVEY.md §2.9 V2/V4/V5, re-expressing
  * RAG/rag.ipynb's vector store, context assembly and automatic answer
  * metrics.
  */
object Rag {

  /** V2 — vector-store build: the document projection that pairs the
    * embedding text (T20 template) with its metadata and embedding
    * column; persisted as parquet it IS the store (rag.ipynb:446-486 —
    * an in-memory matrix there, a columnar table here).
    */
  def buildStore(docs: DataFrame, id: Column, title: Column, authors: Column,
                 abstractC: Column, embedding: Column): DataFrame =
    docs.select(
      id.as("paper_id"),
      TF.embeddingText(title, authors, abstractC).as("doc_text"),
      title.as("title"),
      embedding.as("embedding"))

  /** V4 — context assembly over the collected top-k rows (k is small by
    * contract; this is the one legitimately driver-side step). Rows must
    * provide (rank, title, doc_text, cosine). Ref: rag.ipynb:720-733.
    */
  def assembleContext(topK: Seq[Row]): String =
    topK.map { r =>
      f"[${r.getAs[Int]("rank")}] (sim ${r.getAs[Double]("cosine")}%.3f) " +
        s"${r.getAs[String]("title")}\n${r.getAs[String]("doc_text")}"
    }.mkString("\n\n")

  /** V4 at serving scale — context assembly as a GROUPED COLUMN, the
    * distributed twin of [[assembleContext]] (which is driver-side by
    * contract: ONE query's k rows). Input: one row per (query,
    * candidate) with (query_id, rank, cosine, title, doc_text).
    *
    * The 3-decimal similarity renders from integer milli-units
    * (`floor(cos·10³+½)` — the fround contract), so the digits are
    * byte-identical cross-engine and agree with [[assembleContext]]'s
    * Java `%.3f` (HALF_UP) whenever the cosine sits on the milli grid
    * (AssembleSpec pins the parity). Entries order by rank INSIDE the
    * aggregate via `array_sort` over (rank, entry) structs —
    * `collect_list` order is partition-dependent; the in-row sort
    * restores determinism without a global sort.
    *
    * Scale shape: one shuffle on query_id with ≤ k rows per group — a
    * billion queries assemble embarrassingly parallel, and the corpus
    * is never touched (callers join titles/texts from the top-k's own
    * bounded candidate rows).
    *
    * Returns (query_id, n_ctx, context).
    */
  def assembleContexts(topK: DataFrame): DataFrame =
    topK
      .withColumn("_smu",
        floor(col("cosine") * lit(1000.0) + lit(0.5)).cast("long"))
      .withColumn("_entry", concat(
        lit("["), col("rank").cast("string"), lit("] (sim "),
        when(col("_smu") < 0, lit("-")).otherwise(lit("")),
        expr("abs(_smu) div 1000").cast("string"), lit("."),
        lpad(expr("abs(_smu) % 1000").cast("string"), 3, "0"),
        lit(") "), col("title"), lit("\n"), col("doc_text")))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_ctx"),
        array_join(transform(
          array_sort(collect_list(struct(col("rank"), col("_entry")))),
          e => e.getField("_entry")), "\n\n").as("context"))

  /** Okapi BM25 lexical retrieval — the sparse complement to the dense
    * cosine family (§2.9 V3*). The reference retrieves by embedding
    * similarity only (RAG/rag.ipynb:488-530); production RAG almost
    * always pairs that with a lexical leg, so this is the
    * beyond-reference seat of keyword search.
    *
    * Scale shape: the query vocabulary is a LITERAL `isin` filter fused
    * into the token explode, so only postings that match some query term
    * ever shuffle — corpus text is scanned once and never moves. Global
    * stats (N, avgdl) are a 1-row broadcast; per-term document
    * frequencies come from the matched-postings sliver (≤ |vocab| rows,
    * broadcast); the query list itself is a broadcast literal table.
    * The one data-sized shuffle is the (doc, term) tf combine, bounded
    * by matched postings — exactly the inverted-index probe cost.
    *
    * Returns (query_id, doc_id, score) with the raw double score;
    * callers round + rank (rounding first keeps cross-engine rank ties
    * deterministic).
    */
  def bm25(docs: DataFrame, id: Column, text: Column,
           queries: Seq[(Int, Seq[String])],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = queries.flatMap(_._2).distinct
    val base = docs.select(id.as("doc_id"), TA.tokens(text).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    // One corpus pass for N/avgdl, one for postings: sharing them in a
    // single cached scan would force the full token array through the
    // stats aggregate; two columnar scans are cheaper at any scale.
    val stats = base.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = postings.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val q = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    scoreBm25(postings, dfreq, q, stats, k1, b)
  }

  /** The shared Okapi scoring tail: postings ⨝ broadcast df ⨝ broadcast
    * query terms × broadcast 1-row stats → per-(query, doc) Σw. Both the
    * direct [[bm25]] and the indexed [[bm25Indexed]] paths end here, so
    * their scores are computed by the IDENTICAL expression tree (the
    * index round trip must be bit-lossless).
    */
  private def scoreBm25(postings: DataFrame, dfreq: DataFrame, q: DataFrame,
                        stats: DataFrame, k1: Double, b: Double): DataFrame = {
    // ORDER-EXACT scoring (the r11 x5 discipline): the idf
    // ln(1 + (N−df+½)/(df+½)) = ln((N+1)/(df+½)) computes as
    // detln(2N+2) − detln(2df+1) — integer arguments, libm-free,
    // bit-identical on any IEEE engine — and each term weight
    // quantizes onto the integer 2⁻²⁰ grid, so the per-(query, doc)
    // sum is exact BIGINT arithmetic in any order; one final divide
    // restores the score scale.
    import graft.expressions.DetLn
    val idf = DetLn(lit(2L) * col("n_docs") + lit(2L)) -
      DetLn(lit(2L) * col("df") + lit(1L))
    postings
      .join(broadcast(dfreq), "term")
      .join(broadcast(q), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        floor((idf *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))) *
          lit(Classify.WeightGrid) + lit(0.5))
          .as("wi"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg((sum(col("wi")).cast("double") / lit(Classify.WeightGrid))
        .as("score"))
  }

  /** Directory bucket of a term — the hive partition column of the
    * persisted inverted index (Dedup.bandBucket's md5 recipe, so the
    * probe can reconstruct it engine-side).
    */
  private def termBucket(term: Column, buckets: Int): Column =
    Dedup.bandBucket(term, buckets)

  // read schemas carry BOTH partition columns (seg from the commit
  // discipline, tp from the term bucketing) — reads pass basePath so
  // the per-segment roots parse as one partitioned table
  private val postingsSchema = org.apache.spark.sql.types.StructType
    .fromDDL("doc_id LONG, term STRING, tf LONG, dl LONG, tp BIGINT, seg BIGINT")
  private val statsSchema = org.apache.spark.sql.types.StructType
    .fromDDL("src LONG, n_docs LONG, sum_dl LONG, seg BIGINT")

  /** Persist a BM25 inverted index — the lexical seat of the engine's
    * build-once/probe-many lifecycle family (d9 bloom, v11 IVF, d15 LSH
    * bands). Layout under `path`:
    *   `meta/`                 — the bucket count, one committed text
    *     file ([[SegmentFs.writeSmallFile]]): the index is
    *     SELF-DESCRIBING, probes read the bucket count here (a probe
    *     guessing a different count would silently prune to the wrong
    *     partitions — the saveIvfIndex centroid precedent);
    *   `postings/seg=K/tp=N/`  — (doc_id, term, tf, dl) via the sized
    *     sink (hot term buckets still write in parallel, no small-file
    *     spray; dl is denormalized per posting, the Lucene "norms"
    *     trade: one long per posting buys a join-free probe);
    *   `stats/seg=K/`          — one (n_docs, sum_dl) row per segment;
    *   `commits/k=K/`, `hwm/`  — commit markers and the water line of
    *     [[SegmentFs.Segments]]: a crash between the two data writes
    *     leaves an invisible torn segment, never an inconsistent index.
    * No df is stored: the probe counts the query terms' postings in its
    * pruned read. Probe IO is therefore ∝ touched-buckets/buckets of the
    * index and the corpus text is never re-scanned.
    *
    * Every stored quantity is ADDITIVE (postings union across segments
    * when batches carry disjoint doc ids; n_docs and Σdl sum
    * unconditionally — the CountLog law), so [[appendBm25Index]] grows
    * the index in O(batch): corpus-sized files never rewrite and the
    * probe folds segments with a count and a sum. Stats persist as
    * (n_docs, sum_dl), not avgdl — the average is not additive, the
    * pair is; the probe derives avgdl = sum_dl/n_docs, which equals
    * the direct path's `avg(dl)` exactly while Σdl < 2^53 (Spark's
    * Average accumulates integral input in a double sum — token counts
    * reach 2^53 at ~9e15 tokens, far past any real corpus).
    */
  def saveBm25Index(docs: DataFrame, id: Column, text: Column, path: String,
                    buckets: Int = 64, targetRows: Long = 1L << 20,
                    spread: Int = 8): Unit = {
    val spark = docs.sparkSession
    // meta is ONE integer: a small committed text file,
    // written and read through the FS API with no Spark job
    if (!SegmentFs.writeSmallFile(spark, s"$path/meta", "buckets",
        buckets.toString))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$path/meta")
    segments(spark, path).commit(0L)(
      writeBm25Data(docs, id, text, path, buckets, targetRows, spread, 0L))
  }

  /** O(batch) growth of a saved BM25 index: the batch's postings and
    * stats rows land as segment `seg=K` (K = `batchId` or the next id);
    * the probe's segment fold (count postings per term, sum the stats
    * pair) makes the result identical to a from-scratch rebuild over
    * the union. Replays follow [[SegmentFs.Segments.append]]: a
    * committed or folded batch id is a no-op and a torn attempt is
    * rewritten, so at-least-once pipelines can retry blindly. Batch
    * ids must be MONOTONE per index (the foreachBatch contract).
    * Batches must carry doc ids DISJOINT from other BATCHES (a doc
    * resent under a different batch id double-counts its tf/df/Σdl —
    * spec-pinned); the bucket count comes from the index's own meta,
    * never the caller.
    */
  def appendBm25Index(docs: DataFrame, id: Column, text: Column,
                      path: String, targetRows: Long = 1L << 20,
                      spread: Int = 8, batchId: Option[Long] = None): Long = {
    val spark = docs.sparkSession
    val buckets = readMetaBuckets(spark, path)
    segments(spark, path).append(batchId, minId = 1L)(
      writeBm25Data(docs, id, text, path, buckets, targetRows, spread, _))
  }

  /** The BM25 segment index at `path`: segment K spans two dirs. */
  private def segments(spark: org.apache.spark.sql.SparkSession,
                       path: String) =
    new SegmentFs.Segments(spark, path,
      k => Seq("postings", "stats").map(d => s"$path/$d/seg=$k"))

  /** Fold every committed BM25 segment ≤ `upTo` into ONE merged
    * segment — the IVF/band-index compaction for the lexical index.
    * The additive quantities make the fold subtler than a row move:
    * postings de-duplicate by (doc_id, term) (identical rows — the
    * disjoint-batches contract; duplicates only exist after a crashed
    * retirement), and stats rows dedup by their `src` provenance tag
    * and carry through unchanged (n_docs/Σdl cover zero-token docs
    * postings can't see). Merged generations take
    * NEGATIVE ids (−1, −2, …; the base build is 0, appends ≥ 1). In the
    * protocol's window where folded rows are visible twice, rerunning
    * the compaction heals (both folds are provenance-exact);
    * fold only batches the appending stream's checkpoint has passed.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String, upTo: Long,
                       targetRows: Long = 1L << 20,
                       spread: Int = 8): Option[Long] =
    segments(spark, path).compact(upTo, baseSeg = 0L) { (fold, gen) =>
      val postings = spark.read.schema(postingsSchema)
        .option("basePath", s"$path/postings")
        .parquet(fold.map(k => s"$path/postings/seg=$k"): _*)
        .drop("seg").dropDuplicates("doc_id", "term")
      val stats = spark.read.schema(statsSchema)
        .option("basePath", s"$path/stats")
        .parquet(fold.map(k => s"$path/stats/seg=$k"): _*)
        // stats rows persisted before the src column existed read back
        // src = NULL under the forced schema; dedup-by-NULL would
        // collapse them all into one row and silently undercount
        // n_docs/Σdl. A src-less row can only live in the segment it
        // was originally written to (every compaction stamps src), so
        // its seg id IS its provenance — backfill it.
        .withColumn("src", coalesce(col("src"), col("seg")))
        .dropDuplicates("src").select(col("src"), col("n_docs"),
          col("sum_dl"))
      writeSegment(path, gen, postings, stats, targetRows, spread)
    }

  private def readMetaBuckets(spark: org.apache.spark.sql.SparkSession,
                              path: String): Int =
    SegmentFs.readSmallFile(spark, s"$path/meta", "buckets").trim.toInt

  private def writeBm25Data(docs: DataFrame, id: Column, text: Column,
                            path: String, buckets: Int, targetRows: Long,
                            spread: Int, seg: Long): Unit = {
    val base = docs.select(id.cast("long").as("doc_id"),
        TA.tokens(text).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).cast("long").as("dl"))
      .withColumn("tp", termBucket(col("term"), buckets))
    val stats = base.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).cast("long").as("sum_dl"))
      // src = the ORIGINAL segment id, carried through compactions so
      // a re-run after a crashed retirement can dedup stats rows by
      // provenance instead of double-counting
      .select(lit(seg).as("src"), col("n_docs"), col("sum_dl"))
    writeSegment(path, seg, postings, stats, targetRows, spread)
  }

  /** Segment `seg`'s postings and stats writes, side by side: overlap
    * awaits both and rethrows either failure, so the caller's commit
    * marker lands only after both finished. */
  private def writeSegment(path: String, seg: Long, postings: DataFrame,
                           stats: DataFrame, targetRows: Long,
                           spread: Int): Unit =
    graft.Frames.overlap(graft.sources.Compaction.writeSized(
      postings, s"$path/postings/seg=$seg", Seq("tp"), col("doc_id"),
      targetRows, spread, "errorifexists"))(
      stats.coalesce(1).write.mode("errorifexists")
        .parquet(s"$path/stats/seg=$seg")): Unit

  /** Probe a saved BM25 index: the query vocabulary's term buckets
    * (count read from the index's own meta) become literal partition
    * filters on the postings read (PartitionFilters — IO ∝ touched
    * buckets), the terms themselves a literal pushed filter inside each
    * bucket; df is that sliver's posting count per term, and scoring is
    * the exact [[bm25]] expression tree over it. Only COMMITTED
    * segments are read, so a concurrent torn append is invisible.
    * Scores equal the direct path's bit-for-bit.
    */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: Seq[(Int, Seq[String])],
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val buckets = readMetaBuckets(spark, path)
    val segs = segments(spark, path).committed
    require(segs.nonEmpty, s"no committed BM25 segments under $path")
    val vocab = queries.flatMap(_._2).distinct
    // Reconstruct the touched buckets engine-side (tiny local job — the
    // md5 bucket recipe stays in ONE place, Dedup.bandBucket).
    val tps = vocab.toDF("term")
      .select(termBucket(col("term"), buckets)).distinct()
      .collect().map(_.getLong(0)).sorted
    val postings = spark.read.schema(postingsSchema)
      .option("basePath", s"$path/postings")
      .parquet(segs.map(k => s"$path/postings/seg=$k"): _*)
      .where(col("tp").isin(tps: _*)).where(col("term").isin(vocab: _*))
    // Segment folds: postings are unique by (doc_id, term) per segment
    // and batches are disjoint, so a term's posting count is its df (the
    // direct path's countDistinct); the (n_docs, Σdl) pair sums.
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = spark.read.schema(statsSchema)
      .option("basePath", s"$path/stats")
      .parquet(segs.map(k => s"$path/stats/seg=$k"): _*)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val q = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    scoreBm25(postings.select(col("doc_id"), col("term"), col("tf"),
        col("dl")), dfreq, q, stats, k1, b)
  }

  /** Reciprocal-rank fusion (Cormack et al.): fuse any number of ranked
    * candidate lists into one ranking, `rrf = Σ 1/(k + rank)`. Inputs
    * are (query_id, doc_id, rank) frames — each typically a top-n
    * truncation, so the union is (n · lists · queries) rows: tiny
    * relative to the corpus no matter the corpus size. Union + sum
    * (not an n-way outer join) keeps the plan one combine regardless of
    * how many legs are fused; a doc absent from a leg simply
    * contributes nothing, which IS the RRF contract.
    */
  def rrfFuse(ranked: Seq[DataFrame], k: Int = 60): DataFrame =
    ranked
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(lit(1.0) / (lit(k) + col("rank"))).as("rrf"))

  /** Two-stage retrieval: the first-stage candidate list (lexical,
    * dense, or hybrid top-k) reranks through an injectable
    * cross-encoder client. External model serving is orchestration, not
    * a row expression — so the client is a trait called through
    * `mapPartitions` with ONE call per `batchSize` pairs (the Embed /
    * Enrich harness shape), and the economics are the point: the
    * expensive scorer sees ONLY queries×k candidate rows, never the
    * corpus. [[OverlapRerankClient]] is the deterministic stand-in that
    * makes the stage oracle-checkable (and the spec fixture); a real
    * cross-encoder endpoint drops in behind the same trait.
    */
  trait RerankClient extends Serializable {
    /** One relevance score per (query, doc) text pair, batched. */
    def score(pairs: Seq[(String, String)]): Seq[Double]
  }

  /** Deterministic mock cross-encoder: the fraction of the query's
    * distinct terms present in the doc's token set (the T13 overlap
    * semantic over TA.jvmTokens — same tokenizer as the engine side,
    * so the DuckDB twin reproduces it from `sqlTokens`).
    */
  final class OverlapRerankClient extends RerankClient {
    def score(pairs: Seq[(String, String)]): Seq[Double] =
      pairs.map { case (q, d) =>
        val qs = TA.jvmTokens(q).distinct
        if (qs.isEmpty) 0.0
        else {
          val ds = TA.jvmTokens(d).toSet
          qs.count(ds).toDouble / qs.length
        }
      }
  }

  /** Append `ce_score` (double) to the candidate frame by scoring
    * (query, doc) text pairs through `client`, batched per partition.
    * Rows where either text is null skip the client and score null.
    */
  def rerank(cands: DataFrame, query: Column, text: Column,
             client: RerankClient, batchSize: Int = 32): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val withPair = cands
      .withColumn("__rr_q", query).withColumn("__rr_d", text)
    val outSchema = StructType(withPair.schema.fields :+
      StructField("ce_score", DoubleType))
    withPair.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val pairs = batch.collect {
          case r if !r.isNullAt(r.fieldIndex("__rr_q")) &&
                    !r.isNullAt(r.fieldIndex("__rr_d")) =>
            (r.getAs[String]("__rr_q"), r.getAs[String]("__rr_d"))
        }
        val scores = if (pairs.isEmpty) Seq.empty else client.score(pairs)
        require(scores.length == pairs.length,
          s"client returned ${scores.length} scores for ${pairs.length} pairs")
        val it = scores.iterator
        batch.map { r =>
          val s: Any =
            if (r.isNullAt(r.fieldIndex("__rr_q")) ||
                r.isNullAt(r.fieldIndex("__rr_d"))) null
            else it.next()
          Row.fromSeq(r.toSeq :+ s)
        }
      }
    }(Encoders.row(outSchema)).drop("__rr_q", "__rr_d")
  }

  /** V5 — automatic answer metrics as pure columns: length/word counts,
    * question-keyword overlap, citation usage, and the weighted auto
    * score (rag.ipynb:770-880). `round4`-stable across engines.
    */
  def autoMetrics(question: Column, answer: Column): Column = {
    val words = TF.wordCount(answer)
    val overlap = TF.keywordOverlap(question, answer)
    val citations = size(TF.citationMatches(answer))
    val score =
      least(lit(1.0), words.cast("double") / 50.0) * 0.3 +
        least(lit(1.0), overlap.cast("double") / 5.0) * 0.4 +
        when(citations > 0, 1.0).otherwise(0.5) * 0.3
    struct(
      length(answer).as("answer_chars"),
      words.as("answer_words"),
      overlap.as("keyword_overlap"),
      citations.as("n_citations"),
      (floor(score * 10000.0 + 0.5) / 10000.0).as("auto_score"))
  }
}
