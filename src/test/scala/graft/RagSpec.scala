package graft

import graft.operators.{Rag, Similarity}
import org.apache.spark.sql.functions._

class RagSpec extends SparkSpec {
  import spark.implicits._

  test("buildStore pairs embedding text with metadata and vector") {
    val docs = Seq(
      (1L, "Attention Is All You Need", Seq("V", "S"), "We propose the Transformer.",
        Seq(1.0f, 0.0f))).toDF("id", "title", "authors", "abs", "emb")
    val store = Rag.buildStore(docs, $"id", $"title", $"authors", $"abs", $"emb")
    assert(store.columns.toSeq ==
      Seq("paper_id", "doc_text", "title", "embedding"))
    val r = rows(store).head
    assert(r.getAs[String]("doc_text") ==
      "Paper Title: Attention Is All You Need\nAuthors: V, S\nAbstract: We propose the Transformer.")
  }

  test("end-to-end retrieval: store -> topK -> context assembly") {
    val docs = Seq(
      (1L, "Doc A", Seq("X"), "about spark joins", Seq(1.0f, 0.0f)),
      (2L, "Doc B", Seq("Y"), "about cooking pasta", Seq(0.0f, 1.0f))
    ).toDF("id", "title", "authors", "abs", "emb")
    val store = Rag.buildStore(docs, $"id", $"title", $"authors", $"abs", $"emb")
    val queries = Seq((7L, Seq(0.9f, 0.1f))).toDF("qid", "qv")
    val hits = Similarity.topKPerQuery(
        store, $"paper_id", $"embedding", queries, $"qid", $"qv", k = 2)
      .join(store.select($"paper_id".as("doc_id"), $"title", $"doc_text"), "doc_id")
      .orderBy($"rank")
    val ctx = Rag.assembleContext(rows(hits))
    assert(ctx.startsWith("[1] (sim 0.99")) // Doc A leads
    assert(ctx.contains("Doc A") && ctx.contains("Doc B"))
    assert(ctx.indexOf("Doc A") < ctx.indexOf("Doc B"))
  }

  test("assembleContexts == driver-side assembleContext; entries rank-sorted in-row") {
    // cosines on exact dyadic milli-grid points (no rounding ties), so
    // the distributed integer-milli rendering and assembleContext's
    // Java %.3f agree byte-for-byte
    val topk = Seq(
      (7L, 2, 0.25, "Doc B", "text b"),
      (7L, 1, 0.875, "Doc A", "text a"),
      (7L, 3, -0.125, "Doc C", "text c"),
      (9L, 1, 1.0, "Doc D", "text d")
    ).toDF("query_id", "rank", "cosine", "title", "doc_text")
      .repartition(5)
    val got = rows(Rag.assembleContexts(topk).orderBy($"query_id"))
    assert(got.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((7L, 3L), (9L, 1L)))
    val drv7 = Rag.assembleContext(rows(
      topk.filter($"query_id" === 7).orderBy($"rank")))
    assert(got.head.getAs[String]("context") == drv7)
    assert(got(1).getAs[String]("context") == "[1] (sim 1.000) Doc D\ntext d")
  }

  test("autoMetrics computes counts, overlap, citations and bounded score") {
    val df = Seq(
      ("what is attention", "attention mechanisms [1] let models focus; see [2,3]"),
      ("unrelated", "")).toDF("q", "a")
    val got = rows(df.select(Rag.autoMetrics($"q", $"a").as("m")).select("m.*"))
    val r = got.head
    assert(r.getAs[Int]("keyword_overlap") == 1) // "attention"
    assert(r.getAs[Int]("n_citations") == 2)     // [1] and [2,3]
    val s = r.getAs[Double]("auto_score")
    assert(s > 0.0 && s <= 1.0)
    val empty = got(1)
    assert(empty.getAs[Int]("answer_words") == 0)
    assert(empty.getAs[Double]("auto_score") == 0.15) // only the 0.5*0.3 term
  }

  test("bm25 matches the Okapi formula on a hand-computed corpus") {
    val docs = Seq(
      (1L, "a b a c"), // dl 4, tf(a)=2, tf(b)=1
      (2L, "a d"),     // dl 2
      (3L, "b b b")    // dl 3
    ).toDF("doc_id", "text")
    val queries = Seq(0 -> Seq("a"), 1 -> Seq("b", "d"))
    val got = rows(
      Rag.bm25(docs, $"doc_id", $"text", queries)
        .orderBy($"query_id", $"doc_id"))
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    val (k1, b, n, avgdl) = (1.2, 0.75, 3.0, 3.0)
    def w(tf: Long, df: Long, dl: Long): Double =
      math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (k1 + 1.0) /
        (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    // df: a→2, b→2, d→1. Tolerance = the 2^-20 grid each term
    // quantizes onto for order-exact sums (±2^-21 per term) plus
    // detLn's ~1e-12 series error vs libm ln
    val tol = 1.5e-6
    assert(math.abs(got((0, 1L)) - w(2, 2, 4)) < tol)
    assert(math.abs(got((0, 2L)) - w(1, 2, 2)) < tol)
    assert(math.abs(got((1, 3L)) - w(3, 2, 3)) < tol)
    assert(math.abs(got((1, 2L)) - w(1, 1, 2)) < tol) // rare d: idf ln(8/3)
    assert(math.abs(got((1, 1L)) - w(1, 2, 4)) < tol) // b only
    // every score is an exact grid point: sums were integer-exact
    assert(got.values.forall(v =>
      v * 1048576.0 == math.floor(v * 1048576.0)))
    // doc 3 has no query-0 term; absent, not zero-scored
    assert(!got.contains((0, 3L)))
    // the rarer term outweighs the common one at equal tf/dl
    assert(got((1, 2L)) > got((0, 2L)))
  }

  test("bm25 ignores query terms absent from the corpus") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(rows(Rag.bm25(docs, $"doc_id", $"text",
      Seq(0 -> Seq("zzz")))).isEmpty)
    // mixed query: the present term still scores
    val mixed = rows(Rag.bm25(docs, $"doc_id", $"text",
      Seq(0 -> Seq("a", "zzz"))))
    assert(mixed.size == 1 && mixed.head.getAs[Double]("score") > 0)
  }

  test("bm25Indexed == direct bm25 after the index round trip; probe is partition-pruned") {
    val docs = Seq(
      (1L, "a b a c d e f"), (2L, "a d g h"), (3L, "b b b c"),
      (4L, "x y z a"), (5L, "c c d d e")).toDF("doc_id", "text")
    val queries = Seq(0 -> Seq("a", "c"), 1 -> Seq("b", "d", "x"))
    val idx = Scratch.dir("bm25_idx") + "/bm25"
    // build from the first three docs, append the other two: the probe's
    // segment fold must equal a from-scratch build over the union
    Rag.saveBm25Index(docs.filter($"doc_id" <= 3), $"doc_id", $"text", idx,
      buckets = 8, targetRows = 1000L, spread = 2)
    Rag.appendBm25Index(docs.filter($"doc_id" > 3), $"doc_id", $"text", idx,
      targetRows = 1000L, spread = 2)
    val direct = rows(Rag.bm25(docs, $"doc_id", $"text", queries))
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    // the probe reads the bucket count from the index's own meta —
    // no caller-supplied value to get wrong
    val probe = Rag.bm25Indexed(spark, idx, queries)
    val indexed = rows(probe)
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    assert(indexed == direct) // bit-for-bit, not approx
    // plan guard: the postings read (which also yields df) prunes to
    // the query vocabulary's term buckets (serve-time IO ∝ touched
    // buckets, never the corpus)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tp"), plan)
  }

  test("bm25 append is batch-id idempotent and torn segments stay invisible") {
    val docs = Seq(
      (1L, "a b a c"), (2L, "a d g"), (3L, "b b c"),
      (4L, "x y a"), (5L, "c d e")).toDF("doc_id", "text")
    val queries = Seq(0 -> Seq("a", "c"))
    val idx = Scratch.dir("bm25_idem") + "/bm25"
    Rag.saveBm25Index(docs.filter($"doc_id" <= 3), $"doc_id", $"text", idx,
      buckets = 8, targetRows = 1000L, spread = 2)
    val k = Rag.appendBm25Index(docs.filter($"doc_id" > 3), $"doc_id",
      $"text", idx, targetRows = 1000L, spread = 2, batchId = Some(7L))
    assert(k == 7L)
    val once = rows(Rag.bm25Indexed(spark, idx, queries))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    // blind retry of the SAME batch id: a no-op, not a double count
    val k2 = Rag.appendBm25Index(docs.filter($"doc_id" > 3), $"doc_id",
      $"text", idx, targetRows = 1000L, spread = 2, batchId = Some(7L))
    assert(k2 == 7L)
    val twice = rows(Rag.bm25Indexed(spark, idx, queries))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(twice == once, "replayed append must not change the index")
    // a torn segment (data dirs written, NO commit marker — the crash
    // window) is invisible to the probe
    Seq((9L, "a a a")).toDF("doc_id", "text")
      .write.parquet(s"$idx/postings/seg=9/tp=0")
    Seq((9L, "a a a")).toDF("doc_id", "text")
      .write.parquet(s"$idx/stats/seg=9")
    val afterTear = rows(Rag.bm25Indexed(spark, idx, queries))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(afterTear == once, "uncommitted segment must not be read")
    // and the retried append at that id reclaims the partials cleanly
    val k3 = Rag.appendBm25Index(Seq((9L, "a q")).toDF("doc_id", "text"),
      $"doc_id", $"text", idx, targetRows = 1000L, spread = 2,
      batchId = Some(9L))
    assert(k3 == 9L)
    val healed = rows(Rag.bm25Indexed(spark, idx, queries))
    assert(healed.exists(_.getAs[Long]("doc_id") == 9L),
      "recommitted batch must be visible")
  }

  test("bm25 compaction: scores bit-identical, dirs collapse, appends keep working") {
    val docs = Seq(
      (1L, "a b a c d e f"), (2L, "a d g h"), (3L, "b b b c"),
      (4L, "x y z a"), (5L, "c c d d e")).toDF("doc_id", "text")
    val queries = Seq(0 -> Seq("a", "c"), 1 -> Seq("b", "d", "x"))
    val idx = Scratch.dir("bm25_compact") + "/bm25"
    // df is derived at probe time: no step writes a df dir
    def noDfDir() = assert(!new java.io.File(s"$idx/df").exists())
    Rag.saveBm25Index(docs.filter($"doc_id" <= 2), $"doc_id", $"text", idx,
      buckets = 8, targetRows = 1000L, spread = 2)
    noDfDir()
    assert(Rag.appendBm25Index(docs.filter($"doc_id" === 3), $"doc_id",
      $"text", idx, targetRows = 1000L, spread = 2, batchId = Some(1L)) == 1L)
    assert(Rag.appendBm25Index(docs.filter($"doc_id" > 3), $"doc_id",
      $"text", idx, targetRows = 1000L, spread = 2, batchId = Some(2L)) == 2L)
    noDfDir()
    def scores() = rows(Rag.bm25Indexed(spark, idx, queries))
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id")) ->
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("score")))
      .toMap
    val before = scores()
    // fold base + batch 1 (watermark 1); batch 2 keeps its own segment
    assert(Rag.compactBm25Index(spark, idx, upTo = 1L,
      targetRows = 1000L, spread = 2) == Some(-1L))
    assert(scores() == before, "compaction must be score-invariant, bitwise")
    def segDirs(d: String) = new java.io.File(s"$idx/$d").listFiles()
      .map(_.getName).toSet
    noDfDir()
    assert(segDirs("postings") == Set("seg=-1", "seg=2"))
    // a second pass folds the merged gen + batch 2 into gen -2
    assert(Rag.compactBm25Index(spark, idx, upTo = 2L,
      targetRows = 1000L, spread = 2) == Some(-2L))
    assert(scores() == before)
    assert(segDirs("postings") == Set("seg=-2") &&
      segDirs("stats") == Set("seg=-2"))
    noDfDir()
    assert(Rag.compactBm25Index(spark, idx, upTo = 99L).isEmpty)
    // a blind replay of a FOLDED batch id must be a no-op (its commit
    // marker is gone, but the hwm water line remembers it) — without
    // the line this would double-append batch 2's rows
    assert(Rag.appendBm25Index(docs.filter($"doc_id" > 3), $"doc_id",
      $"text", idx, targetRows = 1000L, spread = 2, batchId = Some(2L)) == 2L)
    assert(scores() == before, "folded-id replay must not change the index")
    // fresh appends keep working; the auto id is MONOTONE past the
    // compaction (successor of the water line, never a reused 1)
    assert(Rag.appendBm25Index(Seq((9L, "a q")).toDF("doc_id", "text"),
      $"doc_id", $"text", idx, targetRows = 1000L, spread = 2) == 3L)
    assert(rows(Rag.bm25Indexed(spark, idx, queries))
      .exists(_.getAs[Long]("doc_id") == 9L))
  }

  test("bm25 save reclaims a torn meta dir; probes refuse it by name") {
    val docs = Seq((1L, "a b a c"), (2L, "a d g"), (3L, "b b c")).toDF("doc_id", "text")
    val queries = Seq(0 -> Seq("a", "c"))
    val idx = Scratch.dir("bm25_torn_meta") + "/bm25"
    // a crashed save: the bucket count landed, its commit marker did not
    new java.io.File(s"$idx/meta").mkdirs(): Unit
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$idx/meta/buckets"), "3"): Unit
    val err = intercept[IllegalStateException](Rag.bm25Indexed(spark, idx, queries))
    assert(err.getMessage.contains(s"$idx/meta"), err.getMessage)
    Rag.saveBm25Index(docs, $"doc_id", $"text", idx, buckets = 8, targetRows = 1000L, spread = 2)
    assert(rows(Rag.bm25Indexed(spark, idx, queries)).toSet ==
      rows(Rag.bm25(docs, $"doc_id", $"text", queries)).toSet)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      Rag.saveBm25Index(docs, $"doc_id", $"text", idx))
  }

  test("rrfFuse sums reciprocal ranks across legs; absent legs contribute nothing") {
    val lex = Seq((0, 10L, 1), (0, 20L, 2)).toDF("query_id", "doc_id", "rank")
    val dense = Seq((0, 20L, 1), (0, 30L, 2)).toDF("query_id", "doc_id", "rank")
    val got = rows(Rag.rrfFuse(Seq(lex, dense), k = 60).orderBy($"doc_id"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rrf")).toMap
    assert(math.abs(got(10L) - 1.0 / 61) < 1e-15)
    assert(math.abs(got(20L) - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(got(30L) - 1.0 / 62) < 1e-15)
    // consensus doc (both legs) outranks either single-leg doc
    assert(got(20L) > got(10L) && got(10L) > got(30L))
  }

  test("rerank: batched client calls, null pairs skip the client, overlap math") {
    // the client itself enforces the harness contract — it THROWS on an
    // oversized batch, an empty call, or a null text reaching it, so a
    // batching/null-handling regression fails the job (closure
    // serialization would silently defeat a driver-side counter)
    val strict = new Rag.RerankClient {
      private val inner = new Rag.OverlapRerankClient
      def score(pairs: Seq[(String, String)]): Seq[Double] = {
        require(pairs.nonEmpty && pairs.length <= 2,
          s"batch of ${pairs.length} pairs")
        require(pairs.forall(p => p._1 != null && p._2 != null),
          "null text reached the client")
        inner.score(pairs)
      }
    }
    val cands = Seq(
      (1L, "hash join", "the hash table join plan"),
      (2L, "hash join", "window functions only"),
      (3L, "hash join", null),
      (4L, "scan fast slow", "a fast scan"),
      (5L, "scan fast slow", "slow scan fast")
    ).toDF("id", "q", "d").repartition(1)
    val out = Rag.rerank(cands, $"q", $"d", strict, batchSize = 2)
      .select($"id", $"ce_score").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).contains(1.0))          // both terms present
    assert(out(2L).contains(0.0))          // none present
    assert(out(3L).isEmpty)                // null doc -> null score, no call
    assert(out(4L).contains(2.0 / 3.0))    // scan+fast of three
    assert(out(5L).contains(1.0))
  }
}
