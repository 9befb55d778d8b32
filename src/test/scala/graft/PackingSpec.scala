package graft

import graft.operators.Packing
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  // Skewed-language corpus: one dominant language (85% of docs), a tail,
  // gappy non-contiguous ids, and token counts spanning 0..~bin size so
  // bins split mid-doc both ways.
  private def corpus = {
    val rnd = new scala.util.Random(7)
    Seq.tabulate(600) { i =>
      val lang = if (rnd.nextInt(100) < 85) "en"
                 else Seq("zh", "de", "fr")(rnd.nextInt(3))
      (i.toLong * 3 + rnd.nextInt(2), lang, rnd.nextInt(300).toLong)
    }.toDF("doc_id", "lang", "n_tok")
  }

  test("bucketed starts equal single-window starts across bucket widths") {
    val d = corpus
    val want = Packing.packedStarts(d, $"lang", $"doc_id", $"n_tok")
      .collect().map(_.toString).sorted.toSeq
    for (w <- Seq(1L, 7L, 64L, 512L, 100000L)) {
      val got = Packing
        .packedStartsBucketed(d, $"lang", $"doc_id", $"n_tok", w)
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, s"bucketWidth=$w diverged")
    }
  }

  test("packBins rolls up identically on both paths") {
    val d = corpus
    val a = Packing.packBins(
      Packing.packedStarts(d, $"lang", $"doc_id", $"n_tok"), 256L)
      .collect().map(_.toString).sorted.toSeq
    val b = Packing.packBins(
      Packing.packedStartsBucketed(d, $"lang", $"doc_id", $"n_tok", 32L), 256L)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("start offsets are the prefix sums in doc_id order per language") {
    val got = Packing
      .packedStartsBucketed(corpus, $"lang", $"doc_id", $"n_tok", 16L)
      .orderBy($"lang", $"doc_id")
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    got.groupBy(_._1).foreach { case (_, rows) =>
      var run = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, start) =>
        assert(start == run)
        run += n
      }
    }
  }

  test("zero-token and empty-group edges") {
    val d = Seq((1L, "en", 0L), (2L, "en", 5L), (3L, "en", 0L))
      .toDF("doc_id", "lang", "n_tok")
    val got = Packing.packedStartsBucketed(d, $"lang", $"doc_id", $"n_tok", 2L)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    // zero-length docs occupy no tokens: starts are 0, 0, 5
    assert(got.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 5L)))
  }

  // Docs spanning every chunking regime for (max=8, stride=5): empty,
  // 1 token, exactly max, max+1 (first over-length), a stride-boundary
  // exact fit (8 + 2*5 = 18 tokens → last chunk full), and a long tail.
  private def chunkCorpus = Seq(
    (0L, ""),
    (1L, "a"),
    (2L, (1 to 8).map(i => s"t$i").mkString(" ")),
    (3L, (1 to 9).map(i => s"t$i").mkString(" ")),
    (4L, (1 to 18).map(i => s"t$i").mkString(" ")),
    (5L, (1 to 47).map(i => s"w$i").mkString(" "))
  ).toDF("doc_id", "text")

  test("chunkWindows matches a JVM brute force on all regimes") {
    import graft.functions.TextAnalysis
    val got = Packing
      .chunkWindows(chunkCorpus, $"doc_id", $"text", maxTokens = 8, stride = 5)
      .orderBy($"doc_id", $"chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = chunkCorpus.collect().flatMap { r =>
      val id = r.getLong(0)
      val toks = TextAnalysis.jvmTokens(r.getString(1))
      val k = if (toks.length <= 8) 1 else (toks.length - 8 + 4) / 5 + 1
      (0 until k).map { i =>
        val ct = toks.slice(i * 5, i * 5 + 8)
        (id, i.toLong, ct.length.toLong, ct.mkString(" "))
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
  }

  test("chunkWindows laws: starts, overlap, coverage, reconstruction") {
    val max = 8; val stride = 5
    val chunks = Packing
      .chunkWindows(chunkCorpus, $"doc_id", $"text", max, stride)
      .orderBy($"doc_id", $"chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    chunks.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // contiguous indices from 0; every chunk but the last is full or
      // the doc was short; consecutive chunks overlap by max - stride
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq)
      sorted.init.foreach { c => assert(c._3 == max, s"doc $id chunk ${c._2}") }
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        val aToks = a._4.split(" ").toSeq
        val bToks = b._4.split(" ").toSeq
        assert(aToks.drop(stride) == bToks.take(max - stride))
      }
      // stride-prefixes of all but the last chunk + the last chunk
      // reconstruct the token stream exactly (lossless coverage)
      val rebuilt = (sorted.init.flatMap(_._4.split(" ").take(stride)) ++
        sorted.last._4.split(" ").filter(_.nonEmpty)).toSeq
      val original = chunkCorpus.filter($"doc_id" === id).collect()
        .head.getString(1)
      assert(rebuilt == graft.functions.TextAnalysis.jvmTokens(original).toSeq)
    }
    // single-chunk docs: empty doc yields one empty chunk
    assert(chunks(0L).toSeq == Seq((0L, 0L, 0L, "")))
  }

  test("chunkWindows composes into packedStarts: bounded docs, exact bins") {
    // the production order: chunk over-length docs FIRST, then pack —
    // every packed unit is <= maxTokens, so no doc ever straddles more
    // than ceil(max/bin) bins and bin fill stays tight
    val chunks = Packing
      .chunkWindows(chunkCorpus, $"doc_id", $"text", maxTokens = 8, stride = 8)
      .withColumn("unit_id", $"doc_id" * 1000 + $"chunk_idx")
      .withColumn("lang", lit("en"))
    val starts = Packing.packedStartsBucketed(
      chunks, $"lang", $"unit_id", $"n_tok", bucketWidth = 16L)
    val got = starts.orderBy($"doc_id").collect()
    assert(got.forall(_.getLong(2) <= 8), "no packed unit exceeds maxTokens")
    // total tokens conserved through chunk (stride == max: no overlap) + pack
    val total = chunkCorpus.collect()
      .map(r => graft.functions.TextAnalysis.jvmTokens(r.getString(1)).length)
      .sum
    assert(got.map(_.getLong(2)).sum == total)
    assert(got.map(_.getLong(3)).max < total, "starts lie inside the stream")
  }

  test("packedSpans: span columns match hand math; fragmentation histogram conserves") {
    // 7 docs over one global stream, seqLen = 10: crafted so the stream
    // has in-sequence continuations, exact boundary landings and a
    // multi-sequence straddler
    val docs = Seq(
      (1L, 4L),  // [0,4)    seq 0, off 0
      (2L, 6L),  // [4,10)   seq 0, off 4, ends ON boundary (no cross)
      (3L, 15L), // [10,25)  seqs 1-2, off 0, crosses
      (4L, 3L),  // [25,28)  seq 2, off 5
      (5L, 25L), // [28,53)  seqs 2-5, off 8, crosses 3 boundaries
      (6L, 7L),  // [53,60)  seq 5, off 3, ends on boundary
      (7L, 1L)   // [60,61)  seq 6, off 0
    ).toDF("doc_id", "n_tok").withColumn("lang", lit("all"))
    val spans = Packing.packedSpans(
      Packing.packedStartsBucketed(docs, $"lang", $"doc_id", $"n_tok",
        bucketWidth = 2L), seqLen = 10L)
    val got = rows(spans.orderBy($"doc_id")
        .select($"doc_id", $"start_tok", $"seq_first", $"seq_last",
          $"off_in_seq", $"crosses"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got == Seq(
      (1L, 0L, 0L, 0L, 0L, false),
      (2L, 4L, 0L, 0L, 4L, false),
      (3L, 10L, 1L, 2L, 0L, true),
      (4L, 25L, 2L, 2L, 5L, false),
      (5L, 28L, 2L, 5L, 8L, true),
      (6L, 53L, 5L, 5L, 3L, false),
      (7L, 60L, 6L, 6L, 0L, false)))
    // fragmentation histogram: seq0={1,2}, seq1={3}, seq2={3,4,5},
    // seq3=seq4={5}, seq5={5,6}, seq6={7} → four 1-doc seqs, two
    // 2-doc seqs, one 3-doc seq
    val hist = rows(Packing.packFragmentation(spans).orderBy($"n_docs"))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hist == Seq((1L, 4L), (2L, 2L), (3L, 1L)))
    // conservation: sum(n_docs * n_seqs) == sum of per-doc span widths,
    // and sum(n_seqs) == number of occupied sequences
    assert(hist.map(h => h._1 * h._2).sum ==
      got.map(g => g._4 - g._3 + 1).sum)
    assert(hist.map(_._2).sum == 7L)
  }

  test("appendPacked: high-water append, poisoned replay no-op, composition == one-shot") {
    val store = Scratch.dir("pk_store") + "/packed"
    val docs = Seq((1L, 4L), (2L, 6L), (3L, 15L), (4L, 3L), (5L, 25L),
      (6L, 0L)).toDF("doc_id", "n_tok") // doc 6 places nothing
    def read() = rows(Packing.packedStore(spark, store)
        .orderBy($"doc_id")
        .select($"seg", $"doc_id", $"n_tok", $"start_tok"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Packing.appendPacked(spark, store, docs.filter($"doc_id" <= 3),
      $"doc_id", $"n_tok", batchId = 0L, bucketWidth = 2L)
    val before = read()
    assert(before == Seq((0L, 1L, 4L, 0L), (0L, 2L, 6L, 4L),
      (0L, 3L, 15L, 10L)))
    Packing.appendPacked(spark, store, docs.filter($"doc_id" > 3),
      $"doc_id", $"n_tok", batchId = 1L, bucketWidth = 2L)
    val after = read()
    // the delta packs AT the high-water offset (25); history rows are
    // byte-stable; the zero-token doc placed nothing
    assert(after == before ++ Seq((1L, 4L, 3L, 25L), (1L, 5L, 25L, 28L)))
    // composition == one-shot packing of the full corpus
    val oneShot = rows(Packing.packedStartsBucketed(
        docs.filter($"n_tok" >= 1).withColumn("lang", lit("all")),
        $"lang", $"doc_id", $"n_tok", bucketWidth = 2L)
        .orderBy($"doc_id").select($"doc_id", $"start_tok"))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.map(a => (a._2, a._4)) == oneShot)
    // POISONED replay of a committed id (wrong content, even an OLD
    // id) is a complete no-op at the commit gate
    Packing.appendPacked(spark, store,
      docs.withColumn("n_tok", lit(999L)), $"doc_id", $"n_tok",
      batchId = 1L, bucketWidth = 2L)
    Packing.appendPacked(spark, store,
      docs.withColumn("n_tok", lit(999L)), $"doc_id", $"n_tok",
      batchId = 0L, bucketWidth = 2L)
    assert(read() == after)
    // a NEW non-monotone id is a contract violation, loudly
    intercept[IllegalArgumentException] {
      Packing.appendPacked(spark, store, docs, $"doc_id", $"n_tok",
        batchId = -5L, bucketWidth = 2L)
    }
  }

  test("appendPacked: a torn append (tot committed, data not) is invisible and its retry converges") {
    import graft.operators.SegmentFs
    val docs = Seq((1L, 4L), (2L, 6L), (3L, 15L), (4L, 3L), (5L, 25L),
      (6L, 7L)).toDF("doc_id", "n_tok")
    val batches = Seq(docs.filter($"doc_id" <= 3), docs.filter($"doc_id" === 4 || $"doc_id" === 5),
      docs.filter($"doc_id" === 6))
    def append(store: String, k: Int): Unit =
      Packing.appendPacked(spark, store, batches(k), $"doc_id", $"n_tok",
        batchId = k.toLong, bucketWidth = 2L): Unit
    def state(store: String) = (
      rows(Packing.packedStore(spark, store).orderBy($"doc_id")).map(_.toString),
      (0 to 2).map(k => SegmentFs.readSmallFile(spark, s"$store/tot/d=$k", "tokens")))
    val clean = Scratch.dir("pk_clean") + "/packed"
    (0 to 2).foreach(append(clean, _))

    val torn = Scratch.dir("pk_torn") + "/packed"
    append(torn, 0)
    // batch 1 crashed after its tot (of a different mass) committed and
    // before its data did: a torn data dir without its marker
    assert(SegmentFs.writeSmallFile(spark, s"$torn/tot/d=1", "tokens", "999"))
    spark.range(3).write.parquet(SegmentFs.deltaDir(torn, 1L))
    new java.io.File(SegmentFs.deltaDir(torn, 1L), "_SUCCESS").delete(): Unit
    // invisible to readers
    assert(rows(Packing.packedStore(spark, torn)).map(_.getLong(0)).toSet == Set(0L))
    append(torn, 1) // the retry reclaims the torn tot and data
    append(torn, 2) // the high water counts no torn mass
    assert(state(torn) == state(clean))
    assert(SegmentFs.readSmallFile(spark, s"$torn/tot/d=1", "tokens") == "28")
    // a poisoned replay of the retried id is still a complete no-op
    Packing.appendPacked(spark, torn, docs.withColumn("n_tok", lit(999L)),
      $"doc_id", $"n_tok", batchId = 1L, bucketWidth = 2L)
    assert(state(torn) == state(clean))
  }

  test("packedStreamSink: micro-batches append at the high water, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = Scratch.dir("pk_stream") + "/packed"
    val input = MemoryStream[(Long, Long)]
    val q = Packing.packedStreamSink(
        input.toDF().toDF("doc_id", "n_tok"), "doc_id", "n_tok", store,
        bucketWidth = 2L)
      .option("checkpointLocation", Scratch.dir("pk_ckpt"))
      .start()
    try {
      input.addData((1L, 4L), (2L, 6L))
      q.processAllAvailable()
      input.addData((3L, 15L), (4L, 3L))
      q.processAllAvailable()
    } finally q.stop()
    val got = rows(Packing.packedStore(spark, store).orderBy($"doc_id")
        .select($"seg", $"doc_id", $"start_tok"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == Seq((0L, 1L, 0L), (0L, 2L, 4L),
      (1L, 3L, 10L), (1L, 4L, 25L)))
  }
}
