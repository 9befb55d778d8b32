package graft

import graft.operators.{Decontam, Dedup, Sampling, Similarity}
import org.apache.spark.sql.functions._

/** Plan-shape regression guards for the scale-critical operators: these
  * pin the PHYSICAL plan properties that make each operator survive a
  * 100× scale-up, so a refactor that silently reintroduces a
  * corpus-wide shuffle or a forced broadcast fails here, not on the
  * cluster.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq.tabulate(64)(i =>
    (i.toLong, Array.tabulate(8)(j => (i * 8 + j) % 5 / 4.0f)))
    .toDF("id", "vec")

  test("IVF assignment stage has no window, no shuffle, no cross join") {
    val cents = Seq((0L, Array.fill(8)(0.1f)), (1L, Array.fill(8)(0.9f)))
      .toDF("cid", "cv")
    val out = Similarity.ivfTopK(
      docs, $"id", $"vec",
      docs.limit(3), $"id", $"vec",
      cents, $"cid", $"cv", k = 2, nprobe = 1)
    val plan = out.queryExecution.executedPlan.toString
    // the ONLY window is the final per-query rank; assignment must stay
    // a shuffle-free projection, so exactly one Window and no cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    // "Window [" is the exec node; WindowGroupLimit (the bounded-heap
    // pushdown) prints "WindowGroupLimit [" and is expected.
    assert("Window \\[".r.findAllIn(plan).size == 1,
      s"expected exactly one Window (per-query rank), got plan:\n$plan")
  }

  test("jaccardPairs dictionary join is not a forced broadcast") {
    val d = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"))
      .toDF("id", "text")
    val (pairs, staged) = Dedup.jaccardPairsPlan(d, $"id", $"text", 0.5)
    try {
      val analyzed = pairs.queryExecution.analyzed.toString
      // a ResolvedHint in the analyzed plan means someone re-added
      // broadcast(); AQE choosing broadcast at runtime is fine.
      assert(!analyzed.contains("ResolvedHint"),
        s"forced broadcast hint reintroduced:\n$analyzed")
    } finally staged.foreach(_.unpersist(blocking = true))
  }

  test("jaccardPairs reuses the cached doc index instead of re-deriving it") {
    val d = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"))
      .toDF("id", "text")
    val (pairs, staged) = Dedup.jaccardPairsPlan(d, $"id", $"text", 0.5)
    try {
      val plan = pairs.queryExecution.executedPlan.toString
      // four consumers of the doc index (both prefix self-join sides +
      // both array re-attach joins) must all read the cache — a refactor
      // that drops the persist re-derives the tokenize→dict-join→
      // collect_list subtree per consumer (the round-4 2.3× d4 win).
      val scans = "InMemoryTableScan".r.findAllIn(plan).size
      assert(scans >= 4, s"expected >=4 InMemoryTableScans, got $scans:\n$plan")
      // and the dictionary's zipWithIndex RDD must appear only inside the
      // cached build, never re-derived downstream of the cache scans.
      assert(!plan.replaceAll("(?s)InMemoryRelation.*", "").contains("ZippedWithIndex"),
        s"dictionary subtree re-derived outside the cache:\n$plan")
    } finally staged.foreach(_.unpersist(blocking = true))
  }

  test("jaccardPairs releases every cache block it pins") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "q r s"))
      .toDF("id", "text")
    val pairs = Dedup.jaccardPairs(d, $"id", $"text", 0.5)
    assert(pairs.count() >= 1) // the staged artifact is real
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"jaccardPairs left persisted RDDs resident: $leaked")
  }

  test("brute-force topK broadcasts the query side, not the corpus") {
    val out = Similarity.topKPerQuery(
      docs, $"id", $"vec", docs.limit(2), $"id", $"vec", k = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("semanticDupPairs joins on (cid, salt), never bare cid") {
    val cents = Seq((0L, Seq.fill(8)(0.1)), (1L, Seq.fill(8)(0.9)))
    val out = Similarity.semanticDupPairs(
      docs, $"id", $"vec", cents, 0.5, saltBuckets = 4)
    val plan = out.queryExecution.executedPlan.toString
    // parallelism must be k x saltBuckets: the pair join's equi-key
    // list has to include the salt column, or hot clusters serialize
    // through k tasks. (The join node prints its key lists whichever
    // strategy — broadcast here on the tiny fixture, sort-merge at
    // scale — the planner picks.)
    val joinKeys = "HashJoin \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(joinKeys.exists(k => k.contains("cid") && k.contains("salt")),
      s"pair join not salted — join keys: $joinKeys\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("g1 fused pipeline materializes nothing mid-chain") {
    val dir = "/root/testdata/sf0.001"
    val g1 = SparkEntry.queries("g1_fused_pipeline")(spark, dir)
    val plan = g1.queryExecution.executedPlan.toString
    // one lazy plan end to end: no cache, no scratch-parquet rescan —
    // the only scans are the two documents branches of the D1 union
    assert(!plan.contains("InMemoryTableScan"), plan)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"expected exactly 2 parquet scans (D1 union), got $scans")
    // both dedup windows survive as the only windows
    assert("Window \\[".r.findAllIn(plan).size == 2,
      s"expected exactly two Windows (D1+D3 survivorship):\n$plan")
  }

  test("m2 header parse is a pure scan-stage projection (no shuffle before sort)") {
    val dir = "/root/testdata/sf0.001"
    val m2 = SparkEntry.queries("m2_media_headers")(spark, dir)
    val plan = m2.queryExecution.executedPlan.toString
    // synthesize + parse fuse into the scan projection: no join, no
    // aggregate, no window — the single exchange is the final ORDER BY
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    val exch = "Exchange".r.findAllIn(plan).size
    assert(exch <= 1, s"expected at most the ORDER BY exchange, got $exch:\n$plan")
  }

  test("mergeUpsert windows ONLY the delta; the snapshot side takes an anti-join") {
    val snap = Seq.tabulate(64)(i => (i.toLong, s"s$i")).toDF("id", "v")
    val delta = Seq((1L, "d1", 1L, false), (2L, "d2", 1L, true))
      .toDF("id", "v", "version", "deleted")
    val out = Dedup.mergeUpsert(snap, delta, "id")
    val plan = out.queryExecution.executedPlan.toString
    // the delta resolve windows appear BELOW the final Union (the
    // `latest` subtree is consumed twice, both over the tiny delta) — a
    // refactor that unions first and windows the whole table re-sorts
    // the corpus to apply a 0.1% change, and would print its Window
    // ABOVE the Union
    val unionAt = plan.indexOf("Union")
    assert(unionAt >= 0, plan)
    val windowsAbove = "Window \\[".r.findAllIn(plan.take(unionAt)).size
    assert(windowsAbove == 0,
      s"Window above the Union — snapshot-side sort reintroduced:\n$plan")
    assert("Window \\[".r.findAllIn(plan).size <= 2, plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("ta8 unigram model collapses per-doc counts map-side before the vocab join") {
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "t")
    val out = graft.functions.TextAnalysis.unigramLogProb(d, $"id", $"t", "id")
    val plan = out.queryExecution.executedPlan.toString
    // every HashAggregate pairs partial+final (map-side combine); the
    // corpus total must ride as a broadcast, and nothing windows
    assert(!plan.contains("Window ["), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    val partials = "partial_".r.findAllIn(plan).size
    assert(partials >= 2,
      s"expected map-side partial aggregation, got $partials:\n$plan")
  }

  test("g2 training-corpus build fuses lazily with one packing window") {
    val dir = "/root/testdata/sf0.001"
    val g2 = SparkEntry.queries("g2_training_corpus")(spark, dir)
    val plan = g2.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // decontam probe + quality gate + mix rates all broadcast; the only
    // windows are the two halves of bucketed packing (in-bucket running
    // sum over the corpus + the carry prefix over the tiny per-bucket
    // summary table)
    assert("Window \\[".r.findAllIn(plan).size == 2,
      s"expected exactly two Windows (bucketed packing):\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x15 sequence pack: two packing windows, broadcast carry, no sort-merge") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("x15_sequence_pack")(spark, dir)
      .queryExecution.executedPlan.toString
    // same bucketed-packing budget as g2: the in-bucket running sum
    // (partitioned by bucket — parallel) + the carry prefix over the
    // per-bucket summary spine; the span columns are a pure projection
    // and the carry side joins as a BROADCAST, never a sort-merge
    assert("Window \\[".r.findAllIn(plan).size == 2,
      s"expected exactly two Windows (bucketed packing):\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("g6 steered build adds zero exchanges and zero joins over g2") {
    val dir = "/root/testdata/sf0.001"
    def shape(name: String): (Int, Int, Int) = {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      ("Exchange ".r.findAllIn(plan).size,
        "Join".r.findAllIn(plan).size,
        "Window \\[".r.findAllIn(plan).size)
    }
    // the trained gate is a literal-weight scan-fused predicate: the g6
    // physical plan must match g2's exchange/join/window census exactly
    assert(shape("g6_steered_corpus") == shape("g2_training_corpus"))
  }

  test("w5 gated drift: one streaming-safe pass — no joins, no extra shuffles") {
    val dir = "/root/testdata/sf0.001"
    val w5 = SparkEntry.queries("w5_gated_drift")(spark, dir)
    val plan = w5.queryExecution.executedPlan.toString
    // decontam probe is a self-contained native expression and the gate
    // is let-bound, so the whole pre-aggregation pipeline is scan-fused:
    // no join of any kind, exactly the windowed-agg exchange + sort
    assert(plan.contains("token_ngram_contamination"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("InMemoryTableScan"), plan)
    // the tokenizer must not be re-inlined into a per-gram lambda: every
    // lambdafunction in the plan operates on bound variables only
    assert(!"lambdafunction\\([^)]*regexp_extract_all".r
      .findAllIn(plan).hasNext, plan)
  }

  test("ta15 chunk windows: narrow generator pass, tokenize exactly once") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("ta15_chunk_windows")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // chunking is embarrassingly parallel: no join, no aggregation, and
    // the only exchange is the oracle-compare output sort
    assert(!plan.contains("Join"), plan)
    assert("Exchange ".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Generate explode"), plan)
    // the tokenizer runs once per doc — CollapseProject must keep the
    // multi-use __toks alias materialized, not inline the regex into
    // the generator bound and both slice sites
    assert("regexp_extract_all".r.findAllIn(plan).size == 1, plan)
  }

  test("d19 snapshot diff: base pruned by broadcast semi joins, rank pushed down") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("d19_snapshot_diff")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the snapshot's only touch is a broadcast semi join against the
    // delta's touched-key set — on both resolve branches; the final
    // full-outer compares two delta-sized states (SMJ there is fine)
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the rank-1 resolve windows take the bounded-heap pushdown
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("x3 curriculum: phase table broadcasts back; corpus never sort-merges") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("x3_curriculum")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the phase assignment must reach the corpus as a broadcast of the
    // distinct-score census, never a co-shuffle of the corpus itself
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exactly two Windows: the census cumulative (single-partition but
    // distinct-scores-sized — the tq6 precedent) and the partitioned
    // per-(phase, shard) rank
    assert("Window \\[".r.findAllIn(plan).size == 2, plan)
  }

  test("v12 embed top-k: query side broadcasts against the embedded corpus") {
    val dir = "/root/testdata/sf0.001"
    val v12 = SparkEntry.queries("v12_embed_topk")(spark, dir)
    val plan = v12.queryExecution.executedPlan.toString
    // the corpus embeds once (mapPartitions) and scans once against the
    // broadcast query batch; ranking is the bounded-heap window
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("decontamination probe: broadcast eval set, no sort-merge join") {
    val train = Seq.tabulate(40)(i => (i.toLong, s"w$i x$i y$i z$i q$i"))
      .toDF("id", "text")
    val ev = Seq((100L, "w1 x1 y1 z1 q1")).toDF("id", "text")
    val plan = Decontam.contaminationReport(train, ev, $"id", $"text", 3)
      .queryExecution.executedPlan.toString
    // the corpus side must probe a broadcast, never co-shuffle its
    // grams against the (tiny, fixed-size) eval set
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tokenBudgetMix: rate table broadcasts back, corpus never shuffles") {
    val df = (0L until 200L)
      .map(i => (i, if (i % 2 == 0) "en" else "de", 10))
      .toDF("id", "lang", "ntok")
    val plan = Sampling.tokenBudgetMix(df, $"lang", $"id", $"ntok", 50, "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the stats aggregations are map-side partial (stratum-count rows)
    assert("partial_".r.findAllIn(plan).size >= 1, plan)
  }

  test("d12 repeated-gram join carries longs and combines map-side") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "t")
    val out = Dedup.repeatedGramStats(df, $"id", $"t", 3)
    val plan = out.queryExecution.executedPlan.toString
    // gram counts must partial-aggregate before the shuffle
    assert("partial_count".r.findAllIn(plan).size >= 2,
      s"expected map-side combined counts:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ta11 bigram model collapses per-doc counts before any join") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("id", "t")
    val out = graft.functions.TextAnalysis.bigramLogProb(df, $"id", $"t", 0.75, "id")
    val plan = out.queryExecution.executedPlan.toString
    assert("partial_count".r.findAllIn(plan).size >= 1, plan)
    // the scalar total rides as a broadcast, never a shuffle join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("scrubRepeatedSpans: map-side gram combine, broadcast hot join, no cartesian") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("id", "t")
    val out = Dedup.scrubRepeatedSpans(df, $"id", $"t", 3, hotThreshold = 1L)
    val plan = out.queryExecution.executedPlan.toString
    // doc-frequency counts partial-aggregate before the shuffle
    assert("partial_".r.findAllIn(plan).size >= 1, plan)
    // every-gram-hot: the hot branch must match via broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("simhashPairs: fingerprints ride the bucket self-join, no cartesian, no window") {
    val df = Seq((1L, "a b c"), (2L, "a b d")).toDF("id", "t")
    val plan = Dedup.simhashPairs(df, $"id", $"t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
  }

  test("epochShuffle: one exchange (the shard partition), shard-parallel window") {
    val df = Seq.tabulate(40)(i => i.toLong).toDF("id")
    val plan = Sampling.epochShuffle(df, $"id", 1, 4)
      .queryExecution.executedPlan.toString
    // the per-shard rank is partitioned — a global (empty-partition)
    // window would move everything to one task
    assert(!plan.contains("Window [pos"), plan) // no global unpartitioned form
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one hash exchange (by shard):\n$plan")
  }

  test("v4 vocabulary ranking never windows over the full vocabulary") {
    // the global rank window must sit above a LIMIT (TakeOrdered), so
    // it only ever sees k rows — mirror of the v4 query shape.
    val exploded = docs.select(explode(split(lit("a b c d"), " ")).as("tok"))
    val vocab = exploded.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok").limit(16)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"cnt".desc, $"tok")))
    val plan = vocab.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab rank window must be fed by a take-ordered limit:\n$plan")
  }

  test("NB scoring joins the broadcast model; counts combine map-side") {
    val d = Seq((1L, true, "a a b"), (2L, false, "b c")).toDF("id", "y", "t")
    val model = graft.operators.Classify.trainModel(d, $"y", $"t", 64)
    val out = graft.operators.Classify.score(model, d, $"id", $"t", "id")
    val plan = out.queryExecution.executedPlan.toString
    // the model (≤ buckets rows) and its 1-row stats must both ride
    // broadcasts — never a shuffled join side; per-doc feature counts
    // combine map-side; nothing windows over the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window ["), plan)
    assert("partial_".r.findAllIn(plan).size >= 2,
      s"expected map-side partial aggregation:\n$plan")
  }

  test("weightedSample plans as take-ordered, never a global sort") {
    val d = Seq((1L, 2.0), (2L, 1.0), (3L, 4.0)).toDF("id", "w")
    val out = graft.operators.Sampling.weightedSample(d, $"id", $"w", 2, "s")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$plan")
  }

  test("quantile sketch: raw rows combine map-side; only sketch rows window") {
    val d = Seq(("a", 0L, 5L), ("a", 1L, 900L), ("b", 0L, 5L))
      .toDF("s", "d", "v")
    val out = graft.operators.Sketches.mergeQuantiles(
      graft.operators.Sketches.quantileSketch(d, $"s", $"d", $"v"), Seq(50, 90))
    val plan = out.queryExecution.executedPlan.toString
    // the bucketing groupBy must partial-count before its exchange —
    // that first agg is the only node that ever sees raw rows
    assert(plan.contains("partial_count"),
      s"expected map-side combined bucket counts:\n$plan")
    // percentile table rides a broadcast; the sketch never cartesians
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("frequency sketch: counts combine map-side; mass tables broadcast back") {
    val d = Seq(("a", 0L, "k"), ("a", 0L, "k"), ("a", 1L, "j"))
      .toDF("s", "d", "k")
    val out = graft.operators.Sketches.mergeHeavyHitters(
      graft.operators.Sketches.freqSketch(d, $"s", $"d", $"k", 1L, 50L),
      1L, 50L)
    val plan = out.queryExecution.executedPlan.toString
    // the vocabulary-sized count table must partial-aggregate before
    // its exchange, and every mass/slack/total side joins broadcast —
    // a sort-merge here means the threshold filter shuffled the vocab
    assert(plan.contains("partial_count"),
      s"expected map-side combined key counts:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // and the vocabulary is never windowed
    assert(!plan.contains("Window ["), plan)
  }

  test("bucketed co-located join: zero shuffle exchanges on either side") {
    val base = Scratch.dir("bucket_audit")
    val fact = Seq.tabulate(200)(i => (i.toLong, i.toLong % 20, i * 1.5))
      .toDF("o_id", "k", "v")
    val dim = Seq.tabulate(20)(i => (i.toLong, s"seg${i % 4}"))
      .toDF("k", "seg")
    graft.sources.Buckets.writeBucketed(fact, "pa_fact", s"$base/fact", "k", 4)
    graft.sources.Buckets.writeBucketed(dim, "pa_dim", s"$base/dim", "k", 4)
    val joined = graft.sources.Buckets.table(spark, "pa_fact")
      .join(graft.sources.Buckets.table(spark, "pa_dim").hint("merge"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    // bucket metadata co-locates both sides: the merge join must plan
    // with NO exchange — re-shuffling a bucketed table per query is
    // exactly the cost the layout exists to eliminate
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // and the result is the plain join
    assert(joined.count() == 200L)
  }

  test("g9 bucketed corpus enrich: the recurring join plans with zero exchanges") {
    // the fused-product seat of the layout: g2's packed output and the
    // per-doc metadata table are both doc_id-bucketed, so the join a
    // recurring serve/audit job replays must merge WITHOUT reshuffling
    // either stored side — re-shuffling the corpus per recurring job is
    // exactly the cost the build paid the bucketing to eliminate
    val j = queries.CorpusQueries.g9EnrichJoin(spark, "/root/testdata/sf0.001")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(j.count() > 0L)
  }

  test("g7 corpus health: every sketch block joins broadcast onto the base") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("g7_corpus_health")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // post-aggregation sides are sketch-sized by construction: the
    // whole assembly must broadcast — one sort-merge here means a
    // sketch table shuffled the corpus-side aggregate
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // windows only over the bounded quantile spine (cum + total), never
    // over raw docs or tokens
    assert("Window \\[".r.findAllIn(plan).size <= 2, plan)
  }

  test("x5 token-budget resample: spine census broadcasts back, corpus never globally sorts") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("x5_dsir_token_resample")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the budget cut must reach rows via broadcast of the bounded
    // rounded-key census plus a sel_key-partitioned prefix sum — a
    // sort-merge join or cartesian means the corpus co-shuffled
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only full sort is the final deterministic ORDER BY of the
    // (budget-bounded) result — never a corpus-wide rank
    assert("Window \\[".r.findAllIn(plan).size <= 3, plan)
  }

  test("x6 sketch curriculum: bucket phase table broadcasts; one corpus exchange") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("x6_curriculum_sketch")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // windows: the bounded bucket-spine cumulative and the per-(phase,
    // shard) rank — same budget as x3
    assert("Window \\[".r.findAllIn(plan).size == 2, plan)
  }

  test("v15 BM25: df/query/stats all broadcast; no sort-merge, no cartesian") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("v15_bm25_topk")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the scalar (n_docs, avgdl) row rides a broadcast nested-loop
    // cross; df and the query-term table are broadcast hash joins —
    // the corpus side never sort-merges and nothing is cartesian
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the query-vocabulary filter sits UNDER the tf combine: the isin
    // prunes at the explode, so only matching postings ever shuffle
    // (IN below the inSetConversionThreshold, INSET above it)
    assert(plan.contains("term#") &&
      (plan.contains(" IN (") || plan.contains(" INSET ")), plan)
  }

  test("g12 vector tick: dashboard tail broadcasts; no sort-merge, no cartesian") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("g12_vector_tick")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the returned dashboard plan: per-lang count tables and the 1-row
    // tick (recall + index count) all ride broadcasts — the corpus
    // never sort-merges and nothing is cartesian; the exact-recall leg
    // is the intended broadcast-query-batch nested loop
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("s14 fact scan carries a dynamicpruning partition filter") {
    val dir = "/root/testdata/sf0.001"
    val base = Scratch.dir("graft_s14spec")
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      .write.mode("overwrite").partitionBy("c_nationkey")
      .parquet(s"$base/customer")
    val plan = queries.SourceQueries.s14PrunedJoin(spark, dir, base)
      .groupBy(col("n_name"))
      .agg(sum(col("c_acctbal")).as("sum_bal"))
      .queryExecution.executedPlan.toString
    // the dim's non-key filter becomes a RUNTIME partition filter on the
    // fact scan — a layout regression (losing partitionBy, or a cast
    // slipping onto the partition attribute) silently reverts to reading
    // every partition and fails here, not on the cluster
    assert(plan.contains("dynamicpruning"),
      s"fact scan lost its dynamic partition filter:\n$plan")
    // column pruning must survive alongside DPP: the fact reads ONLY the
    // aggregated column (keys come from directories, not pages)
    assert(plan.contains("ReadSchema: struct<c_acctbal:double>"), plan)
  }

  test("g11 single-day re-derive: store scan carries a dynamicpruning partition filter") {
    val dir = "/root/testdata/sf0.001"
    val base = Scratch.dir("graft_g11spec")
    val ev = Tables.load(spark, dir, "events").select(
      to_date(col("ts")).as("day"), col("event_type"), col("value"),
      col("user_id"))
    queries.CorpusQueries.g11Land(ev, base)
    val d0 = ev.groupBy().agg(min(col("day")).as("day"))
    val plan = queries.CorpusQueries.g11Summary(spark, base, Some(d0))
      .queryExecution.executedPlan.toString
    // the restated-day slice joins the store on its PARTITION column
    // against a broadcast 1-row day frame: the build side must become
    // a runtime partition filter — losing it (a cast slipping onto the
    // partition attribute, a lost partitionBy) silently reverts the
    // backfill to reading all 365 days
    assert(plan.contains("dynamicpruning"),
      s"store scan lost its dynamic partition filter:\n$plan")
  }

  test("x7 hard negatives: one bm25 pass, bounded positives broadcast back") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("x7_hard_negatives")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the positives side is queries-sized and must ride a broadcast —
    // a sort-merge here would shuffle the (already tiny) rank table
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // both rank windows keep the bounded-heap pushdown
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("v19 rerank: candidate hydration broadcasts onto the corpus scan") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("v19_rerank")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the bounded candidate list joins the corpus via broadcast — the
    // cross-encoder stage must never shuffle corpus text
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the client harness runs as a deserialized mapPartitions stage
    assert(plan.contains("MapPartitions"), plan)
  }

  test("tq7 calibration reads the staged 2-double projection, not the tokenizer") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("tq7_platt_calibration")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the returned frame scans the scratch staging (sc, y) — the
    // tokenizer ran exactly once at stage time, never in the fit loop
    assert(plan.contains("ReadSchema: struct<sc:double,y:boolean>"), plan)
    assert(!plan.contains("regexp"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("g10 daily tick: dashboard reads the STAGED kept/landed tables, all joins broadcast") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("g10_daily_tick")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the pair-graph closure and the gate run ONCE into scratch; every
    // dashboard consumer re-reads the staged parquet, and the count/
    // drift tail joins are stratum-sized broadcasts — a refactor that
    // re-derives the dedup subtree per consumer reintroduces
    // sort-merge joins here
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("v16 hybrid RRF: two bounded top-20 legs union into one combine") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("v16_hybrid_rrf")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both legs' per-query rank windows carry the WindowGroupLimit
    // bounded-heap pushdown (top-n never materializes a full sort)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("scan-fused per-row transforms plan zero joins and zero windows") {
    // the r12 per-row codec/transform family: one projection over the
    // scan — a refactor that sneaks in a join, window, or an exchange
    // beyond the final presentation ORDER BY plus (r16) at most one
    // Frames.fan spread turns a linear 100 TB pass into something else
    // and fails here. The fan RoundRobin is deliberate: the test corpus
    // is one row group, so without it the whole decode runs on one core
    // (identity on any already-parallel source, so at 100 TB the plan
    // has only the sort exchange again). m11/m12 need no fan: their
    // decode runs after SortBelowProjectRule's sunk sort's range exchange.
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("m10_audio_energy", "m11_png_pixel_decode",
        "m12_gif_pixel_decode", "s20_gzip_roundtrip",
        "x13_span_corruption", "x14_fim_split")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$q plans a join:\n$plan")
      assert("Window \\[".r.findAllIn(plan).isEmpty,
        s"$q plans a window:\n$plan")
      val fans = "Exchange RoundRobinPartitioning".r.findAllIn(plan).size
      assert(fans <= 1, s"$q plans more than one fan spread:\n$plan")
      assert("Exchange ".r.findAllIn(plan).size - fans <= 1,
        s"$q plans more than the final sort exchange:\n$plan")
    }
  }

  test("w10 trailing range: one user-partitioned window, no join") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("w10_trailing_range")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Window \\[".r.findAllIn(plan).size == 1, plan)
    // the Window operator renders `Window [fns], [partSpec], [ordSpec]`
    // — assert the PARTITION SPEC is user_id, not merely that the
    // column name appears somewhere in the plan (vacuously true)
    assert("Window \\[[^\\]]*\\], \\[user_id#".r
      .findFirstIn(plan).isDefined,
      s"w10 window is not partitioned by user_id:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("tc3 memorization probe: only 8-byte hashed grams ride any shuffle") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("tc3_memorization_probe")(spark, dir)
      .queryExecution.executedPlan.toString
    // grams travel as xxhash64 longs (the d12/d16 precedent) — a
    // refactor back to array_join string grams puts ~16x corpus token
    // bytes on the wire for the 16-gram spine at 100 TB
    assert(plan.contains("xxhash64"),
      s"gram spine no longer hashed:\n$plan")
    assert(!plan.contains("array_join"),
      s"string grams reintroduced on the probe spine:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tq12 logreg holdout fold: weights broadcast, no window, no cartesian") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("tq12_logreg_gate")(spark, dir)
      .queryExecution.executedPlan.toString
    // the returned frame is the holdout logit fold over the staged
    // feature table: the <=4096-row weight table must come in as a
    // BROADCAST join (never a shuffled side), the logit aggregate is a
    // map-side-combined HashAggregate pair, and nothing windows or
    // sorts at doc scale except the final presentation ORDER BY
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"weight join is not a broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }
}
